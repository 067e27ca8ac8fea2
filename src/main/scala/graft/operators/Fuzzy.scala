package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate (edit-distance) string joins — the record-linkage /
  * typo-tolerant lookup class the reference's domain hits constantly
  * (hand-keyed product descriptions and client names; its pandas code
  * can only exact-match after trim/upper — reference
  * `Manipulação de Dataframes/análise_produtos_clientes.py:78-81`).
  *
  * Method: SymSpell-style DELETION NEIGHBORHOODS as join keys. For
  * `maxEdit = 1`, two strings within Levenshtein distance 1 always
  * share a member of each other's {self} ∪ single-deletions set, so
  * an equi-join on neighborhood variants is a COMPLETE candidate
  * generator (no recall loss), and each string emits only `len + 1`
  * keys — candidate generation is linear in data size, never the
  * all-pairs cross join a naive fuzzy join degenerates to. Survivors
  * are verified with the exact `levenshtein` (codegen'd in Spark,
  * built-in in DuckDB — both the textbook DP, so the oracle agrees
  * bit-for-bit). The same hot-bucket cap as every LSH candidate join
  * bounds degenerate keys (very short/common strings), mirrored in
  * the oracle.
  */
object Fuzzy {

  /** {self} ∪ all single-character deletions, as an array Column.
    * Pure codegen'd expression (Column.substr with Column offsets —
    * no UDF).
    */
  def deletionVariants(s: Column): Column =
    array_union(
      array(s),
      transform(sequence(lit(1), greatest(length(s), lit(1))),
        i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s)))))

  /** [[deletionVariants]] extended to depth 2: {self} ∪ single
    * deletions ∪ every deletion of two distinct positions i < j —
    * `1 + |s| + |s|(|s|−1)/2` keys per string (the quadratic growth is
    * why ed≤2 is the practical ceiling for this method; SymSpell ships
    * the same cutoff). Still one codegen'd expression: the i < j pairs
    * come from a nested `transform` over ascending sequences (the
    * inner `sequence(i+1, len)` is never descending because i ≤ len−1)
    * flattened and deduped by `array_union`.
    *
    * COMPLETENESS (the property [[fuzzyPairs]] relies on, PropertySpec-
    * fuzzed): if lev(a, b) ≤ 2, some common string is reachable from
    * BOTH by ≤2 deletions. Proof: fix an optimal alignment with
    * s substitutions, d deletions (from a), n insertions; the aligned
    * matched characters form a common subsequence reachable by
    * deleting a's s + d ≤ 2 unmatched characters and b's s + n ≤ 2
    * unmatched characters.
    */
  def deletionVariants2(s: Column): Column = {
    val doubles = when(length(s) >= 2,
      flatten(transform(sequence(lit(1), length(s) - 1), i =>
        transform(sequence(i + 1, length(s)), j =>
          concat(s.substr(lit(1), i - 1),
            s.substr(i + 1, j - i - 1),
            s.substr(j + 1, length(s)))))))
      .otherwise(expr("cast(array() as array<string>)"))
    array_union(deletionVariants(s), doubles)
  }

  /** Fuzzy pairs between two frames: `(id_l, id_r, name_l, name_r,
    * dist)` for every cross-side pair with Levenshtein ≤ `maxEdit`
    * (complete for `maxEdit ∈ {1, 2}` by the deletion-neighborhood
    * property — depth-d deletion sets of strings within distance d
    * always intersect, see [[deletionVariants2]]; deeper maxEdit would
    * need cubic-and-up neighborhoods, past the method's practical
    * ceiling).
    *
    * Scale: each side explodes to `len+1` (ed1) or `~len²/2` (ed2)
    * variant keys — still linear in ROWS, never the all-pairs cross
    * join; the equi-join on the variant string is an ordinary hash
    * join; degenerate hot variants are rank-chunk split and routed
    * (`Dedup.splitBucketsWithRouting` — same contract as the LSH
    * dedup family, and the ed2 double-deletion keys are shorter and
    * hence hotter, which is exactly what the cap bounds); the verify is one
    * codegen'd levenshtein per candidate; pairs dedup at match
    * cardinality.
    */
  def fuzzyPairs(
      left: DataFrame,
      right: DataFrame,
      idL: String,
      strL: String,
      idR: String,
      strR: String,
      maxEdit: Int = 1,
      maxBucket: Int = Dedup.LshMaxBucket): DataFrame = {
    require(maxEdit == 1 || maxEdit == 2,
      "deletion-neighborhood candidates are complete only for maxEdit in {1, 2}")
    val variants: Column => Column =
      if (maxEdit == 1) deletionVariants else deletionVariants2
    def keyed(df: DataFrame, id: String, str: String, outId: String, outStr: String) =
      df.select(col(id).as(outId), col(str).as(outStr),
          explode(variants(col(str))).as("key"))
        .withColumn("band", lit(0))
    // Hot variants are rank-chunk SPLIT on the right side and the left
    // side ROUTES to one chunk per variant key (the batch×corpus
    // posture of [[Dedup.splitBucketsWithRouting]] — a left↔right
    // variant join is two different frames, so a self-join-style
    // two-sided split has no shared chunk index). Per-left-row
    // fan-out into a degenerate hot variant is bounded by the cap,
    // and — unlike the round-15 drop — every right row stays
    // reachable through its other (rarer) deletion variants AND by
    // the 1/nchunks routing odds on the hot one.
    val (r, hotR) = Dedup.splitBucketsWithRouting(
      keyed(right, idR, strR, "id_r", "name_r"), maxBucket, idCol = "id_r")
    val l = Dedup.routeToChunks(keyed(left, idL, strL, "id_l", "name_l"), hotR, "id_l")
    l.join(r, Seq("band", "key", "__sub"))
      .select(col("id_l"), col("id_r"), col("name_l"), col("name_r"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_l"), col("name_r")))
      .filter(col("dist") <= maxEdit)
  }
}
