package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Schema-tolerant cleaning utilities (SURVEY §2.2 F6-F9, §2.8 C1-C6,
  * §2.2 P6, §2.4 A14).
  *
  * The reference embeds these in its loaders
  * (`manipulacao-analise-comercial.py:519-605`); here they are pure
  * DataFrame → DataFrame functions. All of them are narrow
  * (no shuffle) except [[dropDuplicatesOrdered]], whose window shuffle
  * is on the dedup key — at 100 TB that is the same shuffle a
  * `dropDuplicates` would do, with determinism added for free.
  */
object Cleaning {

  /** F8: drop auto-generated `Unnamed*` columns (reference MAC:569). */
  def dropUnnamedColumns(df: DataFrame): DataFrame =
    df.drop(df.columns.toIndexedSeq.filter(_.startsWith("Unnamed")): _*)

  /** F9: strip pandas' `.1`/`.2` duplicate suffixes when the base name
    * is free (reference MAC:574-584).
    */
  def renameDedupSuffixes(df: DataFrame): DataFrame = {
    val suffix = """^(.*)\.\d+$""".r
    df.columns.foldLeft(df) { (d, c) =>
      c match {
        case suffix(base) if !d.columns.contains(base) => d.withColumnRenamed(c, base)
        case _ => d
      }
    }
  }

  /** P6: add expected-but-missing columns as empty strings (reference
    * MAC:990-992, MAC:1085-1088).
    */
  def addMissingColumns(df: DataFrame, expected: Seq[String]): DataFrame =
    expected.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit("")))

  /** C1: parse dates with `errors='coerce'` semantics — unparseable →
    * null (reference APC:261, MAC:270). `to_date` already nulls on
    * failure under the default ANSI-off policy.
    */
  def toDateCoerce(df: DataFrame, cols: Seq[String], fmt: Option[String] = None): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, fmt.fold(expr(s"try_to_date(`$c`)"))(f => expr(s"try_to_date(`$c`, '$f')"))))

  /** Excel serial-date coercion — the companion to [[graft.sources.Xlsx.read]]'s
    * all-string contract ([[graft.sources.Xlsx]]): Excel stores dates
    * as day counts from its 1899-12-30 epoch (the famous off-by-one
    * from the nonexistent 1900-02-29 is baked into that origin), so a
    * date cell arrives as e.g. "44927". Coerce-semantics like C1/C2:
    * non-numeric or out-of-range (pre-1900 / past 9999) → null rather
    * than a garbage date; fractional serials (date+time) truncate to
    * the day, matching `pd.read_excel(...).dt.date`.
    *
    * Serials 1-59 (Jan-Feb 1900) get +1 day, exactly as openpyxl's
    * `from_excel` does, because Excel's day count pretends 1900-02-29
    * existed: below serial 60 the 1899-12-30 origin alone lands one
    * day early (serial 1 must read 1900-01-01, not 1899-12-31). The
    * phantom serial 60 itself collapses to 1900-02-28 — the only
    * serial with no real calendar date, shared divergence across
    * every reader. (Round-10 ADVICE fix; ExcelDateSpec pins serials
    * 1, 59, 60, 61.)
    */
  def excelSerialDate(c: Column): Column = {
    val serial = when(
      c.cast("string").rlike("^[0-9]+(\\.[0-9]+)?$"), c.cast("double"))
    val days = floor(serial).cast("int") +
      when(serial < 60, lit(1)).otherwise(lit(0))
    when(serial.isNotNull && serial >= 1 && serial <= 2958465, // 9999-12-31
      date_add(lit(java.sql.Date.valueOf("1899-12-30")), days))
      .otherwise(lit(null).cast("date"))
  }

  /** C3: numeric coercion — bad input → null (reference APC:100).
    * `try_cast` keeps coerce semantics under Spark 4's ANSI-on default.
    */
  def toNumericCoerce(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, expr(s"try_cast(`$c` AS DOUBLE)")))

  /** C4: validity check — count of non-null values that do NOT parse as
    * numeric (reference MAC:540-543 uses errors='raise' as a probe).
    */
  def nonNumericCount(df: DataFrame, c: String): Long =
    df.filter(col(c).isNotNull && expr(s"try_cast(`$c` AS DOUBLE)").isNull).count()

  /** F6: drop rows where ALL of the essential columns are null
    * (reference MAC:590).
    */
  def dropAllNull(df: DataFrame, essential: Seq[String]): DataFrame =
    df.na.drop("all", essential)

  /** C6: fill numeric defaults (reference MAC:593-597 fillna(0)). */
  def fillZeros(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.fill(0.0, cols)

  /** F7: drop duplicates on a key, keeping the FIRST row in an explicit
    * order — pandas keeps first in frame order (reference MAC:604-605,
    * APC:109); Spark's `dropDuplicates` keeps an arbitrary row, so the
    * order must be spelled out (SURVEY §7 hard-part 1).
    */
  def dropDuplicatesOrdered(df: DataFrame, key: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Forward-fill (`pandas.ffill` per group): replace nulls in `cols`
    * with the last non-null value seen earlier in `order` within the
    * same `key` partition — the gap-carrying step time-series feature
    * prep leans on (the reference's pandas workflow gets it for free
    * from frame order; distributed, the order MUST be explicit or the
    * fill is nondeterministic). Backward-fill is the same call with
    * the order reversed.
    *
    * Scale: one `last(ignoreNulls)` running window per column, all
    * sharing one keyed window spec — a single shuffle on the key,
    * linear per-key walk, state = one value per filled column. Same
    * shape as [[Asof]]'s carry-forward, here exposed as the hygiene
    * primitive.
    */
  def fillForward(
      df: DataFrame,
      key: Seq[String],
      order: Seq[Column],
      cols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Join-key normalization (SURVEY §7 hard-part 5): the reference's
    * dimension carries keys with trailing whitespace
    * (`'CEBD01035-00 '` — `Classificação Produtos (3).xlsx`), which
    * silently breaks equi-joins. Trim at load, join on the normalized
    * key.
    */
  def normalizeKeys(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, trim(col(c))))

  /** Accent folding for Portuguese text keys/names — a fixed
    * `translate` table (codegen'd, engine-portable: DuckDB reproduces
    * it with the same `translate` call, unlike locale-dependent
    * collators).
    */
  private val accented = "áàâãäéèêëíìîïóòôõöúùûüçñÁÀÂÃÄÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇÑ"
  private val plain = "aaaaaeeeeiiiiooooouuuucnAAAAAEEEEIIIIOOOOOUUUUCN"
  def stripAccents(c: Column): Column = translate(c, accented, plain)

  /** A14 + diagnostics: one-row report with row count and per-column
    * null counts (reference `diagnosticar_dados` MAC:519-557).
    * Single aggregate pass — no per-column jobs.
    */
  def diagnose(df: DataFrame, cols: Seq[String]): DataFrame = {
    val nullCounts = cols.map(c =>
      sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
    df.agg(count(lit(1)).as("n_rows"), nullCounts: _*)
  }

  /** Tukey IQR outlier filter: keep rows whose `valueCol` lies within
    * `[q1 - k*iqr, q3 + k*iqr]` of their group — the standard robust
    * trim before aggregating noisy numeric columns (z-scores need a
    * mean/stddev the outliers themselves corrupt; quartiles don't).
    *
    * The quartiles are EXACT `percentile_disc` (actual data values, no
    * interpolation), so the fence arithmetic is a handful of IEEE ops
    * on values both engines read identically from parquet — fully
    * oracle-able, unlike stddev-based trims whose sums are
    * float-order-dependent. Two passes by nature (a fence needs the
    * distribution): one group-cardinality quartile aggregate —
    * per-group sort of the group's values, the documented
    * `percentile_disc` cost; sketch fences via `percentile_approx`
    * the same way at the 100 TB tier — then one filtered scan with
    * the fences broadcast back. Null VALUES never pass the fence
    * comparison and are dropped (pre-clean with `fillZero`/`coerceNumeric`
    * first if they should survive); null GROUP KEYS
    * are a real group — the fence join is null-safe (`<=>`), so
    * null-keyed inliers survive like any others.
    */
  def iqrFilter(
      df: DataFrame,
      valueCol: String,
      byCols: Seq[String],
      k: Double = 1.5): DataFrame =
    withIqrFences(df, valueCol, byCols, k)
      .filter(col(valueCol) >= col("__lo") && col(valueCol) <= col("__hi"))
      .drop("__lo", "__hi")

  /** Winsorize instead of trim: values outside the same Tukey fences
    * as [[iqrFilter]] are CLAMPED to the fence, so every row survives
    * with its other columns intact — the variant to reach for when
    * downstream needs a constant row count (feature matrices, paired
    * metrics) and an extreme value should saturate rather than delete
    * the record. Same fences, same two-pass cost, same null-key
    * semantics; null values stay null (clamping has nothing to clamp).
    */
  def iqrClamp(
      df: DataFrame,
      valueCol: String,
      byCols: Seq[String],
      k: Double = 1.5): DataFrame = {
    // Spark's greatest/least SKIP nulls (null only when all inputs
    // are), so the bare clamp would rewrite a null value as the lower
    // fence — fabricated data; the explicit guard keeps nulls null.
    // The cast keeps the column's declared type: fence arithmetic
    // promotes to double, and a drop-in twin of iqrFilter must not
    // drift the schema. For INTEGRAL columns the fences themselves
    // are snapped inward first (ceil(lo), floor(hi)) — a bare
    // double→int cast truncates toward zero, so a value clamped to a
    // fractional fence could land strictly OUTSIDE the fence and
    // disagree with iqrFilter at the boundary. An integer v satisfies
    // lo <= v <= hi iff ceil(lo) <= v <= floor(hi), so the snapped
    // clamp agrees with iqrFilter exactly (and the interval is never
    // empty: q1/q3 are integral data values inside both fences). For
    // decimal columns the cast rounds HALF_UP at the column's scale.
    val origType = df.schema(valueCol).dataType
    val integral = origType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val lo = if (integral) ceil(col("__lo")) else col("__lo")
    val hi = if (integral) floor(col("__hi")) else col("__hi")
    withIqrFences(df, valueCol, byCols, k)
      .withColumn(valueCol,
        when(col(valueCol).isNull, lit(null))
          .otherwise(least(greatest(col(valueCol), lo), hi))
          .cast(origType))
      .drop("__lo", "__hi")
  }

  /** Equal-frequency (quantile) binning — the `pd.qcut` shape for
    * feature discretization: adds `bucketCol` in 1..nBuckets from the
    * group's own distribution. Cut points are EXACT `percentile_disc`
    * data values at i/nBuckets, broadcast back, and assignment is
    * pure codegen'd comparison: `1 + Σ (value > cut_i)` — a row
    * lands above exactly the cuts it exceeds.
    *
    * Deliberate contract difference from pandas qcut, documented
    * rather than hidden: assignment is BY VALUE, not by rank, so
    * ties at a cut all land in the lower bucket together (pandas
    * splits positionally, which no distributed engine can reproduce
    * without a global total order). Buckets are therefore
    * approximately equal-frequency with all equal values
    * co-bucketed — the property feature pipelines actually need.
    * Same two-pass cost and null-safe group join as [[iqrFilter]];
    * null values get a null bucket.
    */
  def quantileBuckets(
      df: DataFrame,
      valueCol: String,
      byCols: Seq[String],
      nBuckets: Int,
      bucketCol: String = "bucket"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val cutNames = (1 until nBuckets).map(i => s"__c$i")
    val cutAggs = (1 until nBuckets).map { i =>
      val p = i.toDouble / nBuckets
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $valueCol)").as(s"__c$i")
    }
    val cuts = if (byCols.isEmpty) df.agg(cutAggs.head, cutAggs.tail: _*)
               else df.groupBy(byCols.map(col): _*).agg(cutAggs.head, cutAggs.tail: _*)
    joinGroupStats(df, cuts, byCols)
      .withColumn(bucketCol,
        when(col(valueCol).isNull, lit(null).cast("int"))
          .otherwise(cutNames.foldLeft(lit(1)) { (acc, c) =>
            acc + (col(valueCol) > col(c)).cast("int")
          }))
      .drop(cutNames: _*)
  }

  /** Shared fence computation for [[iqrFilter]]/[[iqrClamp]]: the
    * input frame with `__lo`/`__hi` fence columns attached per group.
    */
  private def withIqrFences(
      df: DataFrame,
      valueCol: String,
      byCols: Seq[String],
      k: Double): DataFrame = {
    val q1c = expr(s"percentile_disc(0.25) WITHIN GROUP (ORDER BY $valueCol)").as("__q1")
    val q3c = expr(s"percentile_disc(0.75) WITHIN GROUP (ORDER BY $valueCol)").as("__q3")
    val fences = (if (byCols.isEmpty) df.agg(q1c, q3c)
                  else df.groupBy(byCols.map(col): _*).agg(q1c, q3c))
      .select(byCols.map(col) ++ Seq(
        (col("__q1") - lit(k) * (col("__q3") - col("__q1"))).as("__lo"),
        (col("__q3") + lit(k) * (col("__q3") - col("__q1"))).as("__hi")): _*)
    joinGroupStats(df, fences, byCols)
  }

  /** Median/MAD robust outlier trim: keep rows with
    * `|v − median| ≤ k·MAD` of their group — the robust z-score
    * analog of [[iqrFilter]] for heavy-tailed data. MAD has a 50%
    * breakdown point where a stddev-based z-score is corrupted by the
    * very outliers it hunts — and, decisively for this engine's
    * oracle contract, median and MAD are exact `percentile_disc`
    * DATA VALUES: the keep test is a handful of IEEE ops on values
    * both engines read identically from parquet, where stddev's float
    * sum is accumulation-order-dependent and can never hash-match.
    * (Fold the 1.4826 normal-consistency factor into `k` if σ-units
    * matter; the default k=3 is the classic "3 robust sigmas" scale.)
    *
    * Cost: two group-cardinality exact-percentile aggregates — the
    * second over `|v − med|`, which by MAD's definition needs the
    * first joined back — plus one filtered scan, every stats frame
    * broadcast (the [[iqrFilter]] posture with one extra pass that is
    * intrinsic, not accidental). At the 100 TB tier both aggregates
    * sketch via `percentile_approx` the same way. Null values never
    * pass the comparison and drop; null group keys are real groups
    * (null-safe stat joins). A degenerate group (>50% identical
    * values ⇒ MAD = 0) keeps only rows exactly at the median — the
    * textbook MAD behavior, documented rather than patched.
    */
  def madFilter(
      df: DataFrame,
      valueCol: String,
      byCols: Seq[String],
      k: Double = 3.0,
      approx: Boolean = false): DataFrame = {
    // The sketch twin (`approx = true`) swaps both exact percentiles
    // for mergeable `percentile_approx` sketches — map-side partials,
    // one sketch per partition on the shuffle, no per-group sort: the
    // 100 TB route (the a15 exact/approx split). Sketch medians are
    // engine-specific, so the approx path is rows-only at the oracle.
    def medianOf(c: String): org.apache.spark.sql.Column =
      if (approx) expr(s"percentile_approx($c, 0.5, 10000)")
      else expr(s"percentile_disc(0.5) WITHIN GROUP (ORDER BY $c)")
    val meds = if (byCols.isEmpty) df.agg(medianOf(valueCol).as("__med"))
               else df.groupBy(byCols.map(col): _*).agg(medianOf(valueCol).as("__med"))
    val withDev = joinGroupStats(df, meds, byCols)
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
    val mads = if (byCols.isEmpty) withDev.agg(medianOf("__dev").as("__mad"))
               else withDev.groupBy(byCols.map(col): _*).agg(medianOf("__dev").as("__mad"))
    joinGroupStats(withDev, mads, byCols)
      .filter(col("__dev") <= lit(k) * col("__mad"))
      .drop("__med", "__dev", "__mad")
  }

  /** Broadcast a tiny per-group statistics frame back onto its source:
    * the shared join-back for [[withIqrFences]]/[[quantileBuckets]]
    * (and any future group-stat operator). NULL-SAFE on the group
    * keys (`<=>`): the groupBy that built `stats` computed a row for
    * the null-key group, and a plain USING join would silently drop
    * every null-keyed source row — data loss masquerading as
    * cleaning. With empty `byCols`, `stats` is one global row and the
    * join is a broadcast crossJoin.
    */
  private def joinGroupStats(
      df: DataFrame,
      stats: DataFrame,
      byCols: Seq[String],
      broadcastStats: Boolean = true): DataFrame =
    if (byCols.isEmpty) df.crossJoin(broadcast(stats))
    else {
      val sr = byCols.foldLeft(stats)((acc, c) => acc.withColumnRenamed(c, s"__k_$c"))
      val cond = byCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
      val rhs = if (broadcastStats) broadcast(sr) else sr
      df.join(rhs, cond).drop(byCols.map(c => s"__k_$c"): _*)
    }

  /** k-ANONYMITY audit over a quasi-identifier column set — the
    * release-readiness check beside PII redaction (a training corpus
    * published with per-doc metadata re-identifies individuals when
    * a quasi-identifier combination isolates fewer than k rows —
    * Sweeney 2002; k = 10 is the common disclosure-review floor).
    * One aggregate at equivalence-class cardinality, then a 1-row
    * summary: class count, classes under k, rows at risk (the rows
    * a suppress-or-generalize pass must touch), and the minimum
    * class size (the table's ACTUAL k-anonymity level). Null
    * quasi-identifier values form their own class (groupBy
    * semantics) — null is a value to a linkage attacker.
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(
        count(lit(1)).cast("bigint").as("n_classes"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).cast("bigint")
          .as("n_small_classes"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L)).cast("bigint")
          .as("n_rows_at_risk"),
        min(col("__n")).cast("bigint").as("k_actual"))
  }

  /** The [[kAnonymityAudit]] FIX: suppress the quasi-identifier
    * values of every row in an under-k equivalence class (all
    * `quasiCols` of the row replace with `masked` — full-tuple
    * suppression, the conservative generalization). The suppressed
    * rows then share ONE class, so the output is k-anonymous
    * whenever (rows at risk) ≥ k or (rows at risk) = 0 — the one
    * residual case (0 < at-risk < k suppressed rows forming their
    * own small class) is the caller's drop-or-widen decision and is
    * exactly what re-running the audit surfaces. Implementation is
    * the IQR-fences shape: the class-size aggregate joins back
    * null-safe on the quasi columns (`joinGroupStats` — a plain
    * USING join would silently pass every null-keyed row
    * unsuppressed), then a per-row conditional projection; no
    * second pass, no window.
    */
  def kAnonymize(
      df: DataFrame,
      quasiCols: Seq[String],
      k: Int,
      masked: String = "*"): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 2, s"k must be >= 2, got $k")
    val sizes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__class_n"))
    // NOT broadcast (unlike the bounded-stats callers above): the
    // class-size frame's cardinality is the distinct quasi-identifier
    // tuple count, which approaches ROW count exactly for the
    // high-cardinality QIs a k-anonymization pass targets — a forced
    // broadcast would OOM on the inputs this operator exists for. A
    // plain shuffle join on the (null-safe) quasi key is the honest
    // scale shape; AQE still broadcasts it when it measures small.
    val joined = joinGroupStats(df, sizes, quasiCols, broadcastStats = false)
    quasiCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(c,
        when(col("__class_n") < k, lit(masked)).otherwise(col(c)))
    }.drop("__class_n")
  }
}
