package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class CleaningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dropUnnamedColumns removes pandas artifact columns (F8)") {
    val df = Seq((1, "a", "x")).toDF("id", "Unnamed: 0", "v")
    assert(Cleaning.dropUnnamedColumns(df).columns.toSeq == Seq("id", "v"))
  }

  test("renameDedupSuffixes strips .N when base name is free (F9)") {
    val df = Seq((1, 2, 3)).toDF("a", "b.1", "a.1")
    // b.1 -> b (free); a.1 stays (a exists)
    assert(Cleaning.renameDedupSuffixes(df).columns.toSeq == Seq("a", "b", "a.1"))
  }

  test("addMissingColumns fills absent expected columns with '' (P6)") {
    val df = Seq((1, "x")).toDF("a", "b")
    val out = Cleaning.addMissingColumns(df, Seq("b", "c"))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.select("c").as[String].head() == "")
  }

  test("toDateCoerce nulls unparseable input (C1)") {
    val df = Seq("1996-03-05", "not a date", "").toDF("d")
    val out = Cleaning.toDateCoerce(df, Seq("d")).select("d").collect()
    assert(out.map(r => Option(r.get(0)).map(_.toString)).toSeq ==
      Seq(Some("1996-03-05"), None, None))
  }

  test("toNumericCoerce nulls bad numbers; nonNumericCount counts them (C3/C4)") {
    val df = Seq("1.5", "abc", "2").toDF("v")
    assert(Cleaning.nonNumericCount(df, "v") == 1)
    val out = Cleaning.toNumericCoerce(df, Seq("v")).as[Option[Double]].collect().toSeq
    assert(out == Seq(Some(1.5), None, Some(2.0)))
  }

  test("dropDuplicatesOrdered keeps first row by explicit order (F7)") {
    val df = Seq(("k", 2, "second"), ("k", 1, "first"), ("j", 9, "only"))
      .toDF("key", "ord", "val")
    val out = Cleaning.dropDuplicatesOrdered(df, Seq("key"), Seq(col("ord")))
      .select("key", "val").as[(String, String)].collect().toMap
    assert(out == Map("k" -> "first", "j" -> "only"))
  }

  test("diagnose reports row count and per-column nulls in one pass (A14)") {
    val df = Seq((Some(1), Option.empty[String]), (None, Some("x")), (Some(3), None))
      .toDF("a", "b")
    val r = Cleaning.diagnose(df, Seq("a", "b")).collect()(0)
    assert(r.getLong(0) == 3 && r.getLong(1) == 1 && r.getLong(2) == 2)
  }
}

class HistorySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def enriched = Seq(
    ("S1", "P1", "C1", "1996-02-01", 101L, 0.5, null.asInstanceOf[String], "ana"),
    ("S1", "P1", "C1", "1996-01-01", 100L, 0.2, "price", "bob"),
    ("S1", "P1", "C1", "1996-03-01", 102L, 0.9, "stock", "cat"),
    ("S2", "P2", "C2", "1996-01-15", 200L, 0.1, null.asInstanceOf[String], "dan"))
    .toDF("subgrupo", "codigo_produto", "cliente", "dt_s", "rid", "prob_fech",
      "motivo_nao_venda", "consultor_interno")
    .withColumn("dt_entrada", to_date(col("dt_s")))

  test("historico collects per-group lists ordered by date (A9)") {
    val h = History.historico(enriched).filter($"cliente" === "C1").collect()(0)
    assert(h.getAs[scala.collection.Seq[String]]("datas_entrada").toSeq ==
      Seq("01/01/1996", "01/02/1996", "01/03/1996"))
    assert(h.getAs[scala.collection.Seq[Double]]("probs_fech").toSeq == Seq(0.2, 0.5, 0.9))
    assert(h.getAs[scala.collection.Seq[String]]("motivos_nao_venda").toSeq ==
      Seq("price", "", "stock"))
    assert(h.getAs[String]("ultima_data") == "01/03/1996")
    assert(h.getAs[String]("ultimo_consultor") == "cat")
    assert(h.getAs[Long]("n_propostas") == 3)
  }

  test("historicoCapped bounds the lists, keeps exact totals and argmax (A9 fallback)") {
    val h = History.historicoCapped(enriched, maxN = 2)
      .filter($"cliente" === "C1").collect()(0)
    // first-2 of the total order only
    assert(h.getAs[scala.collection.Seq[String]]("datas_entrada").toSeq ==
      Seq("01/01/1996", "01/02/1996"))
    assert(h.getAs[scala.collection.Seq[Double]]("probs_fech").toSeq == Seq(0.2, 0.5))
    // exact group size, overflow, and UNCAPPED argmax
    assert(h.getAs[Long]("n_propostas") == 3)
    assert(h.getAs[Long]("n_overflow") == 1)
    assert(h.getAs[String]("ultima_data") == "01/03/1996")
    assert(h.getAs[String]("ultimo_consultor") == "cat")

    // a cap larger than every group degenerates to the uncapped operator
    val capped = History.historicoCapped(enriched, maxN = 100)
      .drop("n_overflow").orderBy("cliente").collect().toSeq.map(_.toString)
    val full = History.historico(enriched).orderBy("cliente").collect().toSeq.map(_.toString)
    assert(capped == full)
  }

  test("collapseIfUniform collapses single-valued lists, joins mixed (A10)") {
    val df = Seq((Seq("a", "a"), Seq("x", "y"))).toDF("uni", "mix")
    val r = df.select(
      History.collapseIfUniform("uni").as("u"),
      History.collapseIfUniform("mix").as("m")).as[(String, String)].head()
    assert(r == ("a", "x, y"))
  }
}

class PendentesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("unionSemanas filters, tags, unions by name; skips status-less files (S5/U1/F1/P5)") {
    val w0 = Seq(("PENDENTE", 10.0), ("GANHO", 5.0)).toDF("status_processo", "valor_proposta")
    val w1 = Seq(("PENDENTE", 20.0)).toDF("status_processo", "valor_proposta")
    val broken = Seq(1).toDF("other")
    val out = Pendentes.unionSemanas(
      Seq("Semana Atual" -> w0, "Semana -1" -> w1, "Semana -2" -> broken))
    assert(out.count() == 2)
    assert(out.select("semana").distinct().as[String].collect().toSet ==
      Set("Semana Atual", "Semana -1"))
    val m = Pendentes.metrics(out).collect()(0)
    assert(m.getLong(0) == 2 && m.getLong(1) == 2 && m.getDouble(2) == 30.0)
  }

  test("unionSemanas tolerates ragged schemas across weeks (U1)") {
    val w0 = Seq(("PENDENTE", 1.0, "x")).toDF("status_processo", "valor_proposta", "extra")
    val w1 = Seq(("PENDENTE", 2.0)).toDF("status_processo", "valor_proposta")
    val out = Pendentes.unionSemanas(Seq("a" -> w0, "b" -> w1))
    assert(out.count() == 2 && out.columns.contains("extra"))
  }
}

class ViewsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df = Seq(("n1", "g1", 1), ("n1", "g2", 2), ("n2", "g1", 3))
    .toDF("negocio", "grupo", "v")

  test("filtrar applies equality predicates, 'Todos' skips (F3)") {
    assert(Views.filtrar(df, Map("negocio" -> "n1", "grupo" -> "Todos")).count() == 2)
    assert(Views.filtrar(df, Map("negocio" -> "n1", "grupo" -> "g2")).count() == 1)
    assert(Views.filtrar(df, Map("negocio" -> "Todos")).count() == 3)
  }

  test("paginar returns the requested page in total order (O4)") {
    val page2 = Views.paginar(df, page = 2, perPage = 2, order = Seq(col("v").asc))
      .select("v").as[Int].collect().toSeq
    assert(page2 == Seq(3))
  }

  test("formatCurrency/formatPercent render like the reference (C7/C8)") {
    val r = Seq((1234567.891, 12.345)).toDF("m", "p")
      .select(Views.formatCurrency(col("m")), Views.formatPercent(col("p")))
      .as[(String, String)].head()
    assert(r == ("R$ 1,234,567.89", "12.35%"))
    val n = Seq((Option.empty[Double], Option.empty[Double])).toDF("m", "p")
      .select(Views.formatCurrency(col("m")), Views.formatPercent(col("p")))
      .as[(String, String)].head()
    assert(n == ("", ""))
  }

  test("sqlOn registers a temp view and runs SQL (exec() replacement)") {
    val out = Views.sqlOn(spark, df, "t", "SELECT negocio, SUM(v) AS s FROM t GROUP BY negocio")
    assert(out.count() == 2)
  }
}

class AsofSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("asofJoin: latest right at-or-before left ts per key, null when none") {
    val left = Seq((1L, 10L, "l10"), (1L, 5L, "l5"), (1L, 3L, "l3"), (2L, 7L, "l7"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, 4L, "r4"), (1L, 9L, "r9"), (1L, 11L, "r11"), (3L, 1L, "r1"))
      .toDF("k", "rts", "rv")
    val out = Asof.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("rv"))
      .select("tag", "rv").as[(String, Option[String])].collect().toMap
    assert(out == Map(
      "l10" -> Some("r9"), // 9 <= 10, not 11
      "l5" -> Some("r4"),
      "l3" -> None,        // nothing at or before 3
      "l7" -> None))       // key 2 has no right rows at all
  }

  test("asofJoin: right row AT the left ts wins (inclusive tie)") {
    val left = Seq((1L, 5L)).toDF("k", "ts")
    val right = Seq((1L, 5L, "exact"), (1L, 2L, "older")).toDF("k", "rts", "rv")
    val got = Asof.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("rv"))
      .select("rv").as[String].head()
    assert(got == "exact")
  }

  test("asofJoin carries the latest right ROW atomically when value columns are null") {
    // Per-column ignoreNulls carries would stitch (rts=2's timestamp,
    // rts=1's value) — a composite row that never existed. The latest
    // right row must win wholesale, nulls included.
    val left = Seq((1L, 3L)).toDF("k", "ts")
    val right = Seq((1L, 1L, Option(10.0)), (1L, 2L, Option.empty[Double]))
      .toDF("k", "rts", "rv")
      .select(col("k"), col("rts"), col("rts").as("matched_ts"), col("rv"))
    val got = Asof.asofJoin(left, right, Seq("k"), "ts", "rts", Seq("matched_ts", "rv"))
      .select("matched_ts", "rv").as[(Option[Long], Option[Double])].head()
    assert(got == ((Some(2L), None)), s"latest right row must win atomically, got $got")
  }

  test("asofJoin: rejects right value columns that collide with left names") {
    val df = Seq((1L, 1L)).toDF("k", "ts")
    val e = intercept[IllegalArgumentException] {
      Asof.asofJoin(df, df.withColumnRenamed("ts", "rts").withColumn("k2", col("k")),
        Seq("k"), "ts", "rts", Seq("k"))
    }
    assert(e.getMessage.contains("collide"))
  }
}

class RangeJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pointInInterval: inclusive bounds, bucket-crossing intervals, no dup pairs") {
    val pts = Seq((1L, 10L), (2L, 25L), (3L, 99L)).toDF("pid", "ts")
    // [10,20] hits pt 10 (lower bound inclusive); [5,25] spans three
    // 10-wide buckets and hits both 10 and 25 (upper bound inclusive);
    // [40,50] hits nothing.
    val ivs = Seq((100L, 10L, 20L), (200L, 5L, 25L), (300L, 40L, 50L)).toDF("iid", "lo", "hi")
    val out = RangeJoin.pointInInterval(pts, "ts", ivs, "lo", "hi", bucketWidth = 10L)
      .select("pid", "iid").as[(Long, Long)].collect().toSeq
    assert(out.size == out.distinct.size, "bucketization must not duplicate pairs")
    assert(out.toSet == Set((1L, 100L), (1L, 200L), (2L, 200L)))
  }

  test("pointInInterval rejects colliding column names") {
    val df = Seq((1L, 2L)).toDF("ts", "lo")
    val e = intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(df, "ts", df.withColumnRenamed("ts", "hi"), "lo", "hi", 10L)
    }
    assert(e.getMessage.contains("collide"))
  }

  test("intervalOverlap: exactly-once across shared buckets, inclusive overlap test") {
    // [5,35] × [25,45] overlap on [25,35], sharing buckets 2 and 3 —
    // the canonical-bucket rule must emit the pair ONCE. [0,9] × [9,12]
    // touch only at the boundary point 9 (closed intervals: a match).
    // [50,60] overlaps nothing on the other side.
    val l = Seq((1L, 5L, 35L), (2L, 0L, 9L), (3L, 50L, 60L)).toDF("lid", "l_lo", "l_hi")
    val r = Seq((100L, 25L, 45L), (200L, 9L, 12L)).toDF("rid", "r_lo", "r_hi")
    val out = RangeJoin.intervalOverlap(l, "l_lo", "l_hi", r, "r_lo", "r_hi", bucketWidth = 10L)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(out.size == out.distinct.size, "canonical bucket must dedupe multi-bucket pairs")
    assert(out.toSet == Set((1L, 100L), (2L, 200L), (1L, 200L)))
    // (1,200): [5,35] × [9,12] overlap on [9,12] — also exactly once.
  }
}

class CompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact merges small files and preserves the data exactly") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_compact_test"
    val rows = (1L to 1000L).map(i => (i, s"row_$i"))
    rows.toDF("id", "s").repartition(16).write.mode("overwrite").parquet(dir)
    val (before, after) = graft.sources.Sink.compact(spark, dir)
    assert(before == 16, s"expected 16 input files, saw $before")
    assert(after < before, s"compaction must reduce file count: $before -> $after")
    val back = spark.read.parquet(dir).as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == rows, "compaction must not change the data")
  }
}

class FfillSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("fillForward carries last non-null per key in order; leading nulls stay null") {
    val df = Seq(
      (1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, None), (1L, 4L, Some(7.0)), (1L, 5L, None),
      (2L, 1L, None), (2L, 2L, Some(3.0)),
      (3L, 1L, None)).toDF("k", "o", "v")
    val out = graft.operators.Cleaning.fillForward(df, Seq("k"), Seq(col("o")), Seq("v"))
      .select($"k", $"o", $"v").as[(Long, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == Some(10.0) && out((1L, 3L)) == Some(10.0))
    assert(out((1L, 4L)) == Some(7.0) && out((1L, 5L)) == Some(7.0))
    assert(out((2L, 1L)) == None, "no earlier value -> stays null")
    assert(out((3L, 1L)) == None)
  }

  test("backward-fill is fillForward on the reversed order") {
    val df = Seq((1L, 1L, None), (1L, 2L, Some(5.0)), (1L, 3L, None))
      .toDF("k", "o", "v")
    val out = graft.operators.Cleaning.fillForward(df, Seq("k"), Seq(col("o").desc), Seq("v"))
      .select($"o", $"v").as[(Long, Option[Double])].collect().toMap
    assert(out(1L) == Some(5.0) && out(3L) == None)
  }
}

class FuzzySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("deletionVariants: self plus each single deletion, deduped") {
    val out = Seq("abca").toDF("s")
      .select(graft.operators.Fuzzy.deletionVariants(col("s")))
      .as[Seq[String]].head().toSet
    assert(out == Set("abca", "bca", "aca", "abc", "aba"))
  }

  test("fuzzyPairs finds deletion, insertion, AND substitution typos at ed=1, not ed=2") {
    val left = Seq((1L, "gearbox"), (2L, "piston"), (3L, "valve")).toDF("id", "name")
    val right = Seq(
      (10L, "gearbx"),   // deletion      -> matches 1
      (11L, "pistton"),  // insertion     -> matches 2
      (12L, "velve"),    // substitution  -> matches 3
      (13L, "vvvve"),    // ed=2 from valve -> no match
      (14L, "gearbox")   // identical     -> matches 1 at dist 0
    ).toDF("id", "name")
    val pairs = graft.operators.Fuzzy.fuzzyPairs(left, right, "id", "name", "id", "name")
      .select($"id_l", $"id_r", $"dist").as[(Long, Long, Int)].collect().toSet
    assert(pairs == Set((1L, 10L, 1), (2L, 11L, 1), (3L, 12L, 1), (1L, 14L, 0)))
  }
}

class UpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("upsertMerge: higher version wins, updates beat base on ties, inserts appear") {
    val base = Seq(
      (1L, "a", 5), (2L, "b", 5), (3L, "c", 5)).toDF("k", "v", "version")
    val upd = Seq(
      (1L, "a2", 6),   // newer -> wins
      (2L, "b2", 5),   // same version -> update side wins
      (3L, "c2", 4),   // OLDER update -> base survives
      (4L, "d", 1)     // pure insert
    ).toDF("k", "v", "version")
    val out = graft.operators.Pendentes.upsertMerge(base, upd, Seq("k"), "version")
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a2", 2L -> "b2", 3L -> "c", 4L -> "d"))
  }

  private def scd2Rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"k", $"v", $"valid_from", $"valid_to")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet

  test("scd2Merge: closes the open row, chains new versions, passes closed history through") {
    val base = Seq(
      (1L, "a0", 0L, Some(10L)),  // closed history — must pass through verbatim
      (1L, "a1", 10L, None),      // open row — closed by the first newer version
      (2L, "b0", 0L, None)        // untouched key — verbatim
    ).toDF("k", "v", "valid_from", "valid_to")
    val upd = Seq((1L, "a2", 20L), (1L, "a3", 30L)).toDF("k", "v", "ts")
    val out = scd2Rows(graft.operators.Pendentes.scd2Merge(base, upd, Seq("k"), "ts"))
    assert(out == Set(
      (1L, "a0", 0L, 10L), (1L, "a1", 10L, 20L),
      (1L, "a2", 20L, 30L), (1L, "a3", 30L, -1L),
      (2L, "b0", 0L, -1L)))
  }

  test("scd2Merge replay is a no-op (idempotent), and a late version slots into the chain") {
    val base = Seq((1L, "a0", 10L, Option.empty[Long]))
      .toDF("k", "v", "valid_from", "valid_to")
    val upd = Seq((1L, "a1", 30L), (1L, "late", 5L)).toDF("k", "v", "ts")
    val once = graft.operators.Pendentes.scd2Merge(base, upd, Seq("k"), "ts")
    // Late version (ts 5) slots BEFORE the open row: 5→10→30.
    assert(scd2Rows(once) == Set(
      (1L, "late", 5L, 10L), (1L, "a0", 10L, 30L), (1L, "a1", 30L, -1L)))
    val twice = graft.operators.Pendentes.scd2Merge(once, upd, Seq("k"), "ts")
    assert(scd2Rows(twice) == scd2Rows(once), "replaying the same batch changed the table")
  }

  test("scd2Merge dedupes in-batch duplicates on (key, ts) deterministically") {
    val base = Seq((1L, "a0", 0L, Option.empty[Long]))
      .toDF("k", "v", "valid_from", "valid_to")
    val upd = Seq((1L, "x1", 10L), (1L, "x9", 10L)).toDF("k", "v", "ts")
    val out = scd2Rows(graft.operators.Pendentes.scd2Merge(base, upd, Seq("k"), "ts"))
    // Greatest payload struct wins the tie: "x9" > "x1".
    assert(out == Set((1L, "a0", 0L, 10L), (1L, "x9", 10L, -1L)))
  }
}

class MomentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exact-moments Pearson r agrees with Spark's corr() within quantization error") {
    // a19's machinery on a small frame vs the float-accumulator corr:
    // values quantize to cents/bps first, so agreement is to ~1e-4
    // (quantization), far inside which the formula must land.
    val df = (1 to 500).map { i =>
      val x = (i % 37) / 37.0
      val y = 0.6 * x + math.sin(i.toDouble) * 0.2
      ("g" + (i % 3), x, y)
    }.toDF("g", "x", "y")
    val native = df.groupBy($"g")
      .agg(org.apache.spark.sql.functions.corr($"x", $"y").as("r"))
      .as[(String, Double)].collect().toMap
    val xq = floor($"x" * 10000 + lit(0.5)).cast("long")
    val yq = floor($"y" * 10000 + lit(0.5)).cast("long")
    val d38 = "decimal(38,0)"
    val exact = df.select($"g", xq.as("x"), yq.as("y"))
      .groupBy($"g")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast(d38)).as("sx"), sum($"y".cast(d38)).as("sy"),
        sum(($"x" * $"y").cast(d38)).as("sxy"),
        sum(($"x" * $"x").cast(d38)).as("sxx"),
        sum(($"y" * $"y").cast(d38)).as("syy"))
      .select($"g",
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
            sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double")))).as("r"))
      .as[(String, Double)].collect().toMap
    for ((g, r) <- native)
      assert(math.abs(exact(g) - r) < 1e-4, s"$g: exact=${exact(g)} native=$r")
  }
}

class NegativesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("inBatchNegatives: k partners per anchor, ring wrap, no self-pairs, deterministic") {
    val df = (1L to 40L).toDF("doc_id")
    val out = graft.operators.Sampling.inBatchNegatives(df, "doc_id", nBuckets = 4, k = 2)
      .as[(Long, Long, Int)].collect()
    // no self-pairs ever
    assert(out.forall(p => p._1 != p._2))
    // every anchor present with <= 2 partners (fewer only if its
    // bucket is degenerate, which 40/4 buckets are not)
    val byAnchor = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byAnchor.keySet == (1L to 40L).toSet)
    assert(byAnchor.values.forall(_ == 2))
    // deterministic across runs
    val again = graft.operators.Sampling.inBatchNegatives(df, "doc_id", 4, 2)
      .as[(Long, Long, Int)].collect()
    assert(out.toSet == again.toSet)
    // partners come from the anchor's own bucket
    val bucketOf = df.select($"doc_id",
        graft.operators.Sampling.hashBucket($"doc_id", 4).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(out.forall(p => bucketOf(p._1) == bucketOf(p._2)))
  }

  test("inBatchNegatives: a 2-doc bucket yields the one partner twice (cyclic), never self") {
    val df = Seq(7L, 8L).toDF("doc_id")
    val out = graft.operators.Sampling.inBatchNegatives(df, "doc_id", nBuckets = 1, k = 3)
      .as[(Long, Long, Int)].collect()
    assert(out.forall(p => p._1 != p._2))
    // j=2 wraps to self and is filtered; j in {1,3} hit the partner
    assert(out.count(_._1 == 7L) == 2 && out.count(_._1 == 8L) == 2)
  }
}

class ZOrderSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mortonKey interleaves bits: (0b11, 0b00)=0b0101, (0b00, 0b11)=0b1010") {
    val out = Seq((3L, 0L), (0L, 3L), (3L, 3L), (0L, 0L)).toDF("a", "b")
      .select(graft.sources.Sink.mortonKey($"a", $"b", 2)).as[Long].collect().toSeq
    assert(out == Seq(5L, 10L, 15L, 0L))
  }

  test("saveZOrdered: every file covers a compact box on BOTH axes (stripes fail this)") {
    val dir = tempDir("graft_zorder")
    // uniform 64x64 grid
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x, y))
      .toDF("x", "y")
    val boxes = graft.sources.Sink.saveZOrdered(grid, s"$dir/t", "x", "y",
        nFiles = 4, bits = 8)
      .as[(String, Int, Int, Int, Int)].collect()
    assert(boxes.length == 4)
    // The skipping property a layout earns: a selective predicate on
    // EITHER axis must be able to skip whole files (its box misses
    // the range). Range-boundary sampling can make one partition
    // straddle a z-curve jump, so per-file span bounds are brittle —
    // skippability is the contract.
    assert(boxes.exists(_._2 > 15), "a query x<=15 must skip some file")
    assert(boxes.exists(_._4 > 15), "a query y<=15 must skip some file")
    assert(boxes.count(b => b._3 - b._2 <= 40 && b._5 - b._4 <= 40) >= 2,
      s"most files should be compact boxes: ${boxes.toSeq}")
    // contrast: a single-column sort leaves y unbounded per file
    grid.repartitionByRange(4, $"x").sortWithinPartitions($"x")
      .write.mode("overwrite").parquet(s"$dir/stripes")
    val stripes = spark.read.parquet(s"$dir/stripes")
      .select(org.apache.spark.sql.functions.input_file_name().as("f"), $"x", $"y")
      .groupBy($"f").agg(min($"y").as("ymin"), max($"y").as("ymax"))
      .as[(String, Int, Int)].collect()
    assert(stripes.forall(s => s._3 - s._2 == 63),
      "x-sorted stripes must span all of y (the property z-order fixes)")
  }
}

class ExcelDateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("excelSerialDate: known serials, fractional time, junk, out-of-range") {
    val df = Seq("1", "59", "60", "61", "25569", "44927", "44927.75",
        "abc", "0", "2958466", "-5")
      .toDF("s")
    val out = df.select(graft.operators.Cleaning.excelSerialDate($"s").cast("string"))
      .as[Option[String]].collect().toSeq
    assert(out == Seq(
      Some("1900-01-01"),   // serial 1: +1-day leap-bug adjustment (openpyxl parity)
      Some("1900-02-28"),   // serial 59: last adjusted serial
      Some("1900-02-28"),   // serial 60: the phantom 1900-02-29 collapses to Feb 28
      Some("1900-03-01"),   // serial 61: origin arithmetic alone is correct from here
      Some("1970-01-01"),   // unix epoch = serial 25569
      Some("2023-01-01"),
      Some("2023-01-01"),   // time fraction truncates to the day
      None, None, None, None))
  }
}

class SnapshotDiffSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("snapshotDiff: added/removed/changed classified; unchanged dropped; null flips count") {
    val o = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (4L, Some("d")))
      .toDF("k", "v")
    val n = Seq((1L, Some("a")), (3L, Some("c")), (4L, None), (5L, Some("e")))
      .toDF("k", "v")
    val out = graft.operators.Pendentes.snapshotDiff(o, n, Seq("k"), Seq("v"))
      .select($"k", $"change").as[(Long, String)].collect().toMap
    assert(out == Map(
      2L -> "removed",
      3L -> "changed",   // null -> "c" IS a change (null-safe compare)
      4L -> "changed",   // "d" -> null too
      5L -> "added"))    // k=1 unchanged: absent
  }

  test("pageRank: exact-integer fixpoint on a hand-derived 2-node graph; plan iteration-count-independent") {
    import spark.implicits._
    // nodes {0, 1}, one edge 0 -> 1. Hand-unrolled (unit 10^6,
    // teleport 150000, d = 85/100, N = 2):
    //   iter 1: inflow(1) = 10^6; dangling = r(1) = 10^6, share 500000
    //     r1(0) = 150000 + 85*500000 div 100           = 575000
    //     r1(1) = 150000 + 85*(10^6 + 500000) div 100  = 1425000
    //   iter 2: inflow(1) = 575000; dangling share = 1425000 div 2
    //     r2(0) = 150000 + 85*712500 div 100           = 755625
    //     r2(1) = 150000 + 85*(575000+712500) div 100  = 1244375
    val edges = Seq((0L, 1L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L).toDF("node")
    val got = graft.operators.Rank.pageRank(edges, nodes, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 755625L, 1L -> 1244375L), s"got $got")
    // Lineage-cut contract (the kmeansFit pin): the final plan is a
    // flat checkpoint scan whose size does not track iterations.
    def planLen(iters: Int): Int = graft.operators.Rank
      .pageRank(edges, nodes, iters)
      .queryExecution.executedPlan.toString.length
    val p2 = planLen(2)
    val p5 = planLen(5)
    assert(p2 < 2000 && p5 < 2000, s"pageRank plan is not a flat scan: $p2 / $p5 chars")
    assert(math.abs(p5 - p2) < 200, s"pageRank plan grows with iterations: $p2 -> $p5")
  }

  test("pageRank edge fold == rebuild: deriving the full graph equals union + weight-sum of split parts") {
    // The graph_pagerank_incr contract: edge weights ADD, so folding
    // a batch's edges into a standing edge table is identical to
    // re-deriving from the union of documents. Pinned on sf0.001.
    import graft.queries.PipelineQueries
    import org.apache.spark.sql.functions.{pmod, sum => fsum}
    val dir = "/root/testdata/sf0.001"
    val full = PipelineQueries.prEdges(spark, dir)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val folded = PipelineQueries.prEdgesWhere(spark, dir, pmod(col("doc_id"), lit(10)) =!= 0)
      .unionByName(PipelineQueries.prEdgesWhere(spark, dir, pmod(col("doc_id"), lit(10)) === 0))
      .groupBy("src", "dst").agg(fsum("w").as("w"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(full == folded, "edge fold diverged from rebuild")
  }
}
