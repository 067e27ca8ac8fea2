package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Schema contract for the events table — the test that would have
  * caught the round-7 testdata regeneration the day it happened.
  *
  * The driver's testdata has shipped `events.ts` under two different
  * physical parquet encodings across rounds: TIMESTAMP(NANOS) (read by
  * Spark as an epoch-nanos bigint under
  * `spark.sql.legacy.parquet.nanosAsLong=true`) and TIMESTAMP(MICROS)
  * (read as TIMESTAMP_NTZ). [[Tables.normalizeTs]] must map BOTH onto
  * one canonical contract — `ts` is TIMESTAMP_NTZ at microsecond
  * precision — because every events query codes against it.
  */
class EventsSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("the shipped events.parquet normalizes to the canonical TIMESTAMP_NTZ contract") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampNTZType,
      s"canonical ts must be TIMESTAMP_NTZ, got ${ev.schema("ts").dataType}")
    // The canonical column must be usable by both consumer shapes:
    // date bucketing and exact epoch-micros arithmetic.
    val row = ev.select(
      min(to_date(col("ts"))).as("d"),
      min(Tables.tsMicros(col("ts"))).as("us")).head()
    assert(row.getDate(0) != null)
    // Sanity window: epoch micros for any plausible event time
    // (2000-01-01 .. 2100-01-01).
    val us = row.getLong(1)
    assert(us > 946684800000000L && us < 4102444800000000L,
      s"epoch-micros out of plausible range: $us")
  }

  test("events() self-heals a non-UTC session timezone (NTZ casts are UTC-only)") {
    // normalizeTs's TimestampType->NTZ cast and tsMicros's NTZ->
    // TimestampType cast are value-preserving ONLY under UTC; on a
    // session left at a local timezone they would shift wall-clock
    // silently (events_daily landing on the wrong day, no error).
    // events() must pin the conf back, like it pins nanosAsLong.
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "America/New_York")
      val ev = Tables.events(spark, dir)
      assert(spark.conf.get(key) == "UTC",
        "events() must restore the UTC contract on a drifted session")
      // And the values are the same as a clean-session read.
      val us = ev.select(min(Tables.tsMicros(col("ts")))).head().getLong(0)
      val us2 = Tables.events(spark, dir)
        .select(min(Tables.tsMicros(col("ts")))).head().getLong(0)
      assert(us == us2)
    } finally spark.conf.set(key, before)
  }

  test("normalizeTs maps both physical encodings to identical instants") {
    import spark.implicits._
    // One known instant: 2024-03-05 12:34:56.789012 UTC.
    val micros = 1709642096789012L

    // Branch 1: epoch-nanos bigint — exactly what the legacy
    // TIMESTAMP(NANOS) files look like after the nanosAsLong mapping
    // (the conf turns the parquet NANOS column into a plain LongType
    // of epoch nanos; a plain int64 column exercises the identical
    // downstream path without needing a writer that can emit NANOS).
    val fromNanos = Tables.normalizeTs(
      Seq(micros * 1000L).toDF("ts"))
    assert(fromNanos.schema("ts").dataType == TimestampNTZType)

    // Branch 2: TIMESTAMP_NTZ — the current testdata encoding,
    // round-tripped through a real parquet file so the reader path
    // (not just an in-memory frame) is exercised.
    val ntzDir = s"${sys.props("java.io.tmpdir")}/graft-events-ntz-test"
    Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.mode("overwrite").parquet(ntzDir)
    val fromNtz = Tables.normalizeTs(spark.read.parquet(ntzDir))
    assert(fromNtz.schema("ts").dataType == TimestampNTZType)

    val a = fromNanos.select(Tables.tsMicros(col("ts"))).head().getLong(0)
    val b = fromNtz.select(Tables.tsMicros(col("ts"))).head().getLong(0)
    assert(a == micros, s"nanos branch drifted: $a != $micros")
    assert(b == micros, s"ntz branch drifted: $b != $micros")
  }

  test("nanos→micros conversion is exact beyond double's 2^53 range (no float division)") {
    import spark.implicits._
    // Two adjacent-microsecond instants whose nanos differ by exactly
    // 1000: naive double division would collapse or drift them.
    val base = 1709642096789012L
    val df = Tables.normalizeTs(Seq(base * 1000L, (base + 1) * 1000L, base * 1000L + 999L).toDF("ts"))
    val got = df.select(Tables.tsMicros(col("ts"))).as[Long].collect().sorted
    // Truncation semantics: +999ns stays in the same microsecond.
    assert(got.toSeq == Seq(base, base, base + 1), got.toSeq.toString)
  }
}

/** The round-7 lesson generalized: the driver owns the testdata and
  * HAS regenerated it with changed physical types before (events.ts).
  * Pin the logical contract of the other two pipeline tables so a
  * regeneration surfaces as ONE failing test naming the drift, not as
  * dozens of downstream analysis errors.
  */
class PipelineTablesSchemaSpec extends org.scalatest.funsuite.AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("documents schema contract") {
    val sch = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001").schema
    val got = sch.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(got == Map(
      "doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint"), got.toString)
  }

  test("embeddings schema contract (incl. the 64-dim payload)") {
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(got == Map(
      "vec_id" -> "bigint", "embedding" -> "array<float>", "label" -> "int"), got.toString)
    // dimensionality is part of the contract: the ANN family's bands,
    // PQ subspaces, and oracles are all derived from dim = 64 (the
    // ann_pq_recall dim=8 slip proved this needs a pin).
    val dims = df.select(size(col("embedding")).as("d")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(dims == Set(64), s"embedding dims drifted: $dims")
  }

  // Tables.table memoizes each path's inferred schema; these pin that
  // the memo saves the inference job and never serves a stale schema.

  private def tmpDir(tag: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-memo-test/$tag"

  /** Runs `body` in job group `tag`, then plain parquet inference of
    * `controlPath` in a second group, and returns the body's result, the
    * ids of the jobs the body started, and the inferred schema. The
    * listener bus is FIFO, so once the control job is visible any job
    * of the first group is too.
    */
  private def jobsOf[T](tag: String, controlPath: String)(body: => T): (T, Seq[Int], StructType) = {
    val sc = spark.sparkContext
    val control = s"$tag-control"
    sc.setJobGroup(tag, tag)
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(control, "plain parquet inference")
    val inferred = try spark.read.parquet(controlPath).schema finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(control).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(control).nonEmpty,
      "control inference must show up as a job")
    (out, sc.statusTracker.getJobIdsForGroup(tag).toSeq, inferred)
  }

  test("a repeated lineitem read of an unchanged path starts no Spark job") {
    import spark.implicits._
    val dir = tmpDir("hit")
    Seq((1L, 1, 2.5)).toDF("l_orderkey", "l_linenumber", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    graft.sources.Tables.lineitem(spark, dir) // first read: infers
    val (again, jobs, inferred) = jobsOf("graft-memo-hit", s"$dir/lineitem.parquet")(
      graft.sources.Tables.lineitem(spark, dir))
    assert(jobs.isEmpty, s"memoized read ran jobs $jobs")
    assert(again.schema == inferred)
  }

  test("a table overwritten at the same path with a new schema is re-read") {
    import spark.implicits._
    val dir = tmpDir("overwrite")
    Seq((1L, "a")).toDF("k", "s").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val before = graft.sources.Tables.table(spark, dir, "t")
    assert(before.columns.toSeq == Seq("k", "s"))
    Seq((2.5, 7)).toDF("x", "n").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = graft.sources.Tables.table(spark, dir, "t")
    assert(after.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(after.as[(Double, Int)].collect().toSeq == Seq((2.5, 7)))
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers a BINARY column") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import spark.implicits._
    val dir = tmpDir("binary")
    // Written with plain parquet-hadoop: a Spark-written file carries its
    // Spark schema in the footer, which inference prefers over the conf.
    val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val file = new org.apache.hadoop.fs.Path(s"$dir/t.parquet/part-0.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    file.getFileSystem(conf).delete(file.getParent, true)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi")) finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(graft.sources.Tables.table(spark, dir, "t").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = graft.sources.Tables.table(spark, dir, "t")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.as[String].collect().toSeq == Seq("hi"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a missing path still raises Spark's own AnalysisException") {
    val dir = tmpDir("missing")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      graft.sources.Tables.table(spark, dir, "absent"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  // Tables.analiseComercial / classificacaoProdutos memoize their
  // analyzed plan per session; these pin that a repeat is free and that
  // every input of the view invalidates it.

  private val factTables = Seq("lineitem", "orders", "customer", "nation", "part")

  /** A private copy of the sf0.001 fact/dim tables, safe to rewrite. */
  private def viewTables(tables: Seq[String] = factTables): String = {
    val dir = tempDir("graft_views")
    tables.foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    dir
  }

  private def fact(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.sources.Tables.analiseComercial(s, dir).queryExecution.analyzed
  private def dim(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.sources.Tables.classificacaoProdutos(s, dir).queryExecution.analyzed

  test("a repeated fact/dim view call returns the same analyzed plan and starts no Spark job") {
    val dir = viewTables()
    val (f0, d0) = (fact(spark, dir), dim(spark, dir))
    val ((f1, d1), jobs, _) = jobsOf("graft-view-hit", s"$dir/part.parquet")(
      (fact(spark, dir), dim(spark, dir)))
    assert(jobs.isEmpty, s"memoized views ran jobs $jobs")
    assert(f1 eq f0, "fact view was rebuilt")
    assert(d1 eq d0, "dim view was rebuilt")
  }

  test("rewriting any one of the fact view's five tables rebuilds it") {
    import spark.implicits._
    val dir = viewTables()
    factTables.foreach { t =>
      val before = fact(spark, dir)
      val f = new java.io.File(s"$dir/$t.parquet")
      assert(f.setLastModified(f.lastModified() + 2000))
      assert(!(fact(spark, dir) eq before), s"a rewritten $t served the old plan")
    }
    // A real rewrite reaches the rows, not only the plan.
    val nation = spark.read.parquet(s"$dir/nation.parquet")
      .withColumn("n_name", lower(col("n_name"))).collect()
    new java.io.File(s"$dir/nation.parquet").delete()
    spark.createDataFrame(java.util.Arrays.asList(nation: _*), nation.head.schema)
      .write.parquet(s"$dir/nation.parquet")
    val ufs = graft.sources.Tables.analiseComercial(spark, dir)
      .select("uf").distinct().as[String].collect()
    assert(ufs.nonEmpty && ufs.forall(u => u == u.toLowerCase), ufs.toSeq.toString)
  }

  test("flipping graft.load.repartition or a spark.sql.parquet conf rebuilds the views") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val dir = viewTables()
    val keys = Seq("graft.load.repartition", "spark.sql.parquet.binaryAsString")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.unset)
      val (f0, d0) = (fact(spark, dir), dim(spark, dir))
      assert(f0.collectFirst { case r: Repartition => r }.isEmpty)
      spark.conf.set("graft.load.repartition", "3")
      val f1 = fact(spark, dir)
      assert(!(f1 eq f0), "a new repartition served the old fact plan")
      assert(f1.collectFirst { case r: Repartition => r.numPartitions } == Some(3))
      spark.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(!(fact(spark, dir) eq f1), "a new parquet conf served the old fact plan")
      assert(!(dim(spark, dir) eq d0), "a new parquet conf served the old dim plan")
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a new session builds its own fact/dim plans") {
    val dir = viewTables()
    val (f0, d0) = (fact(spark, dir), dim(spark, dir))
    val other = spark.newSession()
    val (f1, d1) = (fact(other, dir), dim(other, dir))
    assert(!(f1 eq f0) && !(d1 eq d0), "a second session was served the first one's plans")
    assert(fact(other, dir) eq f1, "the second session's fact view was not memoized")
    assert(fact(spark, dir) eq f0, "the first session lost its fact view")
  }

  test("a fact view over a missing table still raises PATH_NOT_FOUND") {
    val dir = viewTables(factTables.filterNot(_ == "part"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      graft.sources.Tables.analiseComercial(spark, dir))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    val d = intercept[org.apache.spark.sql.AnalysisException](
      graft.sources.Tables.classificacaoProdutos(spark, dir))
    assert(d.getCondition == "PATH_NOT_FOUND", d.getMessage)
  }
}
