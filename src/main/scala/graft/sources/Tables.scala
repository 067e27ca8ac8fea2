package graft.sources

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.types.StructType

/** Table loaders over the driver-generated Parquet test data plus the
  * two logical views the reference workload runs on: the commercial
  * fact table (`analise_comercial`) and the product-category dimension
  * (`classificacao_produtos`).
  *
  * The reference consumes two Excel sheets (reference:
  * `Manipulação de Dataframes/análise_produtos_clientes.py:37,150`);
  * here the same logical schemas are synthesized from the TPC-H-ish
  * parquet tables per FIXTURES.md §4 (adapted: this data set's `part`
  * has no `p_mfgr` and `customer` has no `c_address`).
  *
  * Scale notes: the fact view is three equi-joins. `nation` is tiny and
  * broadcast; `customer`/`orders`/`lineitem` at 100 TB would be bucketed
  * on their keys so the joins co-locate — on unbucketed data AQE picks
  * shuffle-hash/sort-merge. Column pruning + filter pushdown reach the
  * parquet scans because everything below is pure `select`/`filter`.
  *
  * Session handle: [[analiseComercial]] and [[classificacaoProdutos]]
  * build their analyzed plan once per session and unchanged input
  * (`view` below gives the invalidation rules). Self-join hazard: two
  * calls in one session therefore return frames with the same
  * attribute ids, i.e. one DataFrame to Spark. Joining them is a
  * self-join, and a condition such as `a("cliente") === b("cliente")`
  * fails as ambiguous. No registry query combines two separate calls
  * of the same view in one plan; a query that needs a view twice takes
  * both sides from one call and aliases them.
  */
object Tables {

  /** Read `dir/name.parquet`, inferring its schema at most once per
    * unchanged input.
    *
    * Why the memo exists: `spark.read.parquet` without a schema runs
    * one Spark job to read the footers (`mergeSchemasInParallel`),
    * even with `mergeSchema` off. The fact view reads five tables, so
    * every query built over it paid five jobs at construction before
    * its cached plan was found. The first read of a path takes Spark's
    * own inferred schema; later reads hand it back through
    * `spark.read.schema`, which skips the job.
    *
    * Invalidation: an entry is reused only while its signature holds.
    * The signature is the recursive file listing of the path (name,
    * length, modification time; see `files`) plus the session's
    * explicitly set `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` entries,
    * which change the inferred types ([[events]] flips `nanosAsLong`).
    * A rewritten file or a changed conf re-infers, so a stale schema
    * is never served. A path that does not exist goes straight to
    * `spark.read.parquet`, which raises Spark's own error. The map
    * holds one entry per distinct path and is safe for `Par` arms
    * that build frames concurrently.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      val sig = signature(spark, fs, p)
      val schema = schemas.get(path) match {
        case (`sig`, cached) => cached
        case _ =>
          val inferred = spark.read.parquet(path).schema
          schemas.put(path, (sig, inferred))
          inferred
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  private val schemas = new ConcurrentHashMap[String, (Signature, StructType)]()

  private type Files = Seq[(String, Long, Long)]
  private type Signature = (Files, Seq[(String, String)])

  private def signature(spark: SparkSession, fs: FileSystem, p: Path): Signature =
    (files(fs, p), parquetConf(spark))

  /** Every file under `p` (or `p` itself): name, length, modification
    * time. A plain `listStatus` walk, not `fs.listFiles`: that builds a
    * `LocatedFileStatus` per file, which on the local file system reads
    * the file's owner and permissions, by starting a `stat` process
    * when Hadoop's native library is absent (about 4 ms a file on a
    * 4-core host, against 0.02 ms for this walk).
    */
  private def files(fs: FileSystem, p: Path): Files = {
    def walk(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    fs.listStatus(p).toSeq.flatMap(walk).sorted
  }

  private def parquetConf(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted

  /** The analyzed plan of a view over `dir`'s `tables`, built at most
    * once per session and unchanged input.
    *
    * Why the memo exists: a dashboard refresh runs several small
    * queries over the same fact and dimension views. Without it every
    * [[analiseComercial]] call reads five tables (a file index each),
    * analyzes the 5-way join afresh, and Spark's CacheManager then
    * canonicalizes that new join to find the persisted copy. With it,
    * a repeated call hands back a DataFrame over the same analyzed
    * plan, whose persisted copy is found without that work.
    *
    * Invalidation is as strict as [[table]]'s schema memo. An entry is
    * reused only while its key holds: the recursive file listing of
    * every table the view reads, the session's explicitly set
    * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` entries,
    * and `graft.load.repartition` ([[spread]] bakes it into the plan).
    * The key is taken before the view is built, so a table rewritten
    * during the build can only cause a rebuild, never a stale hit. If
    * any table is missing, the view is built as it always was and
    * [[table]] raises Spark's own error.
    *
    * Entries are keyed weakly by session, so a session's plans never
    * serve another session. The analyzed plan refers to its session
    * (through its file relations), so it is held softly: a strongly
    * held plan would keep its own weak key alive and the session with
    * it. A plan the collector clears is simply built again.
    */
  private def view(spark: SparkSession, dir: String, name: String, tables: Seq[String])(
      build: => DataFrame): DataFrame = {
    val paths = tables.map { t =>
      val p = new Path(s"$dir/$t.parquet")
      (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
    }
    if (paths.exists { case (p, fs) => !fs.exists(p) }) build
    else {
      val key = (paths.map { case (p, fs) => files(fs, p) }, parquetConf(spark),
        spark.conf.get("graft.load.repartition", "0"))
      val memo = views.synchronized {
        views.computeIfAbsent(spark, _ => new ConcurrentHashMap[(String, String), ViewEntry]())
      }
      Option(memo.get((name, dir))).filter(_._1 == key).flatMap(e => Option(e._2.get)) match {
        case Some(plan) => Frames.ofPlan(spark, plan)
        case None =>
          val df = build
          memo.put((name, dir), (key, new SoftReference(df.queryExecution.analyzed)))
          df
      }
    }
  }

  private type ViewEntry = ((Seq[Files], Seq[(String, String)], String), SoftReference[LogicalPlan])

  private val views =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, String), ViewEntry]]()

  /** Conf-gated spread of a freshly-loaded frame across the cluster.
    *
    * Why it exists: the local test parquet files hold ONE row group
    * each, and a row group is Spark's minimum scan-split unit — so
    * every scan here yields exactly one non-empty partition no matter
    * what `maxPartitionBytes` says, and (the fact view being pure
    * broadcast joins, shuffle-free) everything up to the first
    * exchange runs on ONE core of 32. Round-4's bench timeout was
    * exactly this: the a9 family's map-side `collect_list` over the
    * cached single-partition fact burned 160 CPU-seconds on one task
    * (Diag.scala evidence: partial-agg stage tasks=3, one 160 s task,
    * machine idle).
    *
    * The knob lives HERE, inside the loaders, and not in the bench
    * harness, because Spark's CacheManager substitutes a cached view
    * only into plans whose canonicalized subtree MATCHES — a
    * `repartition` applied only at persist time would make every
    * query's un-repartitioned plan a cache miss and silently rebuild
    * the join per query. With the conf set, the persisted view and
    * every query build the identical (repartitioned) plan.
    *
    * Default 0 = no-op: a real deployment reads multi-row-group files
    * whose scans parallelize naturally, and a blanket repartition
    * there would be a pointless full shuffle. Only the warm-bench
    * session sets it (`graft.load.repartition` = core count) — the
    * moral equivalent of the fact table living pre-spread across a
    * production cluster's executors.
    */
  private def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val n = spark.conf.get("graft.load.repartition", "0").toInt
    if (n > 0) df.repartition(n) else df
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    spread(spark, table(spark, dir, "lineitem"))
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  /** Canonical events loader. The physical encoding of `ts` has
    * differed across testdata generations — parquet TIMESTAMP(NANOS)
    * (which Spark reads as an epoch-nanos bigint under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and, since the
    * round-7 regeneration, parquet TIMESTAMP(MICROS) without timezone
    * (which Spark reads as TIMESTAMP_NTZ). This loader inspects the
    * arrived type and normalizes BOTH to one logical contract every
    * downstream query codes against:
    *
    *   `ts` is TIMESTAMP_NTZ at microsecond precision
    *   (naive wall-clock, exactly what DuckDB's reader also yields —
    *   so `epoch_us(ts)` oracles agree bit-for-bit).
    *
    * The nanos→micros branch divides through decimal: `Column./` is
    * DOUBLE division and modern epoch-nanos (~1.7e18) exceed double's
    * 2^53 exact range — the naive form is ±1µs off for a large share
    * of rows. The session runs UTC ([[graft.GraftSession]]), so the
    * intermediate TimestampType→NTZ cast is a pure reinterpretation.
    *
    * The conf self-heal (nanosAsLong for externally-built sessions) is
    * kept so legacy TIMESTAMP(NANOS) files stay readable — it is a
    * no-op on micros files and SESSION-GLOBAL by Spark's design (no
    * per-read option exists). The same self-heal pins the session
    * timezone to UTC: both [[normalizeTs]]'s TimestampType→NTZ cast
    * and [[tsMicros]]'s NTZ→TimestampType cast are value-preserving
    * ONLY under UTC — on a non-UTC external session they would shift
    * wall-clock silently (e.g. `to_date(ts)` landing on the wrong
    * day) with no error anywhere. [[graft.GraftSession]] already sets
    * UTC; this line makes the contract hold for sessions built
    * elsewhere too.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (spark.conf.get("spark.sql.session.timeZone") != "UTC")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    spread(spark, normalizeTs(table(spark, dir, "events")))
  }

  /** Normalize an events-shaped frame's `ts` column to the canonical
    * TIMESTAMP_NTZ(micros) contract, whatever physical type the reader
    * produced. Exposed (not private) so the schema-contract test can
    * drive both branches against synthesized files.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(tsCol).dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as epoch-nanos bigint
        df.withColumn(tsCol,
          timestamp_micros((col(tsCol).cast("decimal(20,0)") / 1000).cast("long"))
            .cast("timestamp_ntz"))
      case TimestampType => // adjusted-to-UTC micros
        df.withColumn(tsCol, col(tsCol).cast("timestamp_ntz"))
      case _: TimestampNTZType => df // already canonical
      case other =>
        throw new IllegalArgumentException(
          s"events.$tsCol arrived as unsupported type $other; expected " +
            "TIMESTAMP_NTZ, TIMESTAMP, or epoch-nanos BIGINT")
    }
  }

  /** Canonical `ts` (TIMESTAMP_NTZ, micros) → exact epoch-micros
    * bigint. Matches DuckDB's `epoch_us(ts)` on the same naive data.
    * Goes through TimestampType (`unix_micros` only accepts it); the
    * session runs UTC so the NTZ→TZ cast is value-preserving.
    */
  def tsMicros(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unix_micros(c.cast("timestamp"))
  def documents(spark: SparkSession, dir: String): DataFrame =
    spread(spark, table(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spread(spark, table(spark, dir, "embeddings"))

  /** The commercial fact table (one row = one proposal/quote line).
    * Schema contract: FIXTURES.md §1; reference schema evidence
    * SURVEY.md §1.2.
    *
    * `rid` is a synthetic unique row id used only as a deterministic
    * tie-break for order-sensitive operators (SURVEY §7 hard-part 1);
    * the reference relies on pandas frame order instead.
    */
  def analiseComercial(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "analise_comercial",
      Seq("lineitem", "orders", "customer", "nation", "part"))(buildAnaliseComercial(spark, dir))

  private def buildAnaliseComercial(spark: SparkSession, dir: String): DataFrame = {
    val l = lineitem(spark, dir).select(
      "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice", "l_discount", "l_returnflag")
    val o = orders(spark, dir).select(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    val c = customer(spark, dir).select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val n = nation(spark, dir).select("n_nationkey", "n_name")
    val p = part(spark, dir).select("p_partkey", "p_name")

    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(p, l("l_partkey") === p("p_partkey"), "left")
      .select(
        col("c_custkey").cast("string").as("cliente"),
        col("c_name").as("nome_cliente"),
        col("n_name").as("uf"),
        col("c_mktsegment").as("cidade"),
        col("l_partkey").cast("string").as("codigo_produto"),
        col("p_name").as("descricao_produto"),
        col("o_orderdate").cast("date").as("dt_entrada"),
        col("l_extendedprice").as("valor_orcado"),
        col("o_orderpriority").as("consultor_interno"),
        col("l_discount").as("prob_fech"),
        // nullable-ized per FIXTURES.md §4: 'N' → null models the
        // often-empty "Motivo Não Venda" (reference APC:215).
        nullif(col("l_returnflag"), lit("N")).as("motivo_nao_venda"),
        when(col("o_orderstatus") === "P", lit("PENDENTE"))
          .otherwise(col("o_orderstatus")).as("status_processo"),
        col("o_totalprice").as("valor_proposta"),
        (col("l_orderkey") * 100 + col("l_linenumber")).as("rid"))
  }

  /** SQL text of the same fact view, for the DuckDB oracle. Kept next
    * to the Spark definition so the two can never drift apart.
    */
  val analiseComercialSql: String =
    """SELECT CAST(c.c_custkey AS VARCHAR) AS cliente,
      |       c.c_name AS nome_cliente,
      |       n.n_name AS uf,
      |       c.c_mktsegment AS cidade,
      |       CAST(l.l_partkey AS VARCHAR) AS codigo_produto,
      |       p.p_name AS descricao_produto,
      |       CAST(o.o_orderdate AS DATE) AS dt_entrada,
      |       l.l_extendedprice AS valor_orcado,
      |       o.o_orderpriority AS consultor_interno,
      |       l.l_discount AS prob_fech,
      |       NULLIF(l.l_returnflag, 'N') AS motivo_nao_venda,
      |       CASE WHEN o.o_orderstatus = 'P' THEN 'PENDENTE' ELSE o.o_orderstatus END AS status_processo,
      |       o.o_totalprice AS valor_proposta,
      |       l.l_orderkey * 100 + l.l_linenumber AS rid
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin

  /** Product-category dimension (FIXTURES.md §2): hierarchy
    * negocio ⊃ grupo ⊃ subgrupo synthesized from `part` columns.
    */
  def classificacaoProdutos(spark: SparkSession, dir: String): DataFrame =
    view(spark, dir, "classificacao_produtos", Seq("part"))(part(spark, dir).select(
      col("p_partkey").cast("string").as("codigo_produto"),
      col("p_name").as("descricao"),
      col("p_type").as("negocio"),
      concat(col("p_type"), lit(" "), col("p_brand")).as("grupo"),
      concat(col("p_brand"), lit("#"), (col("p_size") % 5).cast("string")).as("subgrupo"),
      col("p_brand").as("fabricante")))

  val classificacaoProdutosSql: String =
    """SELECT CAST(p_partkey AS VARCHAR) AS codigo_produto,
      |       p_name AS descricao,
      |       p_type AS negocio,
      |       p_type || ' ' || p_brand AS grupo,
      |       p_brand || '#' || CAST(p_size % 5 AS VARCHAR) AS subgrupo,
      |       p_brand AS fabricante
      |FROM part""".stripMargin
}
