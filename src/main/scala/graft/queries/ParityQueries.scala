package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.{withAbc, withViews}
import graft.operators._
import graft.sources.{Sink, Tables}

/** Queries covering the reference-parity operator inventory
  * (SURVEY.md §2). Names carry the §2 IDs they exercise.
  */
object ParityQueries {

  /** P1-P5: projection, drop, rename, literal tag. */
  val projectRename = QueryDef(
    "p1_p5_project_rename_tag",
    (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey").cast("string").as("cliente"),
          col("c_name").as("nome_cliente"),
          lit("Semana Atual").as("semana")),
    Some("""SELECT CAST(c_custkey AS VARCHAR) AS cliente, c_name AS nome_cliente,
           |       'Semana Atual' AS semana FROM customer""".stripMargin))

  /** F1+F2: equality filter on status (reference AP:35). */
  val filterPendente = QueryDef(
    "f1_f2_filter_eq",
    (s, dir) =>
      Tables.analiseComercial(s, dir)
        .filter(col("status_processo") === "PENDENTE")
        .groupBy("uf")
        .agg(count(lit(1)).as("n_pendentes"),
          round(sum("valor_proposta"), 2).as("valor_total_propostas")),
    Some(withViews(
      """SELECT uf, COUNT(*) AS n_pendentes,
        |       ROUND(SUM(valor_proposta), 2) AS valor_total_propostas
        |FROM fact WHERE status_processo = 'PENDENTE' GROUP BY uf""".stripMargin)))

  /** F3: conjunctive filter with 'Todos' wildcard (reference MAC:416-432). */
  val filtrarWildcard = QueryDef(
    "f3_filtrar_wildcard",
    (s, dir) => {
      val enriched = Enrich.joinCategorias(
        Tables.analiseComercial(s, dir), Tables.classificacaoProdutos(s, dir))
      Views.filtrar(enriched, Map(
          "negocio" -> "ECONOMY", "uf" -> "Todos", "status_processo" -> "PENDENTE"))
        .groupBy("grupo")
        .agg(count(lit(1)).as("n_linhas"))
    },
    Some(withViews(
      """SELECT d.grupo, COUNT(*) AS n_linhas
        |FROM fact f LEFT JOIN dim d ON f.codigo_produto = d.codigo_produto
        |WHERE d.negocio = 'ECONOMY' AND f.status_processo = 'PENDENTE'
        |GROUP BY d.grupo""".stripMargin)))

  /** F6: drop rows whose essential columns are ALL null (reference MAC:590). */
  val dropAllNull = QueryDef(
    "f6_drop_all_null",
    (s, dir) => {
      val withNulls = Tables.analiseComercial(s, dir)
        .withColumn("consultor_opt", nullif(col("consultor_interno"), lit("3-MEDIUM")))
      Cleaning.dropAllNull(withNulls, Seq("motivo_nao_venda", "consultor_opt"))
        .select("rid", "motivo_nao_venda", "consultor_opt")
    },
    Some(withViews(
      """SELECT rid, motivo_nao_venda, consultor_opt FROM (
        |  SELECT rid, motivo_nao_venda,
        |         NULLIF(consultor_interno, '3-MEDIUM') AS consultor_opt
        |  FROM fact
        |) WHERE NOT (motivo_nao_venda IS NULL AND consultor_opt IS NULL)""".stripMargin)))

  /** F7: keep-first dedup on a key with explicit order (reference MAC:604-605). */
  val dropDupOrdered = QueryDef(
    "f7_dropdup_ordered",
    (s, dir) =>
      Cleaning.dropDuplicatesOrdered(
          Tables.analiseComercial(s, dir),
          Seq("cliente", "codigo_produto", "dt_entrada"), Seq(col("rid")))
        .select("rid", "cliente", "codigo_produto", "dt_entrada"),
    Some(withViews(
      """SELECT rid, cliente, codigo_produto, dt_entrada FROM fact
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY cliente, codigo_produto, dt_entrada
        |                           ORDER BY rid) = 1""".stripMargin)))

  /** J1: inner join fact × ABC classification (reference APC:180). */
  val innerJoinAbc = QueryDef(
    "j1_inner_join_abc",
    (s, dir) => {
      val fact = Tables.analiseComercial(s, dir)
      Enrich.joinAbc(fact.select("cliente", "valor_orcado"),
          Abc.classify(fact).select("cliente", "abc"))
        .groupBy("abc")
        .agg(count(lit(1)).as("n_linhas"),
          round(sum("valor_orcado"), 2).as("valor_total"))
    },
    Some(withAbc(
      """SELECT a.abc, COUNT(*) AS n_linhas, ROUND(SUM(f.valor_orcado), 2) AS valor_total
        |FROM fact f JOIN abc a ON f.cliente = a.cliente
        |GROUP BY a.abc""".stripMargin)))

  /** J3: left join with right-side keep-first dedup (reference APC:109). */
  val leftJoinDedup = QueryDef(
    "j3_left_join_dedup",
    (s, dir) => {
      val fact = Tables.analiseComercial(s, dir)
      Enrich.joinClienteGeo(fact.select("cliente").distinct(), fact)
    },
    Some(withViews(
      """SELECT cliente, MIN_BY(uf, rid) AS uf, MIN_BY(cidade, rid) AS cidade
        |FROM fact GROUP BY cliente""".stripMargin)))

  /** J5: left join with default row on miss (reference MAC:337-348). */
  val leftJoinDefault = QueryDef(
    "j5_left_join_default",
    (s, dir) => {
      val fact = Tables.analiseComercial(s, dir)
      val abcA = Abc.classify(fact)
        .filter(col("abc") === "A")
        .select("cliente", "abc", "valor_total_orcado")
      Enrich.joinAbcWithDefault(fact.select("cliente").distinct(), abcA)
        .groupBy("abc")
        .agg(count(lit(1)).as("n_clientes"),
          round(sum("valor_total_orcado"), 2).as("valor_total"))
    },
    Some(withAbc(
      """SELECT COALESCE(a.abc, 'C') AS abc, COUNT(*) AS n_clientes,
        |       ROUND(SUM(COALESCE(a.valor_total_orcado, 0.0)), 2) AS valor_total
        |FROM (SELECT DISTINCT cliente FROM fact) f
        |LEFT JOIN (SELECT * FROM abc WHERE abc = 'A') a ON f.cliente = a.cliente
        |GROUP BY COALESCE(a.abc, 'C')""".stripMargin)))

  /** A3: 3-key group with first-by-explicit-order descriptors (reference APC:187-198). */
  val groupbyFirst = QueryDef(
    "a3_groupby_first",
    (s, dir) =>
      Tables.analiseComercial(s, dir)
        .groupBy("dt_entrada", "codigo_produto", "cliente")
        .agg(
          min_by(col("uf"), col("rid")).as("uf"),
          min_by(col("consultor_interno"), col("rid")).as("consultor_interno"),
          count(lit(1)).as("n_linhas")),
    Some(withViews(
      """SELECT dt_entrada, codigo_produto, cliente,
        |       MIN_BY(uf, rid) AS uf, MIN_BY(consultor_interno, rid) AS consultor_interno,
        |       COUNT(*) AS n_linhas
        |FROM fact GROUP BY dt_entrada, codigo_produto, cliente""".stripMargin)))

  /** A7+A8: group max date + argmax consultant with deterministic
    * tie-break (reference APC:294-296, MAC:79-81).
    *
    * `max_by` over the full (date, rid, consultant) struct keeps
    * constant state per group — unlike collecting the history into an
    * aggregation buffer, this survives a hot client with millions of
    * rows at the 100 TB tier. The struct tie-break makes the answer
    * deterministic even where `rid` collides.
    */
  val argmax = QueryDef(
    "a7_a8_argmax",
    (s, dir) =>
      Tables.analiseComercial(s, dir)
        .groupBy("cliente")
        .agg(
          max("dt_entrada").as("ultima_data"),
          max_by(col("consultor_interno"),
            struct(col("dt_entrada"), col("rid"), col("consultor_interno")))
            .as("ultimo_consultor")),
    Some(withViews(
      """SELECT cliente, MAX(dt_entrada) AS ultima_data,
        |       (LIST(consultor_interno ORDER BY dt_entrada NULLS FIRST, rid, consultor_interno NULLS FIRST))[-1] AS ultimo_consultor
        |FROM fact GROUP BY cliente""".stripMargin)))

  /** A9+W5: grouped ordered history collection — the reference's
    * flagship operator (APC:273-298, MAC:314-389).
    */
  val historico = QueryDef(
    "a9_historico",
    (s, dir) =>
      // The operator API returns real arrays; the REGISTERED projection
      // renders them to joined strings because the driver's comparator
      // cannot sort rows containing array cells (CORRECTNESS_r02 err).
      History.historico(Enrich.joinCategorias(
        Tables.analiseComercial(s, dir), Tables.classificacaoProdutos(s, dir)))
        .select(
          col("subgrupo"), col("codigo_produto"), col("cliente"), col("n_propostas"),
          array_join(col("datas_entrada"), "; ").as("datas_entrada"),
          array_join(col("probs_fech").cast("array<string>"), "; ").as("probs_fech"),
          array_join(col("motivos_nao_venda"), "; ").as("motivos_nao_venda"),
          col("ultima_data"), col("ultimo_consultor")),
    Some(withViews(
      """SELECT subgrupo, codigo_produto, cliente, COUNT(*) AS n_propostas,
        |       array_to_string(LIST(strftime(dt_entrada, '%d/%m/%Y')
        |            ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST), '; ') AS datas_entrada,
        |       array_to_string(LIST(CAST(prob_fech AS VARCHAR)
        |            ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST), '; ') AS probs_fech,
        |       array_to_string(LIST(motivo_nn
        |            ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST), '; ') AS motivos_nao_venda,
        |       strftime(MAX(dt_entrada), '%d/%m/%Y') AS ultima_data,
        |       (LIST(consultor_interno
        |             ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST))[-1] AS ultimo_consultor
        |FROM (
        |  SELECT f.*, COALESCE(f.motivo_nao_venda, '') AS motivo_nn, d.subgrupo FROM fact f
        |  LEFT JOIN dim d ON f.codigo_produto = d.codigo_produto
        |) WHERE dt_entrada IS NOT NULL
        |GROUP BY subgrupo, codigo_produto, cliente""".stripMargin)))

  /** A9 bounded-memory variant ([[graft.operators.History.historicoCapped]]): history
    * lists capped at the first 5 rows per group, true group size and
    * overflow count preserved, A8 argmax exact. The oracle replays the
    * cap with ROW_NUMBER/QUALIFY semantics.
    */
  val historicoCapped = QueryDef(
    "a9_capped_history",
    (s, dir) =>
      History.historicoCapped(Enrich.joinCategorias(
        Tables.analiseComercial(s, dir), Tables.classificacaoProdutos(s, dir)), maxN = 5)
        .select(
          col("subgrupo"), col("codigo_produto"), col("cliente"), col("n_propostas"),
          array_join(col("datas_entrada"), "; ").as("datas_entrada"),
          array_join(col("probs_fech").cast("array<string>"), "; ").as("probs_fech"),
          array_join(col("motivos_nao_venda"), "; ").as("motivos_nao_venda"),
          col("ultima_data"), col("ultimo_consultor"), col("n_overflow")),
    Some(withViews(
      // continues withViews' WITH-chain: leading comma, not a new WITH
      """, enr AS (
        |  SELECT f.*, COALESCE(f.motivo_nao_venda, '') AS motivo_nn, d.subgrupo FROM fact f
        |  LEFT JOIN dim d ON f.codigo_produto = d.codigo_produto
        |),
        |ordered AS (
        |  SELECT subgrupo, codigo_produto, cliente, dt_entrada, rid, prob_fech, motivo_nn,
        |         consultor_interno,
        |         ROW_NUMBER() OVER w AS rn,
        |         COUNT(*) OVER (PARTITION BY subgrupo, codigo_produto, cliente) AS total,
        |         FIRST_VALUE(strftime(dt_entrada, '%d/%m/%Y')) OVER wd AS ultima_data,
        |         FIRST_VALUE(consultor_interno) OVER wd AS ultimo_consultor
        |  FROM enr WHERE dt_entrada IS NOT NULL
        |  WINDOW w AS (PARTITION BY subgrupo, codigo_produto, cliente
        |               ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST),
        |         wd AS (PARTITION BY subgrupo, codigo_produto, cliente
        |               ORDER BY dt_entrada DESC, rid DESC, prob_fech DESC NULLS LAST,
        |                        motivo_nn DESC, consultor_interno DESC NULLS LAST)
        |)
        |SELECT subgrupo, codigo_produto, cliente,
        |       MAX(total) AS n_propostas,
        |       array_to_string(LIST(strftime(dt_entrada, '%d/%m/%Y')
        |            ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST), '; ') AS datas_entrada,
        |       array_to_string(LIST(CAST(prob_fech AS VARCHAR)
        |            ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST), '; ') AS probs_fech,
        |       array_to_string(LIST(motivo_nn
        |            ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST), '; ') AS motivos_nao_venda,
        |       ANY_VALUE(ultima_data) AS ultima_data,
        |       ANY_VALUE(ultimo_consultor) AS ultimo_consultor,
        |       CAST(MAX(total) - COUNT(*) AS BIGINT) AS n_overflow
        |FROM ordered WHERE rn <= 5
        |GROUP BY 1, 2, 3""".stripMargin)))

  /** A10+C10: collapse uniform list to scalar, else join for display
    * (reference APC:233-243, APC:311).
    */
  val collapseUniform = QueryDef(
    "a10_c10_collapse_uniform",
    (s, dir) => {
      val hist = History.historico(Enrich.joinCategorias(
        Tables.analiseComercial(s, dir), Tables.classificacaoProdutos(s, dir)))
      hist.select(
        col("subgrupo"), col("codigo_produto"), col("cliente"),
        History.collapseIfUniform("motivos_nao_venda").as("motivo_display"),
        Views.joinList(col("datas_entrada"), "; ").as("datas_display"))
    },
    Some(withViews(
      """SELECT subgrupo, codigo_produto, cliente,
        |       CASE WHEN len(list_distinct(motivos)) = 1 THEN motivos[1]
        |            ELSE array_to_string(motivos, ', ') END AS motivo_display,
        |       array_to_string(datas, '; ') AS datas_display
        |FROM (
        |  SELECT subgrupo, codigo_produto, cliente,
        |         LIST(motivo_nn
        |              ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST) AS motivos,
        |         LIST(strftime(dt_entrada, '%d/%m/%Y')
        |              ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST) AS datas
        |  FROM (
        |    SELECT f.*, COALESCE(f.motivo_nao_venda, '') AS motivo_nn, d.subgrupo FROM fact f
        |    LEFT JOIN dim d ON f.codigo_produto = d.codigo_produto
        |  ) WHERE dt_entrada IS NOT NULL
        |  GROUP BY subgrupo, codigo_produto, cliente
        |)""".stripMargin)))

  /** A11: distinct category triples (reference APC:226-228). */
  val distinctTriples = QueryDef(
    "a11_distinct_triples",
    (s, dir) =>
      Tables.classificacaoProdutos(s, dir)
        .select("negocio", "grupo", "subgrupo").distinct(),
    Some(withViews("SELECT DISTINCT negocio, grupo, subgrupo FROM dim")))

  /** A12: distinct values of one column, sorted (reference AP:95). */
  val distinctSorted = QueryDef(
    "a12_distinct_sorted",
    (s, dir) =>
      Tables.analiseComercial(s, dir)
        .select("consultor_interno").distinct().orderBy("consultor_interno"),
    Some(withViews(
      "SELECT DISTINCT consultor_interno FROM fact ORDER BY consultor_interno")))

  /** A4+A5+A6+A13+A14: global metrics in one aggregate pass (reference
    * AP:80-88, MAC:617-619, MAC:531, MAC:1093-1097).
    */
  val metrics = QueryDef(
    "a4_a6_a13_a14_metrics",
    (s, dir) =>
      Tables.analiseComercial(s, dir).agg(
        count(lit(1)).as("n_linhas"),
        countDistinct(col("cliente")).as("n_clientes"),
        countDistinct(col("codigo_produto")).as("n_produtos"),
        round(sum("valor_orcado"), 2).as("valor_total_orcado"),
        min("dt_entrada").as("dt_min"),
        max("dt_entrada").as("dt_max"),
        sum(col("motivo_nao_venda").isNull.cast("long")).as("nulls_motivo")),
    Some(withViews(
      """SELECT COUNT(*) AS n_linhas,
        |       COUNT(DISTINCT cliente) AS n_clientes,
        |       COUNT(DISTINCT codigo_produto) AS n_produtos,
        |       ROUND(SUM(valor_orcado), 2) AS valor_total_orcado,
        |       MIN(dt_entrada) AS dt_min, MAX(dt_entrada) AS dt_max,
        |       CAST(SUM(CASE WHEN motivo_nao_venda IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_motivo
        |FROM fact""".stripMargin)))

  /** U1+S5: weekly-snapshot union with per-file filter + provenance tag
    * (reference AP:29-49); snapshots simulated by order-year splits.
    */
  val unionSemanas = QueryDef(
    "u1_s5_union_semanas",
    (s, dir) => {
      val fact = Tables.analiseComercial(s, dir)
      val snaps = Seq("1995", "1996", "1997").map(y =>
        s"Semana $y" -> fact.filter(year(col("dt_entrada")) === y.toInt))
      Pendentes.unionSemanas(snaps)
        .groupBy("semana")
        .agg(count(lit(1)).as("n_pendentes"),
          round(sum("valor_proposta"), 2).as("valor_total_propostas"))
    },
    Some(withViews(
      """SELECT semana, COUNT(*) AS n_pendentes,
        |       ROUND(SUM(valor_proposta), 2) AS valor_total_propostas
        |FROM (
        |  SELECT 'Semana 1995' AS semana, * FROM fact
        |    WHERE year(dt_entrada) = 1995 AND status_processo = 'PENDENTE'
        |  UNION ALL
        |  SELECT 'Semana 1996' AS semana, * FROM fact
        |    WHERE year(dt_entrada) = 1996 AND status_processo = 'PENDENTE'
        |  UNION ALL
        |  SELECT 'Semana 1997' AS semana, * FROM fact
        |    WHERE year(dt_entrada) = 1997 AND status_processo = 'PENDENTE'
        |) GROUP BY semana""".stripMargin)))

  /** U2: key-set difference — fact products missing from a restricted
    * dim (reference MAC:746-755).
    */
  val missingFromDim = QueryDef(
    "u2_missing_from_dim",
    (s, dir) =>
      Enrich.missingFromDim(
        Tables.analiseComercial(s, dir),
        Tables.classificacaoProdutos(s, dir).filter(col("negocio") =!= "ECONOMY")),
    Some(withViews(
      """SELECT DISTINCT codigo_produto FROM fact
        |EXCEPT
        |SELECT codigo_produto FROM dim WHERE negocio <> 'ECONOMY'""".stripMargin)))

  /** O4: pagination over an explicit total order (reference MAC:511-516). */
  val paginate = QueryDef(
    "o4_paginate",
    (s, dir) =>
      Views.paginar(
          Tables.analiseComercial(s, dir)
            .select(col("rid"), col("cliente"), round(col("valor_orcado"), 2).as("valor_orcado")),
          page = 3, perPage = 50, order = Seq(col("valor_orcado").desc, col("rid").asc)),
    Some(withViews(
      """SELECT rid, cliente, valor_orcado FROM (
        |  SELECT rid, cliente, ROUND(valor_orcado, 2) AS valor_orcado,
        |         ROW_NUMBER() OVER (ORDER BY ROUND(valor_orcado, 2) DESC, rid ASC) AS rn
        |  FROM fact
        |) WHERE rn > 100 AND rn <= 150""".stripMargin)))

  /** C1+C2: date parse (coerce → null) and render round-trip
    * (reference APC:210, APC:261, MAC:270).
    */
  val dates = QueryDef(
    "c1_c2_dates",
    (s, dir) =>
      Tables.analiseComercial(s, dir).select(
        col("rid"),
        date_format(col("dt_entrada"), "dd/MM/yyyy").as("dt_br"),
        date_format(col("dt_entrada"), "yyyy-MM-dd").as("dt_iso"),
        to_date(date_format(col("dt_entrada"), "dd/MM/yyyy"), "dd/MM/yyyy").as("dt_roundtrip"),
        // try_to_date: coerce semantics under Spark 4's ANSI-on default
        expr("try_to_date(motivo_nao_venda)").as("dt_coerce_fail")),
    Some(withViews(
      """SELECT rid,
        |       strftime(dt_entrada, '%d/%m/%Y') AS dt_br,
        |       strftime(dt_entrada, '%Y-%m-%d') AS dt_iso,
        |       CAST(strptime(strftime(dt_entrada, '%d/%m/%Y'), '%d/%m/%Y') AS DATE) AS dt_roundtrip,
        |       TRY_CAST(motivo_nao_venda AS DATE) AS dt_coerce_fail
        |FROM fact""".stripMargin)))

  /** C7+C8: currency and percent display formatting (reference APC:122,
    * APC:126-127). Grouping built from exact integer cents on both
    * sides — DuckDB cannot thousand-separate floats, and
    * float-formatting rules differ between engines.
    */
  val formats = QueryDef(
    "c7_c8_format",
    (s, dir) =>
      Tables.analiseComercial(s, dir)
        .withColumn("cents", floor(col("valor_orcado") * 100 + 0.5).cast("long"))
        .select(
          col("rid"),
          concat(lit("R$ "),
            format_number(expr("cents DIV 100"), 0),
            lit("."),
            lpad((col("cents") % 100).cast("string"), 2, "0")).as("valor_fmt"),
          concat(
            format_string("%.1f", round(col("prob_fech") * 100, 1)),
            lit("%")).as("prob_fmt")),
    Some(withViews(
      """SELECT rid,
        |       'R$ ' || format('{:,}', cents // 100) || '.' ||
        |         lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS valor_fmt,
        |       printf('%.1f', ROUND(prob_fech * 100, 1)) || '%' AS prob_fmt
        |FROM (SELECT rid, prob_fech,
        |             CAST(floor(valor_orcado * 100 + 0.5) AS BIGINT) AS cents
        |      FROM fact)""".stripMargin)))

  /** C3+C4+C6: numeric coerce (bad → null), validity probe, and
    * fillna(0) over a synthesized messy string column (reference
    * APC:100, MAC:540-543, MAC:593-597). The raw strings are built from
    * exact integer cents so both engines format identically.
    */
  /** Tukey IQR trim ([[Cleaning.iqrFilter]]): per-flag robust outlier
    * fence on `l_extendedprice`, reported as kept-count + kept-range
    * per group (count/min/max are order-independent, so the compare
    * dodges float-sum accumulation-order drift). The quartiles are
    * exact `percentile_disc` data values — parity with DuckDB's
    * `quantile_disc` is already pinned by `a15_percentile_disc` on
    * this same column.
    */
  /** Forward-fill ([[graft.operators.Cleaning.fillForward]], `pandas.ffill` per
    * group): carry each user's last known reading (`value`, nullified
    * on 'error' events — deterministic injected gaps, the PII-oracle
    * precedent) forward in (ts_us, event_id) order. The EXPLICIT
    * total order is the whole point: pandas inherits frame order, a
    * distributed fill must pin one — and it must be genuinely total
    * (event_id is unique; the fact view's `rid` is NOT, which makes
    * it unusable as a fill tie-break and is why this query lives on
    * events). One keyed window, one shuffle on user_id.
    */
  val ffill = QueryDef(
    "c_ffill_events",
    (s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          graft.sources.Tables.tsMicros(col("ts")).as("ts_us"),
          when(col("event_type") === "error", lit(null).cast("double"))
            .otherwise(round(col("value"), 2)).as("reading"))
      Cleaning.fillForward(ev,
          key = Seq("user_id"),
          order = Seq(col("ts_us"), col("event_id")),
          cols = Seq("reading"))
        .select(col("event_id"), col("user_id"),
          col("reading").as("reading_ffill"))
    },
    Some("""SELECT event_id, user_id,
           |       LAST_VALUE(reading IGNORE NULLS) OVER (
           |         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reading_ffill
           |FROM (
           |  SELECT event_id, user_id, ts,
           |         CASE WHEN event_type = 'error' THEN NULL
           |              ELSE ROUND(value, 2) END AS reading
           |  FROM events
           |)""".stripMargin))

  /** Edit-distance-1 fuzzy join ([[graft.operators.Fuzzy.fuzzyPairs]]): part names
    * matched against a deterministically TYPO'D copy (every third
    * part loses one character at an id-derived position — the
    * injection precedent of the PII oracle): each corrupted name must
    * re-link to its original at dist ≤ 1 through the deletion-
    * neighborhood candidate join, unchanged names link at dist 0, and
    * any incidental near-collisions between real names surface
    * identically in both engines. Both sides join at DISTINCT-name
    * cardinality — the fixture's names repeat ~31× (64 distinct of
    * 2,000 rows), and fuzzy-joining raw rows would emit every
    * identical-name cross product (measured 74k pairs); match names
    * first, map ids back with an equi-join downstream — the only
    * posture that survives real catalogs. The oracle replays
    * variants, the per-side hot-key cap, and the levenshtein verify
    * from scratch.
    */
  val fuzzyNames = QueryDef(
    "j_fuzzy_names",
    (s, dir) => {
      val p = Tables.part(s, dir)
      val left = p.select(col("p_name").as("name")).distinct()
      val pos = least(pmod(col("p_partkey"), lit(20)) + 1, length(col("p_name")))
      val right = p.select(
        when(pmod(col("p_partkey"), lit(3)) === 0,
          concat(col("p_name").substr(lit(1), pos - 1),
            col("p_name").substr(pos + 1, length(col("p_name")))))
          .otherwise(col("p_name")).as("name")).distinct()
      Fuzzy.fuzzyPairs(left, right, "name", "name", "name", "name")
        .select(col("name_l"), col("name_r"), col("dist"))
    },
    Some("""WITH l AS (SELECT DISTINCT p_name AS name_l FROM part),
           |r AS (
           |  SELECT DISTINCT
           |         CASE WHEN p_partkey % 3 = 0 THEN
           |           substr(p_name, 1, least(p_partkey % 20 + 1, length(p_name)) - 1) ||
           |           substr(p_name, least(p_partkey % 20 + 1, length(p_name)) + 1, length(p_name))
           |         ELSE p_name END AS name_r
           |  FROM part
           |),
           |lv AS (
           |  SELECT name_l,
           |         unnest(list_distinct(list_append(
           |           [substr(name_l, 1, i - 1) || substr(name_l, i + 1, length(name_l))
           |            FOR i IN generate_series(1, greatest(length(name_l), 1))], name_l))) AS key
           |  FROM l
           |),
           |rv AS (
           |  SELECT name_r,
           |         unnest(list_distinct(list_append(
           |           [substr(name_r, 1, i - 1) || substr(name_r, i + 1, length(name_r))
           |            FOR i IN generate_series(1, greatest(length(name_r), 1))], name_r))) AS key
           |  FROM r
           |),
           |bsz AS (SELECT key, COUNT(*) AS n FROM rv GROUP BY 1),
           |rc AS (
           |  SELECT name_r, key,
           |         CASE WHEN n > 2000
           |              THEN (ROW_NUMBER() OVER (PARTITION BY key ORDER BY name_r) - 1) // 2000
           |              ELSE 0 END AS sub
           |  FROM rv JOIN bsz USING (key)),
           |lc AS (
           |  SELECT name_l, key,
           |         CASE WHEN n > 2000
           |              THEN ('0x' || substr(md5(name_l), 1, 15))::BIGINT % ((n - 1) // 2000 + 1)
           |              ELSE 0 END AS sub
           |  FROM lv JOIN bsz USING (key)),
           |cand AS (
           |  SELECT DISTINCT lc.name_l, rc.name_r
           |  FROM lc JOIN rc ON lc.key = rc.key AND lc.sub = rc.sub
           |)
           |SELECT name_l, name_r,
           |       CAST(levenshtein(name_l, name_r) AS INT) AS dist
           |FROM cand WHERE levenshtein(name_l, name_r) <= 1""".stripMargin))

  /** Edit-distance-2 fuzzy join ([[graft.operators.Fuzzy.fuzzyPairs]] `maxEdit = 2`,
    * round-12 verdict ask #7): the [[fuzzyNames]] fixture hardened to
    * DOUBLE corruption — partkey % 3 == 0 rows lose one character,
    * partkey % 3 == 1 rows lose TWO (a second id-derived deletion
    * applied to the once-deleted string), so re-linking the second
    * class is impossible for the ed1 join and REQUIRES the depth-2
    * deletion neighborhoods ([[graft.operators.Fuzzy.deletionVariants2]] — complete
    * for lev ≤ 2 by the alignment argument in its scaladoc,
    * PropertySpec-fuzzed). Same distinct-name posture and hot-key cap
    * as the ed1 query; the oracle replays the double corruption, the
    * depth-2 variant sets (nested list comprehension), the per-side
    * cap, and the levenshtein ≤ 2 verify from scratch.
    */
  val fuzzyNamesEd2 = QueryDef(
    "j_fuzzy_names_ed2",
    (s, dir) => {
      val p = Tables.part(s, dir)
      def del(c: org.apache.spark.sql.Column,
          pos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(c.substr(lit(1), pos - 1), c.substr(pos + 1, length(c)))
      val left = p.select(col("p_name").as("name")).distinct()
      val pos1 = least(pmod(col("p_partkey"), lit(20)) + 1, length(col("p_name")))
      val s1 = del(col("p_name"), pos1)
      val pos2 = least(pmod(col("p_partkey"), lit(13)) + 1, length(s1))
      val s2 = del(s1, pos2)
      val right = p.select(
        when(pmod(col("p_partkey"), lit(3)) === 0, s1)
          .when(pmod(col("p_partkey"), lit(3)) === 1, s2)
          .otherwise(col("p_name")).as("name")).distinct()
      Fuzzy.fuzzyPairs(left, right, "name", "name", "name", "name", maxEdit = 2)
        .select(col("name_l"), col("name_r"), col("dist"))
    },
    Some("""WITH l AS (SELECT DISTINCT p_name AS name_l FROM part),
           |r AS (
           |  SELECT DISTINCT CASE WHEN p_partkey % 3 = 0 THEN s1
           |                       WHEN p_partkey % 3 = 1 THEN s2
           |                       ELSE p_name END AS name_r
           |  FROM (
           |    SELECT p_name, p_partkey, s1,
           |           substr(s1, 1, least(p_partkey % 13 + 1, length(s1)) - 1) ||
           |           substr(s1, least(p_partkey % 13 + 1, length(s1)) + 1, length(s1)) AS s2
           |    FROM (
           |      SELECT p_name, p_partkey,
           |             substr(p_name, 1, least(p_partkey % 20 + 1, length(p_name)) - 1) ||
           |             substr(p_name, least(p_partkey % 20 + 1, length(p_name)) + 1, length(p_name)) AS s1
           |      FROM part))
           |),
           |lv AS (
           |  SELECT name_l,
           |         unnest(list_distinct(list_append(list_concat(
           |           [substr(name_l, 1, i - 1) || substr(name_l, i + 1, length(name_l))
           |            FOR i IN generate_series(1, greatest(length(name_l), 1))],
           |           flatten([[substr(name_l, 1, i - 1) || substr(name_l, i + 1, j - i - 1) ||
           |                     substr(name_l, j + 1, length(name_l))
           |                     FOR j IN generate_series(i + 1, length(name_l))]
           |                    FOR i IN generate_series(1, length(name_l) - 1)])),
           |           name_l))) AS key
           |  FROM l
           |),
           |rv AS (
           |  SELECT name_r,
           |         unnest(list_distinct(list_append(list_concat(
           |           [substr(name_r, 1, i - 1) || substr(name_r, i + 1, length(name_r))
           |            FOR i IN generate_series(1, greatest(length(name_r), 1))],
           |           flatten([[substr(name_r, 1, i - 1) || substr(name_r, i + 1, j - i - 1) ||
           |                     substr(name_r, j + 1, length(name_r))
           |                     FOR j IN generate_series(i + 1, length(name_r))]
           |                    FOR i IN generate_series(1, length(name_r) - 1)])),
           |           name_r))) AS key
           |  FROM r
           |),
           |bsz AS (SELECT key, COUNT(*) AS n FROM rv GROUP BY 1),
           |rc AS (
           |  SELECT name_r, key,
           |         CASE WHEN n > 2000
           |              THEN (ROW_NUMBER() OVER (PARTITION BY key ORDER BY name_r) - 1) // 2000
           |              ELSE 0 END AS sub
           |  FROM rv JOIN bsz USING (key)),
           |lc AS (
           |  SELECT name_l, key,
           |         CASE WHEN n > 2000
           |              THEN ('0x' || substr(md5(name_l), 1, 15))::BIGINT % ((n - 1) // 2000 + 1)
           |              ELSE 0 END AS sub
           |  FROM lv JOIN bsz USING (key)),
           |cand AS (
           |  SELECT DISTINCT lc.name_l, rc.name_r
           |  FROM lc JOIN rc ON lc.key = rc.key AND lc.sub = rc.sub
           |)
           |SELECT name_l, name_r,
           |       CAST(levenshtein(name_l, name_r) AS INT) AS dist
           |FROM cand WHERE levenshtein(name_l, name_r) <= 2""".stripMargin))

  /** Per-group Pearson correlation (budget value × close probability
    * per state) — the bivariate-metrics class (§2.4 has only
    * univariate aggregates). NOT Spark's `corr()`: a float-mean
    * accumulator is partitioning-order-dependent and can never
    * hash-match another engine. Instead the five raw moments
    * accumulate EXACTLY — inputs quantize to integer cents /
    * basis-points via floor(x·scale + 0.5), sums ride decimal(38,0)
    * (squared-cents terms overflow bigint at group sizes ~1e5) — and
    * r comes out of the textbook closed form evaluated in identical
    * IEEE double steps from identical integers on both engines.
    * Zero-variance groups emit null (exact integer test, not a
    * float-epsilon one). One map-side-combinable aggregate.
    */
  val corrGeo = QueryDef(
    "a19_corr_geo",
    (s, dir) => {
      val x = floor(col("valor_orcado") * 100 + lit(0.5)).cast("long")
      val y = floor(col("prob_fech") * 10000 + lit(0.5)).cast("long")
      val d38 = "decimal(38,0)"
      Tables.analiseComercial(s, dir)
        .select(col("uf"), x.as("x"), y.as("y"))
        .groupBy(col("uf"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"),
          sum((col("x") * col("x")).cast(d38)).as("sxx"),
          sum((col("y") * col("y")).cast(d38)).as("syy"))
        .select(col("uf"), col("n"),
          when(
            (col("n") * col("sxx") - col("sx") * col("sx")) === 0 ||
              (col("n") * col("syy") - col("sy") * col("sy")) === 0,
            lit(null).cast("double"))
            .otherwise(round(
              (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                  sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6))
            .as("corr_valor_prob"))
    },
    Some(withViews(
      """, q AS (
        |  SELECT uf,
        |         CAST(floor(valor_orcado * 100 + 0.5) AS HUGEINT) AS x,
        |         CAST(floor(prob_fech * 10000 + 0.5) AS HUGEINT) AS y
        |  FROM fact
        |), m AS (
        |  SELECT uf, COUNT(*) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM q GROUP BY 1
        |)
        |SELECT uf, n,
        |       CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
        |            ELSE ROUND(
        |              (n * sxy - sx * sy)::DOUBLE /
        |              (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
        |       END AS corr_valor_prob
        |FROM m""".stripMargin)))

  /** Per-group OLS regression (value on close-probability per state):
    * slope/intercept from the SAME exact integer moments as
    * [[corrGeo]] — the moments pattern generalizes to the whole
    * bivariate family for one aggregate pass. Outputs are in the
    * ORIGINAL units (cents/bps scales divide back out analytically:
    * slope·(sy_scale/sx_scale), intercept/sy_scale).
    */
  val olsGeo = QueryDef(
    "a21_ols_geo",
    (s, dir) => {
      val x = floor(col("prob_fech") * 10000 + lit(0.5)).cast("long")
      val y = floor(col("valor_orcado") * 100 + lit(0.5)).cast("long")
      val d38 = "decimal(38,0)"
      Tables.analiseComercial(s, dir)
        .select(col("uf"), x.as("x"), y.as("y"))
        .groupBy(col("uf"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"),
          sum((col("x") * col("y")).cast(d38)).as("sxy"),
          sum((col("x") * col("x")).cast(d38)).as("sxx"))
        .select(col("uf"), col("n"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) === 0,
            lit(null).cast("double"))
            .otherwise(round(
              ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                lit(100.0), 6)) // bps->cents slope, rescaled to value-per-prob
            .as("slope"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) === 0,
            lit(null).cast("double"))
            .otherwise(round(
              (col("sy").cast("double") -
                ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
                  (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
                  col("sx").cast("double")) / col("n").cast("double") / lit(100.0), 6))
            .as("intercept"))
    },
    Some(withViews(
      """, q AS (
        |  SELECT uf,
        |         CAST(floor(prob_fech * 10000 + 0.5) AS HUGEINT) AS x,
        |         CAST(floor(valor_orcado * 100 + 0.5) AS HUGEINT) AS y
        |  FROM fact
        |), m AS (
        |  SELECT uf, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM q GROUP BY 1
        |)
        |SELECT uf, n,
        |       CASE WHEN (n * sxx - sx * sx) = 0 THEN NULL
        |            ELSE ROUND(((n * sxy - sx * sy)::DOUBLE /
        |                        (n * sxx - sx * sx)::DOUBLE) * 100.0, 6) END AS slope,
        |       CASE WHEN (n * sxx - sx * sx) = 0 THEN NULL
        |            ELSE ROUND((sy::DOUBLE -
        |                        ((n * sxy - sx * sy)::DOUBLE /
        |                         (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
        |                       / n::DOUBLE / 100.0, 6) END AS intercept
        |FROM m""".stripMargin)))

  /** Sketch REUSE — the rollup pattern A16's mergeability enables but
    * doesn't demonstrate: per-day HLL user sketches (Datasketches
    * `hll_sketch_agg` — the serialized-sketch form you'd PERSIST) are
    * UNION-MERGED (`hll_union_agg`) into a whole-range estimate
    * WITHOUT rescanning events — at 100 TB this is how "distinct
    * users in any date range" answers from a tiny daily-sketch table
    * instead of a corpus scan. Oracle-checked as A16's error-bound
    * boolean beside the exact count (sketch bytes are
    * engine-specific; the CLAIM — merged estimate within 5% of exact
    * — is engine-portable).
    */
  val sketchReuse = QueryDef(
    "a22_sketch_reuse",
    (s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      val daily = ev.select(to_date(col("ts")).as("dia"), col("user_id"))
        .groupBy(col("dia"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"), count(lit(1)).as("n_events"))
      val merged = daily.agg(
        sum(col("n_events")).as("n_events_total"),
        count(lit(1)).as("n_days"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
      val exact = ev.agg(count_distinct(col("user_id")).as("nd_exact"))
      merged.crossJoin(exact)
        .select(col("n_days"), col("n_events_total"), col("nd_exact"),
          (abs(col("__est") - col("nd_exact")) <= col("nd_exact") * 0.05).as("merged_ok"))
    },
    Some("""SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           |       COUNT(*) AS n_events_total,
           |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_exact,
           |       TRUE AS merged_ok
           |FROM events""".stripMargin))

  val iqrTrim = QueryDef(
    "c_iqr_trim",
    (s, dir) =>
      graft.operators.Cleaning.iqrFilter(
          Tables.lineitem(s, dir), "l_extendedprice", Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_kept"),
          min(col("l_extendedprice")).as("min_kept"),
          max(col("l_extendedprice")).as("max_kept")),
    Some("""WITH f AS (
           |  SELECT l_returnflag,
           |         quantile_disc(l_extendedprice, 0.25) AS q1,
           |         quantile_disc(l_extendedprice, 0.75) AS q3
           |  FROM lineitem GROUP BY 1
           |)
           |SELECT l.l_returnflag, COUNT(*) AS n_kept,
           |       MIN(l_extendedprice) AS min_kept,
           |       MAX(l_extendedprice) AS max_kept
           |FROM lineitem l JOIN f USING (l_returnflag)
           |WHERE l_extendedprice >= q1 - 1.5 * (q3 - q1)
           |  AND l_extendedprice <= q3 + 1.5 * (q3 - q1)
           |GROUP BY 1""".stripMargin))

  /** Median/MAD robust trim ([[graft.operators.Cleaning.madFilter]]): the robust
    * z-score twin of `c_iqr_trim` — same reporting shape (per-group
    * survivor count + value range) so the two trims are directly
    * comparable; the oracle replays median → |v−med| median → keep
    * test with DuckDB's `quantile_disc`.
    */
  val madTrim = QueryDef(
    "c_mad_trim",
    (s, dir) =>
      graft.operators.Cleaning.madFilter(
          Tables.lineitem(s, dir), "l_extendedprice", Seq("l_returnflag"), k = 3.0)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_kept"),
          min(col("l_extendedprice")).as("min_kept"),
          max(col("l_extendedprice")).as("max_kept")),
    Some("""WITH med AS (
           |  SELECT l_returnflag, quantile_disc(l_extendedprice, 0.5) AS med
           |  FROM lineitem GROUP BY 1
           |),
           |mad AS (
           |  SELECT l.l_returnflag,
           |         quantile_disc(abs(l_extendedprice - med), 0.5) AS mad
           |  FROM lineitem l JOIN med USING (l_returnflag) GROUP BY 1
           |)
           |SELECT l.l_returnflag, COUNT(*) AS n_kept,
           |       MIN(l_extendedprice) AS min_kept,
           |       MAX(l_extendedprice) AS max_kept
           |FROM lineitem l JOIN med USING (l_returnflag) JOIN mad USING (l_returnflag)
           |WHERE abs(l_extendedprice - med) <= 3.0 * mad
           |GROUP BY 1""".stripMargin))

  /** Sketch twin of `c_mad_trim` at the same grouping, registered
    * separately so exact-vs-approx MAD cost is a measured bench
    * ratio (the `a15_percentile_disc`/`approx` pattern). Oracle
    * contract (round-10 verdict ask #3 — the A16 error-bound
    * pattern): the sketch median shifts the trim threshold by an
    * engine-specific hair, so the approx path's survivor stats are
    * not hash-portable — the registered columns are the EXACT twin's
    * per-group survivor count plus a boolean asserting the approx
    * trim kept within 1% (of group size) of it; the oracle replays
    * the exact trim and pins the boolean TRUE. accuracy=10000 bounds
    * the sketch median's rank error at n/10000 (~2 rows per ~20k-row
    * group at sf0.01), so the survivor-count delta is a handful of
    * rows against a 200-row tolerance — deterministic, not flaky.
    */
  val madTrimApprox = QueryDef(
    "c_mad_trim_approx",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val approx = graft.operators.Cleaning.madFilter(
          li, "l_extendedprice", Seq("l_returnflag"), k = 3.0, approx = true)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("__n_approx"))
      val exact = graft.operators.Cleaning.madFilter(
          li, "l_extendedprice", Seq("l_returnflag"), k = 3.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_kept"))
      val total = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("__n_group"))
      approx.join(exact, "l_returnflag").join(total, "l_returnflag")
        .select(
          col("l_returnflag"), col("n_kept"),
          (abs(col("__n_approx") - col("n_kept")) <= col("__n_group") * 0.01)
            .as("trim_ok"))
    },
    Some("""WITH med AS (
           |  SELECT l_returnflag, quantile_disc(l_extendedprice, 0.5) AS med
           |  FROM lineitem GROUP BY 1
           |),
           |mad AS (
           |  SELECT l.l_returnflag,
           |         quantile_disc(abs(l_extendedprice - med), 0.5) AS mad
           |  FROM lineitem l JOIN med USING (l_returnflag) GROUP BY 1
           |)
           |SELECT l.l_returnflag, COUNT(*) AS n_kept, TRUE AS trim_ok
           |FROM lineitem l JOIN med USING (l_returnflag) JOIN mad USING (l_returnflag)
           |WHERE abs(l_extendedprice - med) <= 3.0 * mad
           |GROUP BY 1""".stripMargin))

  /** Quantile binning ([[graft.operators.Cleaning.quantileBuckets]]): per-flag
    * quartile buckets of `l_extendedprice`, reported as per-bucket
    * counts + bucket value ranges (order-independent stats). The
    * oracle rebuilds the same by-value assignment from
    * `quantile_disc` cuts — parity of the cuts themselves is already
    * pinned by `a15_percentile_disc`.
    */
  val qcutBins = QueryDef(
    "c_qcut_bins",
    (s, dir) =>
      graft.operators.Cleaning.quantileBuckets(
          Tables.lineitem(s, dir), "l_extendedprice", Seq("l_returnflag"), nBuckets = 4)
        .groupBy(col("l_returnflag"), col("bucket"))
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("l_extendedprice")).as("lo_val"),
          max(col("l_extendedprice")).as("hi_val")),
    Some("""WITH c AS (
           |  SELECT l_returnflag,
           |         quantile_disc(l_extendedprice, 0.25) AS c1,
           |         quantile_disc(l_extendedprice, 0.50) AS c2,
           |         quantile_disc(l_extendedprice, 0.75) AS c3
           |  FROM lineitem GROUP BY 1
           |)
           |SELECT l.l_returnflag,
           |       1 + CAST(l_extendedprice > c1 AS INT)
           |         + CAST(l_extendedprice > c2 AS INT)
           |         + CAST(l_extendedprice > c3 AS INT) AS bucket,
           |       COUNT(*) AS n_rows,
           |       MIN(l_extendedprice) AS lo_val,
           |       MAX(l_extendedprice) AS hi_val
           |FROM lineitem l JOIN c USING (l_returnflag)
           |GROUP BY 1, 2""".stripMargin))

  val coerceFill = QueryDef(
    "c3_c4_c6_coerce_fill",
    (s, dir) => {
      val messy = Tables.analiseComercial(s, dir)
        .withColumn("cents", floor(col("valor_orcado") * 100 + 0.5).cast("long"))
        .select(
          col("rid"),
          when(col("rid") % 5 === 0, lit("not-a-number"))
            .when(col("rid") % 5 === 1, lit(null).cast("string"))
            .otherwise(concat(expr("cents DIV 100").cast("string"), lit("."),
              lpad((col("cents") % 100).cast("string"), 2, "0"))).as("raw_valor"))
      val coerced = Cleaning.toNumericCoerce(
          messy.withColumn("valor_num", col("raw_valor")), Seq("valor_num"))
        .withColumn("is_invalid",
          (col("raw_valor").isNotNull && col("valor_num").isNull).cast("long"))
      Cleaning.fillZeros(coerced, Seq("valor_num")).agg(
        count(lit(1)).as("n_linhas"),
        sum("is_invalid").as("n_invalid"),
        sum(when(col("valor_num") === 0.0, 1L).otherwise(0L)).as("n_zero_filled"),
        round(sum("valor_num"), 2).as("soma_valores"))
    },
    Some(withViews(
      """SELECT COUNT(*) AS n_linhas,
        |       CAST(SUM(CASE WHEN raw_valor IS NOT NULL AND TRY_CAST(raw_valor AS DOUBLE) IS NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
        |       CAST(SUM(CASE WHEN COALESCE(TRY_CAST(raw_valor AS DOUBLE), 0.0) = 0.0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_filled,
        |       ROUND(SUM(COALESCE(TRY_CAST(raw_valor AS DOUBLE), 0.0)), 2) AS soma_valores
        |FROM (
        |  SELECT rid, CASE WHEN rid % 5 = 0 THEN 'not-a-number'
        |                   WHEN rid % 5 = 1 THEN NULL
        |                   ELSE CAST(cents // 100 AS VARCHAR) || '.' ||
        |                        lpad(CAST(cents % 100 AS VARCHAR), 2, '0') END AS raw_valor
        |  FROM (SELECT rid, CAST(floor(valor_orcado * 100 + 0.5) AS BIGINT) AS cents FROM fact)
        |)""".stripMargin)))

  /** F8+F9+P6: drop `Unnamed*` columns, strip `.N` dedup suffixes, add
    * expected-but-missing columns as empty (reference MAC:569,
    * MAC:574-584, MAC:990-992).
    */
  val schemaAlign = QueryDef(
    "f8_f9_p6_schema_align",
    (s, dir) => {
      val messy = Tables.analiseComercial(s, dir).select(
        col("rid"),
        col("cliente").as("Unnamed: 0"),
        col("uf").as("uf.1"),
        col("valor_orcado").as("valor.2"))
      val cleaned = Cleaning.addMissingColumns(
        Cleaning.renameDedupSuffixes(Cleaning.dropUnnamedColumns(messy)),
        Seq("observacao"))
      cleaned.select(col("rid"), col("uf"),
        round(col("valor"), 2).as("valor"), col("observacao"))
    },
    Some(withViews(
      """SELECT rid, uf, ROUND(valor_orcado, 2) AS valor, '' AS observacao
        |FROM fact""".stripMargin)))

  /** O2: parametric sort (reference MAC:434-437) + O3 limit — top
    * states by total value (sums are distinct, so the cut is
    * deterministic).
    */
  val sortParam = QueryDef(
    "o2_sort_param",
    (s, dir) =>
      Views.ordenar(
        Tables.analiseComercial(s, dir)
          .groupBy("uf")
          .agg(round(sum("valor_orcado"), 2).as("valor_total")),
        "valor_total", ascending = false).limit(10),
    Some(withViews(
      """SELECT uf, ROUND(SUM(valor_orcado), 2) AS valor_total
        |FROM fact GROUP BY uf ORDER BY valor_total DESC LIMIT 10""".stripMargin)))

  /** C9+C10: conditional 3/4-slot display tuple, rendered to a string
    * (reference `criar_tupla` APC:213-221 + `formatar_tupla` APC:311).
    * Spark `array_join` skips the compacted-away motivo slot exactly
    * like the reference omits it.
    */
  val tuplaDisplay = QueryDef(
    "c9_tupla_display",
    (s, dir) =>
      Tables.analiseComercial(s, dir).select(
        col("rid"),
        Views.joinList(
          History.tuplaDados(col("dt_entrada"), col("prob_fech"),
            col("consultor_interno"), col("motivo_nao_venda")), ", ").as("tupla")),
    Some(withViews(
      """SELECT rid,
        |       array_to_string(
        |         [x FOR x IN [strftime(dt_entrada, '%d/%m/%Y'),
        |                      CAST(prob_fech AS VARCHAR),
        |                      consultor_interno,
        |                      NULLIF(motivo_nao_venda, '')] IF x IS NOT NULL],
        |         ', ') AS tupla
        |FROM fact""".stripMargin)))

  /** Combined compatibility report (reference MAC:726-774): one row of
    * key/column presence plus key-coverage counts against a restricted
    * dim (so the missing set is non-empty).
    */
  val compatReport = QueryDef(
    "compat_report",
    (s, dir) =>
      Enrich.compatibilityReport(
        Tables.analiseComercial(s, dir),
        Tables.classificacaoProdutos(s, dir).filter(col("negocio") =!= "ECONOMY"),
        key = "codigo_produto",
        requiredFact = Seq("cliente", "valor_orcado", "dt_entrada"),
        requiredDim = Seq("negocio", "grupo", "subgrupo")),
    Some(withViews(
      """SELECT TRUE AS key_present_both, TRUE AS required_cols_ok,
        |       n_fact_keys, n_dim_keys, n_missing,
        |       ROUND(n_missing / n_fact_keys * 100, 4) AS pct_missing
        |FROM (
        |  SELECT (SELECT COUNT(DISTINCT codigo_produto) FROM fact) AS n_fact_keys,
        |         (SELECT COUNT(DISTINCT codigo_produto) FROM dim WHERE negocio <> 'ECONOMY') AS n_dim_keys,
        |         (SELECT COUNT(*) FROM (
        |            SELECT DISTINCT codigo_produto FROM fact
        |            EXCEPT
        |            SELECT codigo_produto FROM dim WHERE negocio <> 'ECONOMY')) AS n_missing
        |)""".stripMargin)))

  /** Key normalization + accent folding (SURVEY §7 hard-part 5): keys
    * padded with whitespace still join after [[graft.operators.Cleaning.normalizeKeys]];
    * accented names fold to ASCII identically in both engines.
    */
  val normalizeKeys = QueryDef(
    "c_normalize_keys",
    (s, dir) => {
      val messy = Tables.analiseComercial(s, dir).select(
        col("rid"),
        concat(lit(" "), col("codigo_produto"), lit("  ")).as("codigo_produto"),
        concat(lit("João Ação Élite "), col("uf")).as("nome_raw"))
      Cleaning.normalizeKeys(messy, Seq("codigo_produto"))
        .join(Tables.classificacaoProdutos(s, dir).select("codigo_produto", "negocio"),
          Seq("codigo_produto"), "left")
        .groupBy("negocio")
        .agg(count(lit(1)).as("n_linhas"),
          countDistinct(Cleaning.stripAccents(col("nome_raw"))).as("n_nomes_ascii"))
    },
    Some(withViews(
      s"""SELECT d.negocio, COUNT(*) AS n_linhas,
         |       COUNT(DISTINCT translate('João Ação Élite ' || f.uf,
         |         'áàâãäéèêëíìîïóòôõöúùûüçñÁÀÂÃÄÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇÑ',
         |         'aaaaaeeeeiiiiooooouuuucnAAAAAEEEEIIIIOOOOOUUUUCN')) AS n_nomes_ascii
         |FROM (SELECT rid, trim(' ' || codigo_produto || '  ') AS codigo_produto, uf FROM fact) f
         |LEFT JOIN dim d ON f.codigo_produto = d.codigo_produto
         |GROUP BY d.negocio""".stripMargin)))

  /** Top-3 products per state by total value (extension: top-k per
    * group — SURVEY §2.6 notes the reference lacks it). Tie-broken by
    * product code for determinism.
    */
  val topKGroup = QueryDef(
    "w_topk_per_group",
    (s, dir) => {
      val perProduct = Tables.analiseComercial(s, dir)
        .groupBy("uf", "codigo_produto")
        .agg(round(sum("valor_orcado"), 2).as("valor_total"))
      Views.topKPerGroup(perProduct, Seq("uf"),
        Seq(col("valor_total").desc, col("codigo_produto").asc), k = 3)
    },
    Some(withViews(
      """SELECT uf, codigo_produto, valor_total FROM (
        |  SELECT uf, codigo_produto, ROUND(SUM(valor_orcado), 2) AS valor_total
        |  FROM fact GROUP BY uf, codigo_produto
        |) QUALIFY ROW_NUMBER() OVER (PARTITION BY uf
        |                             ORDER BY valor_total DESC, codigo_produto ASC) <= 3""".stripMargin)))

  /** Rolling 7-day customer spend (extension: a RANGE-frame window —
    * time-based, not row-based, so gaps in the order history widen the
    * frame correctly). Day totals are pre-aggregated first, so the
    * window input is (customer × active-day) cardinality and the range
    * frame runs on exact integer epoch-days — the partitioned,
    * gap-correct shape that survives scale (state per partition is the
    * 7-day frame, not the history). Both engines compute the identical
    * integer range frame; sums of 2dp-rounded day totals land far from
    * rounding boundaries, so the final 2dp round is stable.
    */
  val rolling7d = QueryDef(
    "w_rolling_7d",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"), col("o_totalprice"))
        .groupBy("o_custkey", "d")
        .agg(round(sum("o_totalprice"), 2).as("day_total"))
        .withColumn("epoch_day", datediff(col("d"), to_date(lit("1970-01-01"))))
      val w = Window.partitionBy("o_custkey").orderBy(col("epoch_day"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("sum_7d", round(sum("day_total").over(w), 2))
        .select("o_custkey", "d", "day_total", "sum_7d")
    },
    Some("""WITH daily AS (
           |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
           |         ROUND(SUM(o_totalprice), 2) AS day_total,
           |         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS epoch_day
           |  FROM orders GROUP BY 1, 2
           |)
           |SELECT o_custkey, d, day_total,
           |       ROUND(SUM(day_total) OVER (PARTITION BY o_custkey ORDER BY epoch_day
           |                                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS sum_7d
           |FROM daily""".stripMargin))

  /** Exact order statistics (extension): PERCENTILE_DISC — the SQL
    * standard's discrete percentile, which returns an ACTUAL data value
    * (first value with cumulative distribution >= fraction), so the two
    * engines match bit-for-bit with no interpolation-rounding hazard.
    * Scale note: exact percentiles sort each group's values; at the
    * 100 TB tier switch to `percentile_approx` (deterministic GK
    * sketch, mergeable map-side) and keep this as the oracle-able
    * baseline — same pattern as brute-force-vs-IVF in ANN.
    */
  val percentiles = QueryDef(
    "a15_percentile_disc",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").as("p90"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)").as("p99")),
    Some("""SELECT l_returnflag,
           |       quantile_disc(l_extendedprice, 0.5) AS p50,
           |       quantile_disc(l_extendedprice, 0.9) AS p90,
           |       quantile_disc(l_extendedprice, 0.99) AS p99
           |FROM lineitem GROUP BY 1""".stripMargin))

  /** Sketch twin of [[percentiles]] at the SAME grouping, so the bench
    * reports the exact-vs-sketch cost ratio as a measured number
    * (round-4 ask #5) instead of a docstring claim. Oracle contract
    * (round-10 verdict ask #3 — the A16 error-bound pattern): the raw
    * quantile-summary outputs are engine-specific (DuckDB has no
    * GK/KLL twin), so the registered columns are the EXACT percentiles
    * plus booleans asserting each sketch landed within 1% of the
    * group's value range of its exact twin; the oracle recomputes the
    * exact side and pins the booleans TRUE. accuracy=10000 bounds the
    * rank error at n/10000 (~6 rows per group at sf0.01) — orders of
    * magnitude inside the 1%-of-range envelope on this dense column,
    * so the booleans are deterministic, not flaky. At the 100 TB tier
    * the sketch is the percentile you actually run: it merges
    * associatively, so map-side partials shrink the shuffle to one
    * summary per partition where percentile_disc moves and sorts
    * every value. (The exact side joined in here is the same
    * aggregate `a15_percentile_disc` times standalone, so the
    * sketch-only cost still reads from the bench as
    * approx − disc.)
    */
  val percentilesApprox = QueryDef(
    "a15_percentile_approx",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val approx = li.groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("__a50"),
          percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000)).as("__a90"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000)).as("__a99"),
          min("l_extendedprice").as("__lo"),
          max("l_extendedprice").as("__hi"))
      val exact = li.groupBy("l_returnflag")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").as("p90"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)").as("p99"))
      val tol = (col("__hi") - col("__lo")) * 0.01
      approx.join(exact, "l_returnflag")
        .select(
          col("l_returnflag"), col("p50"), col("p90"), col("p99"),
          (abs(col("__a50") - col("p50")) <= tol).as("p50_ok"),
          (abs(col("__a90") - col("p90")) <= tol).as("p90_ok"),
          (abs(col("__a99") - col("p99")) <= tol).as("p99_ok"))
    },
    Some("""SELECT l_returnflag,
           |       quantile_disc(l_extendedprice, 0.5) AS p50,
           |       quantile_disc(l_extendedprice, 0.9) AS p90,
           |       quantile_disc(l_extendedprice, 0.99) AS p99,
           |       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
           |FROM lineitem GROUP BY 1""".stripMargin))

  /** Mergeable-sketch scale path for the exact aggregates
    * ([[percentiles]], the metrics count-distincts): HLL++
    * `approx_count_distinct` and `percentile_approx`, oracle-checked AS
    * ERROR BOUNDS. The sketch values themselves are engine-specific
    * (DuckDB has no HLL++/quantile-summary twin), so the registered
    * columns are the EXACT values plus booleans asserting each sketch
    * landed inside its documented envelope; the oracle recomputes the
    * exact values and pins the booleans TRUE. rsd=0.02 is checked at
    * ±10% (5σ); accuracy=10000 at 1% of the value range (rank error
    * ~n/10000 ≪ that here). The bound check — not the raw sketch — is
    * what stays deterministic: HLL registers are per-value maxima
    * (merge-order-free), and any quantile-summary merge-order jitter
    * is absorbed by the envelope. These are THE 100 TB substitutes for
    * exact count-distinct / percentile_disc: both sketches merge
    * associatively, so map-side partials shrink the shuffle to one
    * sketch per partition where the exact forms move every value.
    */
  val approxSketches = QueryDef(
    "a16_approx_sketches",
    (s, dir) => {
      // THREE separate single-row aggregates, combined by a 1×1×1
      // crossJoin — deliberately NOT one agg(...) call: mixing a
      // DISTINCT aggregate with the exact percentile forces an Expand
      // (row multiplication per aggregate group) whose entire output
      // funnels into ONE partial-less sort-aggregate task — measured
      // 270 s at sf0.1 vs ~2 s split (and at 100 TB it simply never
      // finishes). Split, each piece keeps its best plan: the
      // count-distinct is a two-phase hash aggregate, the sketches are
      // mergeable map-side partials, and the exact percentile's
      // TypedImperative buffers merge from per-partition partials.
      // Three column-pruned scans beat one Expand by construction.
      val li = Tables.lineitem(s, dir)
      val nd = li.agg(count_distinct(col("l_partkey")).as("nd_exact"))
      val sk = li.agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("__nd_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("__p50_approx"),
        min("l_extendedprice").as("__lo"),
        max("l_extendedprice").as("__hi"))
      val pd = li.agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50_exact"))
      nd.crossJoin(sk).crossJoin(pd)
        .select(
          col("nd_exact"),
          (abs(col("__nd_approx") - col("nd_exact")) <= col("nd_exact") * 0.1).as("nd_ok"),
          col("p50_exact"),
          (abs(col("__p50_approx") - col("p50_exact")) <= (col("__hi") - col("__lo")) * 0.01)
            .as("p50_ok"))
    },
    Some("""SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_exact, TRUE AS nd_ok,
           |       quantile_disc(l_extendedprice, 0.5) AS p50_exact, TRUE AS p50_ok
           |FROM lineitem""".stripMargin))

  /** Hierarchical totals in one pass: ROLLUP over (uf, cidade) — the
    * multi-level aggregate the reference builds with separate
    * groupby calls per level (state tab + city tab + grand total).
    * One shuffle computes all three levels; rollup keys surface as
    * the `__TOTAL__` sentinel (not NULL) so the key columns stay
    * non-nullable for downstream equality joins — same convention as
    * `ann_recall`'s q_id = -1 summary row.
    */
  val rollupGeo = QueryDef(
    "a17_rollup_geo",
    (s, dir) =>
      Tables.analiseComercial(s, dir)
        .rollup(col("uf"), col("cidade"))
        .agg(count(lit(1)).as("n_linhas"), round(sum("valor_orcado"), 2).as("valor_total"))
        .select(
          coalesce(col("uf"), lit("__TOTAL__")).as("uf"),
          coalesce(col("cidade"), lit("__TOTAL__")).as("cidade"),
          col("n_linhas"), col("valor_total")),
    Some(withViews(
      """SELECT COALESCE(uf, '__TOTAL__') AS uf,
        |       COALESCE(cidade, '__TOTAL__') AS cidade,
        |       COUNT(*) AS n_linhas,
        |       ROUND(SUM(valor_orcado), 2) AS valor_total
        |FROM fact GROUP BY ROLLUP(uf, cidade)""".stripMargin)))

  /** CUBE over (uf, status_processo) — A17's sibling for NON-nested
    * dimensions: ROLLUP emits the hierarchy's 3 levels, CUBE all 4
    * subset combinations (including the per-status totals across
    * states a rollup can't produce), still in ONE shuffle via the
    * same Expand strategy — where the reference recomputes each
    * Streamlit tab's breakdown with a separate pandas groupby. Same
    * `__TOTAL__` sentinel contract as A17 (both dims are non-null in
    * the fact, so the sentinel is unambiguous and downstream join
    * keys stay non-nullable).
    */
  val cubeStatus = QueryDef(
    "a18_cube_status",
    (s, dir) =>
      Tables.analiseComercial(s, dir)
        .cube(col("uf"), col("status_processo"))
        .agg(count(lit(1)).as("n_linhas"), round(sum("valor_orcado"), 2).as("valor_total"))
        .select(
          coalesce(col("uf"), lit("__TOTAL__")).as("uf"),
          coalesce(col("status_processo"), lit("__TOTAL__")).as("status_processo"),
          col("n_linhas"), col("valor_total")),
    Some(withViews(
      """SELECT COALESCE(uf, '__TOTAL__') AS uf,
        |       COALESCE(status_processo, '__TOTAL__') AS status_processo,
        |       COUNT(*) AS n_linhas,
        |       ROUND(SUM(valor_orcado), 2) AS valor_total
        |FROM fact GROUP BY CUBE(uf, status_processo)""".stripMargin)))

  /** GROUPING SETS — the third grouping construct beside A17's ROLLUP
    * (hierarchy prefixes) and A18's CUBE (all subsets): EXACTLY the
    * requested combinations, here the two one-dimensional marginals
    * (per-state and per-status totals) WITHOUT the pair level a cube
    * would also compute — the shape for dashboards that show several
    * independent breakdowns of one fact scan. Spark's DataFrame API
    * has no direct grouping-sets verb, so this goes through the SQL
    * surface over a registered temp view ([[graft.operators.Views.sqlOn]]'s escape
    * hatch applied Spark-first); still ONE shuffle via the same
    * Expand strategy. Same `__TOTAL__` sentinel contract as A17/A18.
    */
  val groupingSets = QueryDef(
    "a23_grouping_sets",
    (s, dir) => {
      Tables.analiseComercial(s, dir).createOrReplaceTempView("graft_fact_gs")
      s.sql("""
        SELECT COALESCE(uf, '__TOTAL__') AS uf,
               COALESCE(status_processo, '__TOTAL__') AS status_processo,
               COUNT(*) AS n_linhas,
               ROUND(SUM(valor_orcado), 2) AS valor_total
        FROM graft_fact_gs
        GROUP BY GROUPING SETS ((uf), (status_processo))""")
    },
    Some(withViews(
      """SELECT COALESCE(uf, '__TOTAL__') AS uf,
        |       COALESCE(status_processo, '__TOTAL__') AS status_processo,
        |       COUNT(*) AS n_linhas,
        |       ROUND(SUM(valor_orcado), 2) AS valor_total
        |FROM fact GROUP BY GROUPING SETS ((uf), (status_processo))""".stripMargin)))

  /** Status-mix pivot per state (extension; the reference renders the
    * same mix as Streamlit metrics). Explicit pivot values keep the
    * output schema static — the scalable form (no extra distinct pass,
    * deterministic columns).
    */
  val pivotStatus = QueryDef(
    "w_pivot_status",
    (s, dir) =>
      Tables.analiseComercial(s, dir)
        .groupBy("uf")
        .pivot("status_processo", Seq("PENDENTE", "F", "O"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("PENDENTE", "F", "O")),
    Some(withViews(
      """SELECT uf,
        |       CAST(SUM(CASE WHEN status_processo = 'PENDENTE' THEN 1 ELSE 0 END) AS BIGINT) AS PENDENTE,
        |       CAST(SUM(CASE WHEN status_processo = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        |       CAST(SUM(CASE WHEN status_processo = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
        |FROM fact GROUP BY uf""".stripMargin)))

  /** Pivot → melt round-trip ([[graft.operators.Views.melt]]): the status pivot
    * reshaped back to long form — one (uf, status, n) row per cell,
    * INCLUDING the zero-filled cells the pivot materialized (which a
    * direct group-by would omit; the oracle's UNION ALL over the pivot
    * CTE reproduces exactly that). Proves the wide↔long pair inverts.
    */
  val meltStatus = QueryDef(
    "w_melt_status",
    (s, dir) =>
      Views.melt(
        Tables.analiseComercial(s, dir)
          .groupBy("uf")
          .pivot("status_processo", Seq("PENDENTE", "F", "O"))
          .agg(count(lit(1)))
          .na.fill(0, Seq("PENDENTE", "F", "O")),
        idCols = Seq("uf"), valueCols = Seq("PENDENTE", "F", "O"),
        varName = "status_processo", valueName = "n"),
    Some(withViews(
      """, p AS (
        |  SELECT uf,
        |         CAST(SUM(CASE WHEN status_processo = 'PENDENTE' THEN 1 ELSE 0 END) AS BIGINT) AS pend,
        |         CAST(SUM(CASE WHEN status_processo = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
        |         CAST(SUM(CASE WHEN status_processo = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o
        |  FROM fact GROUP BY uf
        |)
        |SELECT uf, 'PENDENTE' AS status_processo, pend AS n FROM p
        |UNION ALL SELECT uf, 'F', f FROM p
        |UNION ALL SELECT uf, 'O', o FROM p""".stripMargin)))

  /** Week-over-week pending delta (extension: lead/lag — absent from
    * the reference per SURVEY §2.5).
    */
  val deltaSemanas = QueryDef(
    "u_delta_semanas",
    (s, dir) => {
      val fact = Tables.analiseComercial(s, dir)
      val snaps = Seq("1995", "1996", "1997").map(y =>
        s"Semana $y" -> fact.filter(year(col("dt_entrada")) === y.toInt))
      Pendentes.deltaSemanas(Pendentes.unionSemanas(snaps))
    },
    Some(withViews(
      """SELECT semana, n_pendentes, valor_total,
        |       n_pendentes - LAG(n_pendentes, 1) OVER (ORDER BY semana) AS delta_n,
        |       ROUND(valor_total - LAG(valor_total, 1) OVER (ORDER BY semana), 2) AS delta_valor
        |FROM (
        |  SELECT semana, COUNT(*) AS n_pendentes, ROUND(SUM(valor_proposta), 2) AS valor_total
        |  FROM (
        |    SELECT 'Semana 1995' AS semana, * FROM fact
        |      WHERE year(dt_entrada) = 1995 AND status_processo = 'PENDENTE'
        |    UNION ALL
        |    SELECT 'Semana 1996' AS semana, * FROM fact
        |      WHERE year(dt_entrada) = 1996 AND status_processo = 'PENDENTE'
        |    UNION ALL
        |    SELECT 'Semana 1997' AS semana, * FROM fact
        |      WHERE year(dt_entrada) = 1997 AND status_processo = 'PENDENTE'
        |  ) GROUP BY semana
        |)""".stripMargin)))

  /** S6+C13: export-sink round-trip. Writes the fact year-partitioned
    * ([[graft.sources.Sink.saveFactByYear]]) to a C13-shaped
    * timestamped directory (fixed stamp — the clock is injectable
    * precisely so pipelines can pin it), reads it back filtered to ONE
    * year, and aggregates. The oracle computes the same aggregate from
    * the source tables, so a round-trip that drops, duplicates, or
    * mistypes rows fails the compare. PlanSpec pins that the re-read
    * scans only the `ano=1997` directory (PartitionFilters pruning) —
    * the property that makes the layout worth writing at 100 TB.
    */
  val sinkRoundtrip = QueryDef(
    "s6_c13_sink_roundtrip",
    (s, dir) => {
      val path = s"${tmpPath(dir, "graft_s6_roundtrip")}/fact_19970101_000000"
      Sink.saveFactByYear(Tables.analiseComercial(s, dir), path)
      s.read.parquet(path)
        .filter(col("ano") === 1997)
        .groupBy("ano", "status_processo")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("valor_orcado"), 2).as("valor_total"))
    },
    Some(withViews(
      """SELECT CAST(year(dt_entrada) AS INT) AS ano, status_processo,
        |       COUNT(*) AS n_rows, ROUND(SUM(valor_orcado), 2) AS valor_total
        |FROM fact WHERE year(dt_entrada) = 1997
        |GROUP BY 1, 2""".stripMargin)))

  /** S8: ORC sink round-trip — the second native columnar format
    * beside parquet (Spark ships the ORC reader/writer in core; a
    * warehouse migrating between the two needs both legs of the
    * bridge). Exercises the SAME year-partitioned sink
    * ([[graft.sources.Sink.saveFactByYear]]) with `format = "orc"`, reads back
    * through the ORC scan, and aggregates typed columns (count +
    * rounded decimal sum) — the oracle is the direct SQL over the
    * source parquet, so any type or value corruption in the ORC
    * round-trip (timestamps, decimals, strings) hash-fails. DuckDB
    * cannot read ORC, which is exactly why the round-trip-to-
    * aggregate shape is the right oracle here (the s6_c13 posture).
    */
  val orcRoundtrip = QueryDef(
    "s8_orc_roundtrip",
    (s, dir) => {
      val path = s"${tmpPath(dir, "graft_s8_orc")}/fact_19960101_000000"
      Sink.saveFactByYear(Tables.analiseComercial(s, dir), path, format = "orc")
      s.read.orc(path)
        .filter(col("ano") === 1996)
        .groupBy("ano", "status_processo")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("valor_orcado"), 2).as("valor_total"))
    },
    Some(withViews(
      """SELECT CAST(year(dt_entrada) AS INT) AS ano, status_processo,
        |       COUNT(*) AS n_rows, ROUND(SUM(valor_orcado), 2) AS valor_total
        |FROM fact WHERE year(dt_entrada) = 1996
        |GROUP BY 1, 2""".stripMargin)))

  /** Join-key skew audit ([[graft.operators.Skew.keyHistogram]]): top-20 heaviest
    * fact join keys with deterministic tie-break — the number read
    * BEFORE deciding whether `j_salted_skew`'s salting is worth its
    * shuffle overhead; plans as TakeOrdered over the key aggregate,
    * never a full sort.
    */
  val skewHistogram = QueryDef(
    "j_skew_histogram",
    (s, dir) =>
      Skew.keyHistogram(Tables.analiseComercial(s, dir),
        Seq("codigo_produto"), topN = 20),
    Some(withViews(
      """SELECT codigo_produto, COUNT(*) AS n_rows
        |FROM fact GROUP BY 1
        |ORDER BY n_rows DESC, codigo_produto ASC LIMIT 20""".stripMargin)))

  /** Salted-join semantics proof: [[graft.operators.Skew.saltedJoin]] must be
    * row-identical to the plain join it replaces — the oracle IS the
    * plain SQL join, so any salt-induced row loss/duplication fails
    * the compare. (The salt's value is load-spreading, which the
    * oracle cannot see; the row-identity contract is what it can.)
    */
  val saltedSkewJoin = QueryDef(
    "j_salted_skew",
    (s, dir) =>
      Skew.saltedJoin(
        Tables.analiseComercial(s, dir),
        Tables.classificacaoProdutos(s, dir).select("codigo_produto", "negocio"),
        Seq("codigo_produto"), salts = 8, how = "left")
        .groupBy("negocio")
        .agg(count(lit(1)).as("n_linhas"), round(sum("valor_orcado"), 2).as("valor_total")),
    Some(withViews(
      """SELECT d.negocio, COUNT(*) AS n_linhas,
        |       ROUND(SUM(f.valor_orcado), 2) AS valor_total
        |FROM fact f LEFT JOIN (SELECT codigo_produto, negocio FROM dim) d
        |  ON f.codigo_produto = d.codigo_produto
        |GROUP BY d.negocio""".stripMargin)))

  /** Dynamic-SQL escape hatch ([[graft.operators.Views.sqlOn]] — the safe replacement
    * for the reference's `exec()` of user-typed Python, MAC:1048-1058):
    * register the fact as a view, run user SQL against it. The oracle
    * runs the equivalent SQL directly, proving the round-trip through
    * the temp-view registration changes nothing.
    */
  val sqlEscapeHatch = QueryDef(
    "v_sql_escape_hatch",
    (s, dir) =>
      Views.sqlOn(s, Tables.analiseComercial(s, dir), "fact_user_view",
        """SELECT uf, status_processo, COUNT(*) AS n_rows,
          |       ROUND(SUM(valor_proposta), 2) AS valor_total
          |FROM fact_user_view GROUP BY uf, status_processo""".stripMargin),
    Some(withViews(
      """SELECT uf, status_processo, COUNT(*) AS n_rows,
        |       ROUND(SUM(valor_proposta), 2) AS valor_total
        |FROM fact GROUP BY uf, status_processo""".stripMargin)))

  /** Temp output root for round-trip queries, keyed by the source dir:
    * a PlanSpec run at one SF must not clobber a concurrent
    * Verify/Bench round-trip at another.
    */
  private def tmpPath(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/$name/${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** S1 (csv leg): write a dimension as headered CSV via the sink,
    * read it back through `graft.sources.Load.load`'s
    * extension-dispatch + schema inference, and prove the values
    * survived the text round-trip. Parquet S1 is exercised by every
    * other query; this row covers the reference's
    * tabular-text-file bridge. The writer pins whitespace preservation
    * (Spark's CSV writer trims by default); note empty strings still
    * read back as null — a CSV format limit, not a loader bug.
    */
  val csvRoundtrip = QueryDef(
    "s1_csv_roundtrip",
    (s, dir) => {
      val path = s"${tmpPath(dir, "graft_s1_csv")}/nation.csv"
      Sink.save(Tables.nation(s, dir).select("n_nationkey", "n_name"), path,
        format = "csv", options = Map(
          "header" -> "true",
          "ignoreLeadingWhiteSpace" -> "false",
          "ignoreTrailingWhiteSpace" -> "false"))
      graft.sources.Load.load(s, path)
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
    },
    Some("SELECT n_nationkey, n_name FROM nation"))

  /** S1 (json leg): same round-trip as [[csvRoundtrip]] through the
    * JSON branch of the extension dispatch — with this row all three
    * `Load.load` branches (parquet: every query, csv, json) are
    * oracle-proven.
    */
  val jsonRoundtrip = QueryDef(
    "s1_json_roundtrip",
    (s, dir) => {
      val path = s"${tmpPath(dir, "graft_s1_json")}/region.json"
      Sink.save(Tables.region(s, dir).select("r_regionkey", "r_name"), path, format = "json")
      graft.sources.Load.load(s, path)
        .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
    },
    Some("SELECT r_regionkey, r_name FROM region"))

  /** S1 (explicit-schema leg): the 100 TB read posture, oracle-proven.
    * Writes a mixed-type (long/string/double) customer slice as CSV,
    * reads it back through `Load.load(spark, path, schema)` — the
    * branch that plans straight against the declared types with NO
    * inference pass (the zero-inference-jobs property is pinned by a
    * SparkListener spec in LoadSpec; this row proves the VALUES survive
    * the declared-type text round-trip, doubles included: Spark's CSV
    * writer emits shortest-round-trip doubles, so double→text→double
    * is bit-exact).
    */
  val schemaRoundtrip = QueryDef(
    "s1_schema_roundtrip",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val path = s"${tmpPath(dir, "graft_s1_schema")}/customer.csv"
      Sink.save(
        Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal"), path,
        format = "csv", options = Map(
          "header" -> "true",
          "ignoreLeadingWhiteSpace" -> "false",
          "ignoreTrailingWhiteSpace" -> "false"))
      val declared = StructType(Seq(
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType)))
      graft.sources.Load.load(s, path, declared)
    },
    Some("SELECT c_custkey, c_name, c_acctbal FROM customer"))

  /** S6b: bucketed co-located join ([[graft.sources.Sink.saveBucketed]]). Both join
    * sides are written bucketed by the join key with the same bucket
    * count, then joined via `spark.table` — the join itself runs with
    * NO shuffle on either side (pinned by PlanSpec's exchange-free
    * assertion; the only exchange left in this query is the one the
    * post-join aggregation genuinely needs). This is the write-once,
    * join-many layout that amortizes a 100 TB fact×fact shuffle into
    * the write path. The oracle replays the same join+agg over the raw
    * parquet — proving the bucketed layout changes results not at all.
    */
  val bucketedJoin = QueryDef(
    "s6b_bucketed_join",
    (s, dir) => {
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val lt = s"graft_bkt_lineitem_$suffix"
      val ot = s"graft_bkt_orders_$suffix"
      Sink.saveBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_quantity", "l_extendedprice"),
        lt, Seq("l_orderkey"), numBuckets = 8, sortCols = Seq("l_orderkey"))
      Sink.saveBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        ot, Seq("o_orderkey"), numBuckets = 8, sortCols = Seq("o_orderkey"))
      s.table(lt)
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_lines"), round(sum("l_extendedprice"), 2).as("sum_price"))
    },
    Some("""SELECT o_custkey, COUNT(*) AS n_lines,
           |       ROUND(SUM(l_extendedprice), 2) AS sum_price
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY 1""".stripMargin))

  /** S3/S4: source structure probe — column inventory of a table. */
  val describeSource = QueryDef(
    "s3_s4_describe_source",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir).columns.toSeq.toDF("column_name")
    },
    Some("SELECT column_name FROM (DESCRIBE SELECT * FROM lineitem)"))

  /** EP2 end-to-end composite — the reference's canonical pipeline
    * (SURVEY §3 EP2: `análise_produtos_clientes.py` top to bottom) as
    * ONE registered query, proving the proven per-stage operators
    * compose under a single optimizer pass:
    *
    *   1. ABC-classify the fact's clients (W1-W4, `abc_classify`) and
    *      currency-format each client's total (C7, `c7_c8_format`'s
    *      exact integer-cents rendering over the ROUND(…, 2)-stabilized
    *      sum);
    *   2. J1 inner join fact × ABC on cliente (no broadcast hint —
    *      client cardinality, AQE decides) + F4 date-range filter,
    *      pushed below the join to the scan;
    *   3. J2 broadcast enrich with the category dim;
    *   4. A9 ordered history per (subgrupo, produto, cliente) — the
    *      client-level ABC columns ride as functionally-dependent
    *      group keys (no second join back);
    *   5. A10/C10 display collapse (uniform motivo list → scalar).
    *
    * One pass = scan → [ABC agg + windows at CLIENT cardinality] →
    * join → one history shuffle; nothing materializes between stages.
    */
  val pipelineEp2 = QueryDef(
    "pipeline_ep2",
    (s, dir) => {
      val fact = Tables.analiseComercial(s, dir)
      val abc = Abc.classify(fact)
        .withColumn("cents",
          floor(round(col("valor_total_orcado"), 2) * 100 + 0.5).cast("long"))
        .select(col("cliente"), col("abc"),
          concat(lit("R$ "),
            format_number(expr("cents DIV 100"), 0),
            lit("."),
            lpad((col("cents") % 100).cast("string"), 2, "0")).as("valor_cliente_fmt"))
      val j1 = fact
        .filter(col("dt_entrada").between(lit("1996-01-01"), lit("1996-12-31")))
        .join(abc, Seq("cliente"))
      val enriched = Enrich.joinCategorias(j1, Tables.classificacaoProdutos(s, dir))
      History.historico(enriched,
        keys = Seq("subgrupo", "codigo_produto", "cliente", "abc", "valor_cliente_fmt"))
        .select(
          col("subgrupo"), col("codigo_produto"), col("cliente"),
          col("abc"), col("valor_cliente_fmt"), col("n_propostas"),
          Views.joinList(col("datas_entrada"), "; ").as("datas_display"),
          History.collapseIfUniform("motivos_nao_venda").as("motivo_display"),
          col("ultima_data"), col("ultimo_consultor"))
    },
    Some(withAbc(
      // continues withAbc's WITH-chain: leading comma, not a new WITH
      """, abcv AS (
        |  SELECT cliente, abc,
        |         'R$ ' || format('{:,}', cents // 100) || '.' ||
        |           lpad(CAST(cents % 100 AS VARCHAR), 2, '0') AS valor_cliente_fmt
        |  FROM (SELECT cliente, abc,
        |               CAST(floor(ROUND(valor_total_orcado, 2) * 100 + 0.5) AS BIGINT) AS cents
        |        FROM abc)
        |),
        |enr AS (
        |  SELECT f.*, COALESCE(f.motivo_nao_venda, '') AS motivo_nn,
        |         a.abc, a.valor_cliente_fmt, d.subgrupo
        |  FROM fact f
        |  JOIN abcv a ON f.cliente = a.cliente
        |  LEFT JOIN dim d ON f.codigo_produto = d.codigo_produto
        |  WHERE f.dt_entrada BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |)
        |SELECT subgrupo, codigo_produto, cliente, abc, valor_cliente_fmt,
        |       COUNT(*) AS n_propostas,
        |       array_to_string(LIST(strftime(dt_entrada, '%d/%m/%Y')
        |            ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST), '; ') AS datas_display,
        |       CASE WHEN len(list_distinct(LIST(motivo_nn))) = 1
        |            THEN (LIST(motivo_nn ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST))[1]
        |            ELSE array_to_string(LIST(motivo_nn
        |                 ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST), ', ') END AS motivo_display,
        |       strftime(MAX(dt_entrada), '%d/%m/%Y') AS ultima_data,
        |       (LIST(consultor_interno
        |             ORDER BY dt_entrada, rid, prob_fech NULLS FIRST, motivo_nn, consultor_interno NULLS FIRST))[-1] AS ultimo_consultor
        |FROM enr WHERE dt_entrada IS NOT NULL
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin)))

  val all: Seq[QueryDef] = Seq(
    projectRename, filterPendente, filtrarWildcard, dropAllNull, dropDupOrdered,
    innerJoinAbc, leftJoinDedup, leftJoinDefault, groupbyFirst, argmax,
    historico, historicoCapped, collapseUniform, distinctTriples, distinctSorted, metrics,
    unionSemanas, missingFromDim, paginate, dates, formats, describeSource,
    coerceFill, ffill, fuzzyNames, fuzzyNamesEd2, corrGeo, olsGeo, sketchReuse, iqrTrim, madTrim, madTrimApprox, qcutBins, schemaAlign, sortParam, tuplaDisplay, compatReport, normalizeKeys,
    topKGroup, rolling7d, percentiles, percentilesApprox, approxSketches, rollupGeo, cubeStatus, groupingSets, pivotStatus, meltStatus, deltaSemanas,
    sinkRoundtrip, csvRoundtrip, jsonRoundtrip,
    schemaRoundtrip, bucketedJoin, orcRoundtrip, skewHistogram, saltedSkewJoin, sqlEscapeHatch, pipelineEp2)
}
