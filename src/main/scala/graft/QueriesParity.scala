package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Readers, Writers}
import graft.ops.{Dedup, Layout, Multimodal, Ranks, SimSearch, Skew, TextStats, TopK}
import graft.transform.{Canonicalize, Enrich, Harmonize, Normalize}
import graft.quality.Expectations._
import graft.streaming.{EventStreams, Staging}

/** Reference-parity tier (SURVEY.md §2): the medallion select/filter/join/agg/union/DQ surface.
  *
  * Mechanical split of the former single-file catalog (r10 verdict
  * hygiene note): one trait per family, linear chain, zero behavior
  * change. `Queries` mixes the chain in; each query registers once in
  * `Queries.declared`, plan and oracle SQL together.
  */
trait QueriesParity extends QBase {
  // ================================================================ parity

  /** Flagship (E4 gold shape): fact ⋈ dim inner, ⋈ dim left, group, avg.
    * J1+J2+A1-A4+P13 (SURVEY §2.4, §2.5, §3.3).
    */
  val goldFlagship: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    li.join(o, col("l_orderkey") === col("o_orderkey"), "inner")
      .join(c, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("c_mktsegment"), col("o_orderstatus"))
  }

  val goldFlagshipSql: String =
    """SELECT c_mktsegment, o_orderstatus, count(*) AS n_rows,
      | sum(l_quantity) AS sum_qty,
      | round(sum(l_quantity)/count(*), 6) AS avg_qty,
      | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | LEFT JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  /** X1/P7: rule-table canonicalization folded into one Project. */
  val canonicalize: Q = (s, dir) => {
    val rules = Seq(
      Canonicalize.Rule("c_name", "Customer#0*", "CUST "),
      Canonicalize.Rule("c_name", "\\s+", " "),
      Canonicalize.Rule("c_name", "^\\s+|\\s+$", ""))
    Canonicalize(t(s, dir, "customer"), rules)
      .select(col("c_custkey"), upper(col("c_name")).as("canon_name"))
      .orderBy(col("c_custkey"))
  }

  val canonicalizeSql: String =
    """SELECT c_custkey,
      | upper(regexp_replace(regexp_replace(regexp_replace(c_name,
      |   'Customer#0*', 'CUST ', 'g'), '\s+', ' ', 'g'), '^\s+|\s+$', '', 'g')) AS canon_name
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** X2/P8: split + 0-based getItem with NULL out-of-range (E1:74). */
  val splitGetItem: Q = (s, dir) =>
    t(s, dir, "part").select(
      col("p_partkey"),
      Enrich.splitItem(col("p_name"), " ", 1).as("name_word2"),
      Enrich.splitItem(col("p_type"), " ", 1).as("type_word2"))
      .orderBy(col("p_partkey"))

  val splitGetItemSql: String =
    """SELECT p_partkey,
      | string_split(p_name, ' ')[2] AS name_word2,
      | string_split(p_type, ' ')[2] AS type_word2
      |FROM part ORDER BY p_partkey""".stripMargin

  /** P9/X4/X5/F1: when/isin conditional remap (E4:37-38). */
  val whenIsinRemap: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(Enrich.remapAll(col("o_orderpriority"), Seq(
        (Seq("1-URGENT", "2-HIGH"), "HOT"),
        (Seq("5-LOW"), "COLD"))).as("priority_class"))
      .groupBy(col("priority_class"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("priority_class"))

  val whenIsinRemapSql: String =
    """SELECT CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'HOT'
      |            WHEN o_orderpriority IN ('5-LOW') THEN 'COLD'
      |            ELSE o_orderpriority END AS priority_class,
      | count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** U1+P1+P6: harmonized union of asymmetric schemas (G0a:56-66). */
  val unionHarmonize: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val f1 = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), col("c_name"))
    val f2 = c.filter(col("c_custkey") % 2 === 1)
      .select(col("c_custkey"), col("c_mktsegment"))
    Harmonize.unionAll(Seq(f1, f2)).orderBy(col("c_custkey"))
  }

  val unionHarmonizeSql: String =
    """SELECT c_custkey, c_name, '' AS c_mktsegment FROM customer WHERE c_custkey % 2 = 0
      |UNION ALL
      |SELECT c_custkey, '' AS c_name, c_mktsegment FROM customer WHERE c_custkey % 2 = 1
      |ORDER BY c_custkey""".stripMargin

  /** P11: single-Project column-name normalization (E1:54-58). */
  val renameNormalize: Q = (s, dir) => {
    val messy = t(s, dir, "region").toDF("R-RegionKey", "R Name")
    Normalize.columns(messy).orderBy(col("r_regionkey"))
  }

  val renameNormalizeSql: String =
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

  /** P13/X1/§4.4-c: decimal-comma fix + legacy-semantics casts, ANSI-safe. */
  val castCommaFix: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val sCol = concat(col("user_id").cast("string"), lit(","),
      (col("event_id") % 100).cast("string"))
    val fixed = Enrich.commaToDot(sCol)
    e.select(
      col("event_id"),
      Enrich.toDoubleOrNull(fixed).as("parsed_value"),
      Enrich.legacyStringToInt(fixed).as("int_value"))
      .orderBy(col("event_id"))
  }

  val castCommaFixSql: String =
    """SELECT event_id,
      | CAST(replace(CAST(user_id AS VARCHAR) || ',' || CAST(event_id % 100 AS VARCHAR), ',', '.') AS DOUBLE) AS parsed_value,
      | CAST(trunc(CAST(replace(CAST(user_id AS VARCHAR) || ',' || CAST(event_id % 100 AS VARCHAR), ',', '.') AS DOUBLE)) AS INTEGER) AS int_value
      |FROM events ORDER BY event_id""".stripMargin

  /** Q1-Q3: one-pass DQ violation counts (E1:139-151, SURVEY §2.9). */
  val dqViolations: Q = (s, dir) => {
    val suite = Suite("orders_dq", Seq(
      NotNull("o_orderstatus"),
      NotNull("o_custkey"),
      Between("o_totalprice", 0, 1e7),
      InSet("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
      MatchesRegex("o_orderpriority", "^[0-9]-[A-Z ]+$")))
    val aggs = suite.expectations.map(e =>
      sum(e.violationIndicator).as(s"v_${e.kind}_${e.column}"))
    t(s, dir, "orders").agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  val dqViolationsSql: String =
    """SELECT count(*) AS n_rows,
      | CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_not_null_o_orderstatus,
      | CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_not_null_o_custkey,
      | CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 10000000) THEN 1 ELSE 0 END) AS BIGINT) AS v_between_o_totalprice,
      | CAST(sum(CASE WHEN o_orderpriority IS NOT NULL AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW') THEN 1 ELSE 0 END) AS BIGINT) AS v_in_set_o_orderpriority,
      | CAST(sum(CASE WHEN o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z ]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v_matches_regex_o_orderpriority
      |FROM orders""".stripMargin

  /** P10/X3: upper + length. */
  val upperLength: Q = (s, dir) =>
    t(s, dir, "supplier").select(
      col("s_suppkey"),
      Enrich.upperCol(col("s_name")).as("name_uc"),
      length(col("s_name")).as("name_len"))
      .orderBy(col("s_suppkey"))

  val upperLengthSql: String =
    """SELECT s_suppkey, upper(s_name) AS name_uc,
      | CAST(length(s_name) AS INTEGER) AS name_len
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** P3: report projection with unicode/space column names (E4:75-91). */
  val prettyReport: Q = (s, dir) =>
    t(s, dir, "customer")
      .groupBy(col("c_mktsegment").as("Segmento de Mercado"))
      .agg(
        count(lit(1)).as("Número de Clientes"),
        round(decSum(col("c_acctbal"), 2) / count(lit(1)), 4).as("Saldo Médio"))
      .orderBy(col("Segmento de Mercado"))

  val prettyReportSql: String =
    """SELECT c_mktsegment AS "Segmento de Mercado",
      | count(*) AS "Número de Clientes",
      | round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/count(*), 4) AS "Saldo Médio"
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exotic identifiers end-to-end: the reference's en-dash column
    * `quantidade_de_clientes_–_scr` (U+2013 survives the reference's
    * rename loop, E2:151) plus accented/space names. Verify writes this
    * result to parquet and the driver re-reads + hash-compares it, so the
    * full parquet round-trip of the SURVEY §1.2 identifier hazard is on
    * the oracle gate.
    */
  val endashReport: Q = (s, dir) =>
    t(s, dir, "customer")
      .groupBy(col("c_nationkey").as("Nação"))
      .agg(
        count(lit(1)).as("quantidade_de_clientes_–_scr"),
        round(decSum(col("c_acctbal"), 2) / count(lit(1)), 4)
          .as("Saldo Médio – Posição"))
      .orderBy(col("Nação"))

  val endashReportSql: String =
    """SELECT c_nationkey AS "Nação",
      | CAST(count(*) AS BIGINT) AS "quantidade_de_clientes_–_scr",
      | round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/count(*), 4)
      |   AS "Saldo Médio – Posição"
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** Window-function battery: lag/lead, row_number, running decimal sum,
    * 3-row moving average — partition by customer, total order within the
    * partition via (o_orderdate, o_orderkey unique). Running sums use the
    * per-row decimal cast so cross-row accumulation is exact (doubles
    * would differ in ulps between engines' window accumulators).
    */
  val windowBattery: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = w.rowsBetween(-2, Window.currentRow)
    val dec = col("o_totalprice").cast("decimal(18,2)")
    t(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      row_number().over(w).as("seq"),
      sum(dec).over(wRun).cast("double").as("run_total"),
      round(sum(dec).over(wMov).cast("double") / count(lit(1)).over(wMov), 4)
        .as("mov_avg3"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowBatterySql: String =
    """SELECT o_custkey, o_orderkey,
      | lag(o_totalprice) OVER w AS prev_price,
      | lead(o_totalprice) OVER w AS next_price,
      | CAST(row_number() OVER w AS INTEGER) AS seq,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total,
      | round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** GROUPING SETS with grouping() markers (generalizes q32 rollup /
    * q33 cube). Expressed via spark.sql — grouping sets have no
    * DataFrame-API form.
    */
  val groupingSetsQ: Q = (s, dir) => {
    t(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        | CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      | CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      | CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
      | CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin

  /** Deterministic stratified sampling: the sample membership is a pure
    * function of the row key (first md5 hex digit), so the sample is
    * reproducible across engines, runs, and partitionings — unlike
    * rand()/TABLESAMPLE. Per-stratum rates via the digit threshold
    * (F 25%, O 12.5%, P 50%).
    */
  val hashSample: Q = (s, dir) =>
    t(s, dir, "orders")
      .withColumn("h", substring(md5(col("o_orderkey").cast("string")), 1, 1))
      .filter(
        (col("o_orderstatus") === "F" && col("h") < "4") ||
          (col("o_orderstatus") === "O" && col("h") < "2") ||
          (col("o_orderstatus") === "P" && col("h") < "8"))
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))

  val hashSampleSql: String =
    """SELECT o_orderkey, o_orderstatus FROM (
      | SELECT o_orderkey, o_orderstatus,
      |  substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS h
      | FROM orders) x
      |WHERE (o_orderstatus = 'F' AND h < '4')
      |   OR (o_orderstatus = 'O' AND h < '2')
      |   OR (o_orderstatus = 'P' AND h < '8')
      |ORDER BY o_orderkey""".stripMargin

  /** Range join (equality + time-band): events of the same user within
    * 5 minutes AFTER each event — burst detection. The equality key
    * (user) bounds the join: the shuffle clusters by user and the band is
    * a probe-side condition, so no cross product ever forms; for pure
    * range joins (no equality key) the same shape works with a time-bin
    * bucket key on both sides.
    */
  val rangeJoinBursts: Q = (s, dir) => {
    val e = Tables.events(s, dir)
    val l = e.select(col("event_id").as("eid"), col("user_id").as("uid"),
      col("ts").as("t0"))
    val r = e.select(col("event_id").as("eid2"), col("user_id").as("uid2"),
      col("ts").as("t1"), col("value"))
    l.join(r, col("uid") === col("uid2") && col("t1") > col("t0") &&
        col("t1") <= col("t0") + expr("INTERVAL 5 MINUTES"))
      .groupBy(col("eid"))
      .agg(count(lit(1)).as("n_followers"), decSum(col("value"), 2).as("follower_value"))
      .orderBy(col("eid"))
  }

  val rangeJoinBurstsSql: String =
    """SELECT l.event_id AS eid,
      | CAST(count(*) AS BIGINT) AS n_followers,
      | CAST(sum(CAST(r.value AS DECIMAL(18,2))) AS DOUBLE) AS follower_value
      |FROM events l JOIN events r
      |  ON r.user_id = l.user_id AND r.ts > l.ts
      | AND r.ts <= l.ts + INTERVAL 5 MINUTE
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Unpivot/melt (inverse of q37 pivot): conditional-agg a wide frame,
    * then melt metric columns into (status, metric, n) long form via
    * Dataset.unpivot — one narrow map after the aggregate, no shuffle.
    */
  val unpivotMetrics: Q = (s, dir) => {
    val wide = t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"),
        count(when(col("o_orderpriority") === "2-HIGH", 1)).as("n_high"),
        count(when(col("o_orderpriority") === "5-LOW", 1)).as("n_low"))
    wide.unpivot(
      ids = Array(col("o_orderstatus")),
      values = Array(col("n_urgent"), col("n_high"), col("n_low")),
      variableColumnName = "metric", valueColumnName = "n")
      .orderBy(col("o_orderstatus"), col("metric"))
  }

  val unpivotMetricsSql: String =
    """WITH wide AS (
      | SELECT o_orderstatus,
      |  CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
      |  CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS n_high,
      |  CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS n_low
      | FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderstatus, 'n_urgent' AS metric, n_urgent AS n FROM wide
      |UNION ALL SELECT o_orderstatus, 'n_high', n_high FROM wide
      |UNION ALL SELECT o_orderstatus, 'n_low', n_low FROM wide
      |ORDER BY o_orderstatus, metric""".stripMargin

  /** SCD1 merge/upsert: a base snapshot merged with an updates delta —
    * updated rows override, unmatched updates insert, the rest carry over.
    * Expressed as a full outer join + coalesce (the portable MERGE INTO):
    * one shuffle on the merge key; at scale the base side would be
    * bucketed on the key so only the delta shuffles.
    */
  val mergeUpsert: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val base = c.filter(col("c_custkey") < 1000)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val updates = c.filter(col("c_custkey") >= 500 && col("c_custkey") < 1200)
      .select(col("c_custkey").as("u_custkey"),
        lit("UPDATED").as("u_mktsegment"),
        round(col("c_acctbal") + 100.0, 2).as("u_acctbal"))
    base.join(updates, col("c_custkey") === col("u_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("u_custkey")).as("custkey"),
        coalesce(col("u_mktsegment"), col("c_mktsegment")).as("mktsegment"),
        coalesce(col("u_acctbal"), col("c_acctbal")).as("acctbal"))
      .orderBy(col("custkey"))
  }

  val mergeUpsertSql: String =
    """WITH base AS (
      | SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_custkey < 1000),
      |updates AS (
      | SELECT c_custkey AS u_custkey, 'UPDATED' AS u_mktsegment,
      |  round(c_acctbal + 100.0, 2) AS u_acctbal
      | FROM customer WHERE c_custkey >= 500 AND c_custkey < 1200)
      |SELECT coalesce(c_custkey, u_custkey) AS custkey,
      | coalesce(u_mktsegment, c_mktsegment) AS mktsegment,
      | coalesce(u_acctbal, c_acctbal) AS acctbal
      |FROM base FULL OUTER JOIN updates ON c_custkey = u_custkey
      |ORDER BY custkey""".stripMargin

  /** PII anonymization pass: irreversible keyed hash (sha2-256) for join
    * keys, regex masking for quasi-identifiers — pure narrow map, the
    * shape of a compliance scrub over 100 TB.
    */
  val anonymize: Q = (s, dir) =>
    t(s, dir, "customer").select(
      sha2(concat(lit("pepper:"), col("c_name")), 256).as("name_hash"),
      regexp_replace(col("c_name"), "[0-9]", "X").as("name_masked"),
      col("c_mktsegment"))
      .orderBy(col("name_hash"))

  val anonymizeSql: String =
    """SELECT sha256('pepper:' || c_name) AS name_hash,
      | regexp_replace(c_name, '[0-9]', 'X', 'g') AS name_masked,
      | c_mktsegment
      |FROM customer ORDER BY name_hash""".stripMargin

  /** Schema-based JSON parsing (from_json → struct field access), the
    * typed counterpart of q17's get_json_object.
    */
  val fromJsonStruct: Q = (s, dir) =>
    Tables.events(s, dir).select(
      col("event_id"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").as("k_typed"))
      .orderBy(col("event_id"))

  val fromJsonStructSql: String =
    """SELECT event_id,
      | TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_typed
      |FROM events ORDER BY event_id""".stripMargin

  /** Map-typed columns: build a map from entries, access by key, list the
    * sorted key set (final columns scalar — the driver comparator cannot
    * hash map/array cells).
    */
  val mapOps: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        map_from_arrays(
          array(lit("status"), lit("priority")),
          array(col("o_orderstatus"), col("o_orderpriority"))).as("m"))
      .select(
        col("o_orderkey"),
        col("m").getItem("status").as("m_status"),
        element_at(col("m"), "priority").as("m_priority"),
        array_join(sort_array(map_keys(col("m"))), ",").as("m_keys"),
        size(col("m")).as("m_size"))
      .orderBy(col("o_orderkey"))

  val mapOpsSql: String =
    """SELECT o_orderkey,
      | o_orderstatus AS m_status,
      | o_orderpriority AS m_priority,
      | 'priority,status' AS m_keys,
      | 2 AS m_size
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** min_by/max_by: value of one column at the extremum of another
    * (DuckDB arg_min/arg_max). Extremum column (o_orderkey) is unique per
    * group, so the pick is deterministic.
    */
  val minByMaxBy: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        min_by(col("o_custkey"), col("o_orderkey")).as("first_cust"),
        max_by(col("o_custkey"), col("o_orderkey")).as("last_cust"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderstatus"))

  val minByMaxBySql: String =
    """SELECT o_orderstatus,
      | arg_min(o_custkey, o_orderkey) AS first_cust,
      | arg_max(o_custkey, o_orderkey) AS last_cust,
      | min(o_orderkey) AS min_key,
      | max(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Dedup cluster formation: connected components (min-label fixpoint)
    * over the q23 exact-Jaccard pair list — pairwise matches → clusters →
    * keeper per cluster. Oracle: DuckDB recursive CTE transitive closure
    * over the identical edge set.
    */
  val dedupClusters: Q = (s, dir) => {
    val pairs = Dedup.blockedJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
      Seq("lang", "n_chars"), threshold = 0.5)
    Dedup.clusters(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  val dedupClustersSql: String =
    """WITH RECURSIVE toks AS (
      | SELECT doc_id, lang, n_chars,
      |  list_distinct(regexp_extract_all(lower(text), '\S+')) AS tok
      | FROM documents WHERE length(regexp_extract_all(lower(text), '\S+')) > 0),
      |edges AS (
      | SELECT l.doc_id AS a, r.doc_id AS b
      | FROM toks l JOIN toks r
      |   ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
      | WHERE CAST(length(list_intersect(l.tok, r.tok)) AS DOUBLE) /
      |       length(list_distinct(list_concat(l.tok, r.tok))) >= 0.5),
      |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      |reach AS (SELECT a, b FROM sym
      |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a)
      |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** Quantile-band quality filter: keep documents between p10 and p90 of
    * the per-language length distribution (percent_rank — exact, unlike
    * approx_percentile, so it is oracle-checkable; at 100 TB you'd swap in
    * approx_percentile thresholds computed once per partition).
    */
  val qualityBand: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        percent_rank().over(w).as("pr"))
      .filter(col("pr") >= 0.1 && col("pr") <= 0.9)
      .select(col("doc_id"), col("lang"), col("n_chars"), round(col("pr"), 6).as("pr"))
      .orderBy(col("doc_id"))
  }

  val qualityBandSql: String =
    """SELECT doc_id, lang, n_chars, round(pr, 6) AS pr FROM (
      | SELECT doc_id, lang, n_chars,
      |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
      | FROM documents) x
      |WHERE pr >= 0.1 AND pr <= 0.9 ORDER BY doc_id""".stripMargin

  /** TF-IDF top-3 terms per document. The idf is the SMOOTHED RATIO
    * (n+1)/(df+1) without the log: rational double arithmetic is
    * bit-identical across engines where log()'s libm ulps are not, and
    * the per-document ranking it induces is the same.
    */
  val tfidfTerms: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(TextStats.tokens(lower(col("text")))).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("token")).agg(countDistinct(col("doc_id")).as("df"))
    val n = t(s, dir, "documents").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        round(col("tf") * (col("n") + 1.0) / (col("df") + 1.0), 6).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val tfidfTermsSql: String =
    """WITH toks AS (
      | SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS token
      | FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      | SELECT tf.doc_id, tf.token,
      |  round(tf.tf * (n.n + 1.0) / (df.df + 1.0), 6) AS score
      | FROM tf JOIN df USING (token) CROSS JOIN n),
      |ranked AS (
      | SELECT doc_id, token, score,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rk
      | FROM scored)
      |SELECT doc_id, CAST(rk AS INTEGER) AS rk, token, score
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Per-group embedding centroids (the aggregation behind k-means /
    * cluster summaries): posexplode to (group, dim, value), exact decimal
    * mean per cell. Long output (512 rows), no array columns on the gate.
    * Floats go float→STRING→decimal on BOTH sides: the shortest
    * round-trip string of a float is engine-independent, whereas direct
    * float→decimal rounding differs in ulps (Spark rounds the shortest
    * double string, DuckDB the full binary expansion — caught at sf0.001).
    */
  val embeddingCentroids: Q = (s, dir) =>
    t(s, dir, "embeddings")
      .select((col("vec_id") % 8).as("grp"),
        posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(col("grp"), (col("pos") + 1).as("dim"))
      .agg(round(sum(col("val").cast("string").cast("decimal(18,9)")).cast("double")
        / count(lit(1)), 6).as("centroid"))
      .orderBy(col("grp"), col("dim"))

  val embeddingCentroidsSql: String =
    """SELECT vec_id % 8 AS grp, CAST(d.dim AS INTEGER) AS dim,
      | round(CAST(sum(CAST(CAST(embedding[d.dim] AS VARCHAR) AS DECIMAL(18,9)))
      |   AS DOUBLE) / count(*), 6) AS centroid
      |FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) d
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Date/time battery: month-end, ISO week, day-of-week, week truncation,
    * month arithmetic. dayofweek differs between engines (Spark 1=Sunday,
    * DuckDB 0=Sunday) and DuckDB's date_trunc returns DATE — the oracle
    * normalizes both; month delta uses the explicit (year, month) formula
    * on both sides rather than engine-specific month-diff functions.
    */
  val dateBattery: Q = (s, dir) =>
    t(s, dir, "orders").select(
      col("o_orderkey"),
      last_day(col("o_orderdate")).as("month_end"),
      weekofyear(col("o_orderdate")).as("iso_week"),
      dayofweek(col("o_orderdate")).as("dow"),
      date_trunc("week", col("o_orderdate")).as("week_start"),
      ((year(col("o_orderdate")) - 1995) * 12 + month(col("o_orderdate")) - 1)
        .as("months_since"))
      .orderBy(col("o_orderkey"))

  val dateBatterySql: String =
    """SELECT o_orderkey,
      | last_day(o_orderdate) AS month_end,
      | CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
      | CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
      | CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
      | CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS INTEGER)
      |   AS months_since
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Fuzzy string matching: levenshtein distance (record-linkage /
    * canonical-name matching primitive) + translate remap.
    */
  val fuzzyStrings: Q = (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey"),
      levenshtein(col("c_name"), lit("Customer#000000000")).as("lev_to_proto"),
      levenshtein(col("c_name"), translate(col("c_name"), "0123456789", "OI234S6789"))
        .as("lev_digit_swap"),
      translate(col("c_name"), "#", "-").as("name_dashed"))
      .orderBy(col("c_custkey"))

  val fuzzyStringsSql: String =
    """SELECT c_custkey,
      | CAST(levenshtein(c_name, 'Customer#000000000') AS INTEGER) AS lev_to_proto,
      | CAST(levenshtein(c_name, translate(c_name, '0123456789', 'OI234S6789'))
      |   AS INTEGER) AS lev_digit_swap,
      | translate(c_name, '#', '-') AS name_dashed
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Conditional / boolean / bitwise aggregates: count_if, bool_and,
    * bool_or, bit_and/or/xor — the profiling-and-flags aggregate family.
    */
  val condAggs: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count_if(col("o_totalprice") > 200000).as("n_big"),
        bool_and(col("o_totalprice") > 0).as("all_pos"),
        bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
        bit_and(col("o_orderkey")).as("key_band"),
        bit_or(col("o_orderkey")).as("key_bor"),
        bit_xor(col("o_orderkey")).as("key_bxor"))
      .orderBy(col("o_orderstatus"))

  val condAggsSql: String =
    """SELECT o_orderstatus,
      | CAST(count(*) FILTER (o_totalprice > 200000) AS BIGINT) AS n_big,
      | bool_and(o_totalprice > 0) AS all_pos,
      | bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
      | bit_and(o_orderkey) AS key_band,
      | bit_or(o_orderkey) AS key_bor,
      | bit_xor(o_orderkey) AS key_bxor
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Exact-arithmetic standard deviation: decimal sum and sum-of-squares
    * (order-independent), variance assembled in double from exact inputs —
    * byte-identical across engines and partitionings where stddev_samp's
    * streaming double accumulation is not.
    */
  val exactStddev: Q = (s, dir) => {
    val dec = col("o_totalprice").cast("decimal(18,2)")
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec * dec).cast("double").as("sq"),
        sum(dec).cast("double").as("sm"))
      .select(col("o_orderstatus"), col("n"),
        round(sqrt((col("sq") - col("sm") * col("sm") / col("n")) / (col("n") - 1)), 4)
          .as("sd"))
      .orderBy(col("o_orderstatus"))
  }

  val exactStddevSql: String =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      | round(sqrt((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) *
      |                       CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |   - CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) *
      |     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
      |  / (count(*) - 1)), 4) AS sd
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Column profiler: one scan → long-form per-column stats (see
    * quality/Profiler.scala). Doubles canonicalize through decimal before
    * stringification — double→string formatting is engine-specific.
    */
  val profileColumns: Q = (s, dir) =>
    graft.quality.Profiler.profile(
      t(s, dir, "customer"),
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      canon = Map("c_acctbal" -> ((c: Column) => c.cast("decimal(18,2)"))))
      .orderBy(col("col_name"))

  val profileColumnsSql: String = {
    def one(c: String, canonExpr: String) =
      s"""SELECT '$c' AS col_name,
         | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         | CAST(min($canonExpr) AS VARCHAR) AS min_value,
         | CAST(max($canonExpr) AS VARCHAR) AS max_value
         |FROM customer""".stripMargin
    Seq(
      one("c_custkey", "c_custkey"),
      one("c_name", "c_name"),
      one("c_nationkey", "c_nationkey"),
      one("c_acctbal", "CAST(c_acctbal AS DECIMAL(18,2))"),
      one("c_mktsegment", "c_mktsegment"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** HOF predicate quantifiers: exists / forall / filter-count over token
    * arrays (DuckDB expresses the quantifiers via list_filter lengths).
    */
  val existsForall: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(lower(col("text"))).as("tok"))
      .select(
        col("doc_id"),
        exists(col("tok"), t => length(t) > 10).as("has_long"),
        forall(col("tok"), t => length(t) < 25).as("all_under25"),
        size(filter(col("tok"), t => t.rlike("^[0-9]+$"))).as("n_numeric"))
      .orderBy(col("doc_id"))

  val existsForallSql: String =
    """WITH toks AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS tok FROM documents)
      |SELECT doc_id,
      | length(list_filter(tok, t -> length(t) > 10)) > 0 AS has_long,
      | length(list_filter(tok, t -> NOT length(t) < 25)) = 0 AS all_under25,
      | CAST(length(list_filter(tok, t -> regexp_full_match(t, '[0-9]+'))) AS INTEGER)
      |   AS n_numeric
      |FROM toks ORDER BY doc_id""".stripMargin

  /** Calendar densification: explode each order into one row per month of
    * its following quarter (sequence + explode — the gap-filling shape
    * behind as-of reporting tables).
    */
  val dateDensify: Q = (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        explode(sequence(
          date_trunc("month", col("o_orderdate")),
          date_trunc("month", col("o_orderdate")) + expr("INTERVAL 2 MONTHS"),
          expr("INTERVAL 1 MONTH"))).as("report_month"))
      .orderBy(col("o_orderkey"), col("report_month"))

  val dateDensifySql: String =
    """SELECT o_orderkey, unnest(generate_series(
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP),
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) + INTERVAL 2 MONTH,
      |  INTERVAL 1 MONTH)) AS report_month
      |FROM orders WHERE o_orderkey < 500
      |ORDER BY o_orderkey, report_month""".stripMargin

  /** PURE range join (no equality key) via time-bin bucketing
    * (ops/RangeJoin.binned): every event paired with all events in the
    * next 2 minutes corpus-wide. The bin key restores an equi-join —
    * shuffle 2|L|+|R|, never a cross product — where q58 relies on a
    * user-key broadcast. Oracle: the naive inequality join (DuckDB IEJoin
    * handles it exactly).
    */
  val rangeJoinBinned: Q = (s, dir) => {
    val e = Tables.events(s, dir).withColumn("one", lit(1))
    graft.ops.RangeJoin.binned(e, e, "one", "ts", windowMs = 120000L,
      leftCols = Seq("event_id"), rightCols = Seq("event_id", "value"))
      .groupBy(col("l_event_id"))
      .agg(count(lit(1)).as("n_next"), decSum(col("r_value"), 2).as("next_value"))
      .orderBy(col("l_event_id"))
  }

  val rangeJoinBinnedSql: String =
    """SELECT l.event_id AS l_event_id,
      | CAST(count(*) AS BIGINT) AS n_next,
      | CAST(sum(CAST(r.value AS DECIMAL(18,2))) AS DOUBLE) AS next_value
      |FROM events l JOIN events r
      |  ON r.ts > l.ts AND epoch_ms(r.ts) <= epoch_ms(l.ts) + 120000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Approximate quantiles (Greenwald–Khanna sketch behind
    * approx_percentile) next to exact: the gate carries the exact median
    * plus assertions that the sketch landed within 1% — the q52 pattern
    * applied to quantiles.
    */
  val approxQuantiles: Q = (s, dir) => {
    val ap50 = expr("approx_percentile(o_totalprice, 0.5, 10000)")
    val ap90 = expr("approx_percentile(o_totalprice, 0.9, 10000)")
    val ex50 = expr("percentile(o_totalprice, 0.5)")
    val ex90 = expr("percentile(o_totalprice, 0.9)")
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(ex50, 4).as("p50_exact"),
        (abs(ap50 - ex50) / ex50 <= 0.01).as("p50_est_ok"),
        (abs(ap90 - ex90) / ex90 <= 0.01).as("p90_est_ok"))
      .orderBy(col("o_orderstatus"))
  }

  val approxQuantilesSql: String =
    """SELECT o_orderstatus,
      | round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
      | TRUE AS p50_est_ok,
      | TRUE AS p90_est_ok
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Bitwise scalar battery: shifts, and/or/xor, popcount — the bit-level
    * functions behind fingerprints and bucket keys, as first-class gate
    * coverage (they ran only inside q22's internals before).
    */
  val bitScalars: Q = (s, dir) =>
    t(s, dir, "orders").select(
      col("o_orderkey"),
      shiftleft(col("o_orderkey"), 3).as("shl3"),
      shiftrightunsigned(col("o_orderkey"), 2).as("shr2"),
      col("o_orderkey").bitwiseAND(lit(0xffL)).as("low8"),
      col("o_orderkey").bitwiseOR(lit(1L)).as("odd"),
      col("o_orderkey").bitwiseXOR(col("o_custkey")).as("mix"),
      bit_count(col("o_orderkey")).as("pop"))
      .orderBy(col("o_orderkey"))

  val bitScalarsSql: String =
    """SELECT o_orderkey,
      | o_orderkey << 3 AS shl3,
      | o_orderkey >> 2 AS shr2,
      | o_orderkey & 255 AS low8,
      | o_orderkey | 1 AS odd,
      | xor(o_orderkey, o_custkey) AS mix,
      | CAST(bit_count(o_orderkey) AS INTEGER) AS pop
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Binary encoding battery: hex / base64 round-trips over string bytes. */
  val encodeBattery: Q = (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey"),
      hex(col("c_name").cast("binary")).as("name_hex"),
      base64(col("c_name").cast("binary")).as("name_b64"),
      unbase64(base64(col("c_name").cast("binary"))).cast("string").as("b64_rt"),
      lower(hex(unhex(hex(col("c_name").cast("binary"))))).as("hex_rt_lc"))
      .orderBy(col("c_custkey"))

  val encodeBatterySql: String =
    """SELECT c_custkey,
      | hex(CAST(c_name AS BLOB)) AS name_hex,
      | to_base64(CAST(c_name AS BLOB)) AS name_b64,
      | CAST(from_base64(to_base64(CAST(c_name AS BLOB))) AS VARCHAR) AS b64_rt,
      | lower(hex(CAST(c_name AS BLOB))) AS hex_rt_lc
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Struct-typed columns: build, field access, and whole-struct ordering
    * comparison (lexicographic by field) — the nested-type family the gate
    * didn't cover yet. Final columns are scalars for the comparator.
    */
  val structOps: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("s"), col("o_totalprice").as("p")).as("st"))
      .select(
        col("o_orderkey"),
        col("st.s").as("st_status"),
        col("st.p").as("st_price"),
        (col("st") > struct(lit("O").as("s"), lit(100000.0).as("p"))).as("st_gt"))
      .orderBy(col("o_orderkey"))

  val structOpsSql: String =
    """SELECT o_orderkey,
      | struct_pack(s := o_orderstatus, p := o_totalprice).s AS st_status,
      | struct_pack(s := o_orderstatus, p := o_totalprice).p AS st_price,
      | struct_pack(s := o_orderstatus, p := o_totalprice) >
      |   struct_pack(s := 'O', p := 100000.0) AS st_gt
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** explode_outer NULL semantics: rows with empty arrays survive as a
    * NULL token row (plain explode silently drops them — a real data-loss
    * footgun in token pipelines).
    */
  val explodeOuter: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        filter(TextStats.tokens(lower(col("text"))), t => length(t) > 12).as("longs"))
      .select(col("doc_id"), explode_outer(col("longs")).as("tok"))
      .orderBy(col("doc_id"), col("tok"))

  val explodeOuterSql: String =
    """WITH t AS (
      | SELECT doc_id,
      |  list_filter(regexp_extract_all(lower(text), '\S+'),
      |              x -> length(x) > 12) AS longs
      | FROM documents)
      |SELECT t.doc_id, u.tok
      |FROM t LEFT JOIN LATERAL (SELECT unnest(longs) AS tok) u ON TRUE
      |ORDER BY doc_id, tok NULLS FIRST""".stripMargin

  /** Regex capture-group backreferences in replacement (Spark `$n`,
    * DuckDB/RE2 `\n` — same semantics, different spelling).
    */
  val regexBackrefs: Q = (s, dir) =>
    t(s, dir, "customer").select(
      col("c_custkey"),
      regexp_replace(col("c_name"), "^(Customer)#0*([0-9]+)$", "$2:$1").as("swapped"),
      regexp_replace(col("c_name"), "(0+)([1-9])", "<$2>").as("zeros_tagged"))
      .orderBy(col("c_custkey"))

  val regexBackrefsSql: String =
    """SELECT c_custkey,
      | regexp_replace(c_name, '^(Customer)#0*([0-9]+)$', '\2:\1') AS swapped,
      | regexp_replace(c_name, '(0+)([1-9])', '<\2>', 'g') AS zeros_tagged
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Window value functions: first/last/nth over the full partition frame
    * plus ntile bucketing — deterministic because the partition order
    * (o_orderdate, unique o_orderkey) is total.
    */
  val windowValues: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders").select(
      col("o_orderkey"),
      first(col("o_totalprice")).over(wFull).as("fv"),
      last(col("o_totalprice")).over(wFull).as("lv"),
      nth_value(col("o_totalprice"), 2).over(wFull).as("nv2"),
      ntile(4).over(w).as("quartile"))
      .orderBy(col("o_orderkey"))
  }

  val windowValuesSql: String =
    """SELECT o_orderkey,
      | first_value(o_totalprice) OVER wf AS fv,
      | last_value(o_totalprice) OVER wf AS lv,
      | nth_value(o_totalprice, 2) OVER wf AS nv2,
      | CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM orders
      |WINDOW
      | w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      | wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  /** UNION DISTINCT (q05 exercises union-all harmonization; this is the
    * dedup-union set operation).
    */
  val unionDistinct: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .union(o.filter(col("o_totalprice") > 300000).select(col("o_custkey")))
      .distinct()
      .orderBy(col("o_custkey"))
  }

  val unionDistinctSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |UNION
      |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      |ORDER BY o_custkey""".stripMargin

  /** Exact-arithmetic Pearson correlation (same decimal-sums technique as
    * q72's stddev): corr()'s streaming double accumulation is not
    * cross-engine reproducible; sums of fixed-scale decimals are.
    */
  val exactCorr: Q = (s, dir) => {
    val qd = col("l_quantity").cast("decimal(18,2)")
    val pd = col("l_extendedprice").cast("decimal(18,2)")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(qd * pd).cast("double").as("sxy"),
        sum(qd).cast("double").as("sx"),
        sum(pd).cast("double").as("sy"),
        sum(qd * qd).cast("double").as("sxx"),
        sum(pd * pd).cast("double").as("syy"))
      .select(col("l_returnflag"), col("n"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
            sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 6)
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  val exactCorrSql: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      | round((CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |                 CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |   - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) *
      |     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
      |  / (sqrt(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |                   CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |       - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) *
      |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
      |   * sqrt(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                   CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |       - CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) *
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))),
      |  6) AS corr_qty_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** percentile_disc: exact discrete quantiles (an actual data value, not
    * an interpolation — deterministic by construction, no rounding
    * needed). Completes the quantile family next to q43 (continuous) and
    * q77 (sketch).
    */
  val percentileDisc: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50_disc"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90_disc"),
        min(col("o_totalprice")).as("p0"),
        max(col("o_totalprice")).as("p100"))
      .orderBy(col("o_orderstatus"))

  val percentileDiscSql: String =
    """SELECT o_orderstatus,
      | quantile_disc(o_totalprice, 0.5) AS p50_disc,
      | quantile_disc(o_totalprice, 0.9) AS p90_disc,
      | min(o_totalprice) AS p0,
      | max(o_totalprice) AS p100
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** F: row filter with parquet pushdown (latent in reference, SURVEY §2.3). */
  val filterPushdown: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") < to_timestamp(lit("1995-06-01 00:00:00"))
        && col("l_discount") > 0.05 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_shipdate"))
      // (l_orderkey, l_linenumber) is NOT unique in the testdata — order by
      // every output column so tied rows can't flip between engines
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("l_quantity"), col("l_shipdate"))

  val filterPushdownSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00'
      |  AND l_discount > 0.05 AND l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_shipdate""".stripMargin

  /** J2: left join with unmatched rows + null-aware aggregation. */
  val leftJoinNulls: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 48)
    o.join(big, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"))
      .agg(count(col("l_orderkey")).as("n_big_items"),
        sum(col("l_quantity")).as("big_qty"))
      .orderBy(col("o_orderkey"))
  }

  val leftJoinNullsSql: String =
    """SELECT o_orderkey, count(l_orderkey) AS n_big_items, sum(l_quantity) AS big_qty
      |FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 48) li
      |  ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** Window top-k per group (needed by north-star top-k, SURVEY §2.8). */
  val windowTopK: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val windowTopKSql: String =
    """SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM orders) x
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Global sort + limit. */
  val sortLimit: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .limit(100)

  val sortLimitSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin

  /** Distinct. */
  val distinctFlags: Q = (s, dir) =>
    t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus"))
      .distinct().orderBy(col("l_returnflag"), col("l_linestatus"))

  val distinctFlagsSql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY 1, 2""".stripMargin

  /** Time-bucketed aggregation (batch equivalent of the streaming window).
    * Sum goes through PER-VALUE decimal casts (the determinism contract) —
    * summing raw doubles then casting would leave the result dependent on
    * partial-aggregation order.
    */
  val hourlyEvents: Q = (s, dir) =>
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), decSum(col("value"), 2).as("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  val hourlyEventsSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      | count(*) AS n_events,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** JSON field extraction from a string column. */
  val jsonExtract: Q = (s, dir) =>
    Tables.events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      get_json_object(col("props"), "$.k").try_cast("int").as("k_int"))
      .orderBy(col("event_id"))

  val jsonExtractSql: String =
    """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
      | TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
      |FROM events ORDER BY event_id""".stripMargin

  /** A-family extras: min/max/count-distinct per group. */
  val aggStats: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("uniq_cust"),
        min(col("o_totalprice")).as("mn_price"),
        max(col("o_totalprice")).as("mx_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val aggStatsSql: String =
    """SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS uniq_cust,
      | min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price, count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Set difference: customers with finished orders but no open ones. */
  val exceptNonBuyers: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val exceptNonBuyersSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin
}
