package graft.queries

import graft.{QueryPack, Tables}
import graft.transforms.Cleanse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle coverage for the cleanse operator library (SURVEY.md §2.3/§2.4).
  *
  * The testdata has none of the reference's dirty inputs (NIL strings,
  * nulls, dotted names), so each query first synthesizes the dirty shape
  * DETERMINISTICALLY from the parquet tables (modular arithmetic on keys),
  * then applies the real `Cleanse` combinators — the oracle recomputes
  * both the dirtying and the cleansing relationally in DuckDB. This way
  * the driver's gate checks the actual library code.
  */
object CleanseQueries extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- P6: case/whitespace-normalized "nil" → 0 ----
    "q20_norm_nil" -> ((s, d) => {
      val dirty = Tables.documents(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0, lit(" NIL "))
          .when(col("doc_id") % 5 === 1, lit("nil"))
          .otherwise(col("lang")).as("v"))
      Cleanse.nilNormalizedToZero("v")(dirty)
        .groupBy(col("v")).agg(count(lit(1)).as("n"))
        .orderBy(col("v"))
    }),

    // ---- F11: NIL/NULL-string/actual-null → 0, then numeric use ----
    "q21_nil_null_zero" -> ((s, d) => {
      val dirty = Tables.events(s, d).select(
        col("event_type"),
        when(col("event_id") % 4 === 0, lit("NIL"))
          .when(col("event_id") % 4 === 1, lit("NULL"))
          .when(col("event_id") % 4 === 2, lit(null))
          .otherwise(col("value").cast("string")).as("raw"))
      Cleanse.nilNullToZero("raw")(dirty)
        .groupBy(col("event_type"))
        .agg(round(sum(col("raw").cast("double")), 2).as("sum_v"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ---- F1: sentinel → 0 + cast double (xmlonly kpiValue semantics) ----
    "q22_sentinel_cast" -> ((s, d) => {
      val dirty = Tables.lineitem(s, d).select(
        col("l_returnflag"),
        when(col("l_orderkey") % 3 === 0, lit("NIL"))
          .otherwise(col("l_quantity").cast("string")).as("kpiValue"))
      Cleanse.sentinelToZeroCast("kpiValue")(dirty)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("kpiValue")), 2).as("sum_kpi"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- F3: timestamp parse round-trip ("MM-dd-yyyy HH:mm") ----
    "q23_parse_time" -> ((s, d) => {
      val strd = Tables.orders(s, d).select(
        date_format(col("o_orderdate"), "MM-dd-yyyy HH:mm").as("Time"))
      Cleanse.parseTime("Time")(strd)
        .groupBy(year(col("Time")).as("yr"), month(col("Time")).as("mo"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("yr"), col("mo"))
    }),

    // ---- F10: nodeid extraction from measObjLdn ----
    "q24_nodeid_extract" -> ((s, d) => {
      // every 11th key carries a SECOND '=' inside the first field
      // ("…NODE5=P2,…" → nodeid "NODE5", not "NODE5=P2"); the oracle
      // derives nodeid independently via split_part
      val ldn = Tables.customer(s, d).select(
        concat(lit("eNodeB=NODE"), col("c_custkey") % 50,
          when(col("c_custkey") % 11 === 0, lit("=P2")).otherwise(lit("")),
          lit(",Cell="), col("c_custkey") % 7).as("measObjLdn"))
      ldn.select(Cleanse.nodeid(col("measObjLdn")).as("nodeid"))
        .groupBy(col("nodeid")).agg(count(lit(1)).as("n"))
        .orderBy(col("nodeid"))
    }),

    // ---- F7/P1: JSON value serialization (Kafka payload shape) ----
    "q25_json_value" -> ((s, d) => {
      val base = Tables.nation(s, d)
        .select(col("n_name"), col("n_nationkey"), col("n_regionkey"))
      Cleanse.jsonValue(base, exclude = Set("n_regionkey"))
        .orderBy(col("value"))
    }),

    // ---- F13: content-hash (md5) data-level dedup precursor ----
    "q26_content_md5" -> ((s, d) => {
      Cleanse.withContentHash("text")(Tables.documents(s, d))
        .groupBy(col("lang"))
        .agg(countDistinct(col("content_md5")).as("n_distinct"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // ---- F12: dictionary lookup with UNKNOWN_{id} fallback ----
    "q27_unknown_fallback" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_partkey"))
      val dict = Tables.part(s, d).filter(col("p_size") <= 25)
        .select(col("p_partkey"), col("p_name"))
      li.join(broadcast(dict), li("l_partkey") === dict("p_partkey"), "left")
        .select(Cleanse.unknownFallback(col("p_name"), col("l_partkey")).as("kpiName"))
        .groupBy(col("kpiName").startsWith("UNKNOWN_").as("is_unknown"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("kpiName")).as("n_names"))
        .orderBy(col("is_unknown"))
    }),

    // ---- Minimum end-to-end slice (SURVEY §7.2): full cellKpi chain ----
    "q28_cellkpi_chain" -> ((s, d) => {
      val base = Tables.events(s, d).select(
        date_format(col("ts"), "MM-dd-yyyy HH:mm").as("Time"),
        when(col("event_id") % 7 === 0, lit(null))
          .otherwise(concat(lit("enb"), col("user_id") % 20)).as("eNodeB Name"),
        concat(lit("cell"), col("event_id") % 100).as("Cell Name"),
        when(col("event_id") % 5 === 0, lit(null))
          .otherwise((col("event_id") % 1000).cast("int")).as("Downlink EARFCN"),
        (col("event_id") % 10).cast("int").as("LocalCell Id"),
        when(col("event_id") % 3 === 0, lit(null))
          .otherwise(lit(20)).as("Downlink bandwidth"),
        when(col("event_id") % 11 === 0, lit(null))
          .otherwise(col("value")).as("Latitude"),
        when(col("event_id") % 13 === 0, lit(null))
          .otherwise(col("value") * 2).as("Longitude"),
        lit("OK").as("Integrity"),
        when(col("event_id") % 4 === 0, lit(" NIL "))
          .otherwise((col("value") / 10).cast("string")).as("FT_UL.Interference"))
      Cleanse.cellKpiChain(base)
        .groupBy(col("eNodeB Name"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("Time")).as("n_minutes"),
          sum(col("Downlink EARFCN")).as("sum_earfcn"),
          round(sum(col("Latitude")), 2).as("sum_lat"),
          round(sum(col("Longitude")), 2).as("sum_lon"),
          round(sum(col("FT_UL_Interference").cast("double")), 2).as("sum_interf"))
        .orderBy(col("eNodeB Name"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "q20_norm_nil" ->
      """SELECT v, count(*) AS n FROM (
        |  SELECT CASE WHEN trim(lower(dirty)) = 'nil' THEN '0' ELSE dirty END AS v
        |  FROM (SELECT CASE WHEN doc_id % 5 = 0 THEN ' NIL '
        |                    WHEN doc_id % 5 = 1 THEN 'nil'
        |                    ELSE lang END AS dirty FROM documents))
        |GROUP BY v ORDER BY v""".stripMargin,

    "q21_nil_null_zero" ->
      """SELECT event_type,
        |  round(sum(CAST(CASE WHEN raw IS NULL OR raw IN ('NIL','NULL')
        |                      THEN '0' ELSE raw END AS DOUBLE)), 2) AS sum_v,
        |  count(*) AS n
        |FROM (SELECT event_type,
        |        CASE WHEN event_id % 4 = 0 THEN 'NIL'
        |             WHEN event_id % 4 = 1 THEN 'NULL'
        |             WHEN event_id % 4 = 2 THEN NULL
        |             ELSE CAST(value AS VARCHAR) END AS raw FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q22_sentinel_cast" ->
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN kpiValue = 'NIL' THEN 0.0
        |                 ELSE CAST(kpiValue AS DOUBLE) END), 2) AS sum_kpi,
        |  count(*) AS n
        |FROM (SELECT l_returnflag,
        |        CASE WHEN l_orderkey % 3 = 0 THEN 'NIL'
        |             ELSE CAST(l_quantity AS VARCHAR) END AS kpiValue
        |      FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q23_parse_time" ->
      """SELECT CAST(year(t) AS INTEGER) AS yr,
        |  CAST(month(t) AS INTEGER) AS mo, count(*) AS n
        |FROM (SELECT strptime(strftime(o_orderdate, '%m-%d-%Y %H:%M'),
        |                      '%m-%d-%Y %H:%M') AS t FROM orders)
        |GROUP BY yr, mo ORDER BY yr, mo""".stripMargin,

    "q24_nodeid_extract" ->
      """SELECT split_part(split_part(measObjLdn, '=', 2), ',', 1) AS nodeid,
        |  count(*) AS n
        |FROM (SELECT 'eNodeB=NODE' || (c_custkey % 50) ||
        |        (CASE WHEN c_custkey % 11 = 0 THEN '=P2' ELSE '' END) ||
        |        ',Cell=' || (c_custkey % 7) AS measObjLdn FROM customer)
        |GROUP BY nodeid ORDER BY nodeid""".stripMargin,

    "q25_json_value" ->
      """SELECT to_json(struct_pack(n_name := n_name,
        |  n_nationkey := n_nationkey))::VARCHAR AS value
        |FROM nation ORDER BY value""".stripMargin,

    "q26_content_md5" ->
      """SELECT lang, count(DISTINCT md5(text)) AS n_distinct, count(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q27_unknown_fallback" ->
      """SELECT starts_with(kpiName, 'UNKNOWN_') AS is_unknown,
        |  count(*) AS n, count(DISTINCT kpiName) AS n_names
        |FROM (SELECT coalesce(p_name, 'UNKNOWN_' || l_partkey) AS kpiName
        |      FROM lineitem LEFT JOIN (SELECT p_partkey, p_name FROM part
        |                               WHERE p_size <= 25) dict
        |      ON l_partkey = p_partkey)
        |GROUP BY is_unknown ORDER BY is_unknown""".stripMargin,

    "q28_cellkpi_chain" ->
      """WITH base AS (
        |  SELECT strftime(ts, '%m-%d-%Y %H:%M') AS "Time",
        |    CASE WHEN event_id % 7 = 0 THEN NULL
        |         ELSE 'enb' || (user_id % 20) END AS enb,
        |    CASE WHEN event_id % 5 = 0 THEN NULL
        |         ELSE CAST(event_id % 1000 AS INTEGER) END AS earfcn,
        |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS lat,
        |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE value * 2 END AS lon,
        |    CASE WHEN event_id % 4 = 0 THEN ' NIL '
        |         ELSE CAST(value / 10 AS VARCHAR) END AS interf
        |  FROM events),
        |cleansed AS (
        |  SELECT strptime("Time", '%m-%d-%Y %H:%M') AS t,
        |    coalesce(enb, 'N/A') AS enb,
        |    coalesce(earfcn, 0) AS earfcn,
        |    coalesce(lat, 999) AS lat,
        |    coalesce(lon, 999) AS lon,
        |    CASE WHEN trim(lower(interf)) = 'nil' THEN '0' ELSE interf END AS interf
        |  FROM base)
        |SELECT enb AS "eNodeB Name", count(*) AS n,
        |  count(DISTINCT t) AS n_minutes,
        |  CAST(sum(earfcn) AS BIGINT) AS sum_earfcn,
        |  round(sum(lat), 2) AS sum_lat,
        |  round(sum(lon), 2) AS sum_lon,
        |  round(sum(CAST(interf AS DOUBLE)), 2) AS sum_interf
        |FROM cleansed GROUP BY enb ORDER BY enb""".stripMargin
  )
}
