package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.operators.{Profile, ScdMerge, Sessionize}

/** The reference-parity core: the `q<n>_*` relational queries (aggregation,
  * joins, SCD merge, as-of, windows, TPC-H-shaped reports). */
object CoreQueries extends QueryFamily("q") {

  // Injected logical clock + batch ids (SURVEY.md §7.4 — uuid() and
  // CURRENT_TIMESTAMP/CURRENT_DATE must be parameters for oracle parity).
  private val ClockTsLit   = "2026-02-02 00:00:00"
  private val ClockDateLit = "2026-02-02"
  private def clockTs: Column   = lit(ClockTsLit).cast("timestamp")
  private def clockDate: Column = lit(ClockDateLit).cast("date")

  // ---------------------------------------------------------------- q1_agg
  // SURVEY §2.6 A1/A2 + §2.7 F9/F10: grouped aggregation with per-row
  // arithmetic — partial+final hash agg, no extra shuffle beyond the groupBy.
  private def qPricingAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        xsum(col("l_quantity"), 4).as("sum_qty"),
        xsum(col("l_extendedprice")).as("sum_base_price"),
        xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        xavg(col("l_quantity")).as("avg_qty"),
        xavg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val sqlPricingAgg: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSum("l_quantity", 4)} AS sum_qty,
       |  ${sqlSum("l_extendedprice")} AS sum_base_price,
       |  ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")} AS sum_disc_price,
       |  ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) * (CAST(1 AS DOUBLE) + l_tax)")} AS sum_charge,
       |  ${sqlAvg("l_quantity")} AS avg_qty,
       |  ${sqlAvg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------ q2_filter_project
  // SURVEY §2.3 P1-P6: projection + conjunctive predicates. The filter and
  // the 5-column projection both reach the parquet scan (PushedFilters /
  // ReadSchema in .explain).
  private def qFilterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === lit("R") &&
        col("l_discount") > lit(0.05) &&
        col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"),
        (col("l_extendedprice") * col("l_discount")).as("discount_amount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val sqlFilterProject: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  l_extendedprice * l_discount AS discount_amount
      |FROM lineitem
      |WHERE l_returnflag = 'R' AND l_discount > 0.05
      |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------- q3_enrich
  // SURVEY §2.4 J5 + §2.7 F12: the declared currency-enrichment join
  // (SQL/etl_world_banks.sql:317-318) re-expressed over customer×nation×
  // region. Both dims are broadcast — no shuffle of the fact side.
  private[graft] def qEnrich(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"),
        col("c_acctbal"),
        round(col("c_acctbal") * lit(0.783), 2).as("bal_gbp"),
        round(col("c_acctbal") * lit(0.924), 2).as("bal_eur"),
        round(col("c_acctbal") * lit(82.572), 2).as("bal_inr"))
      .orderBy(col("c_custkey"))

  private val sqlEnrich: String =
    """SELECT c_custkey, c_name, n_name, r_name, c_acctbal,
      |  ROUND(c_acctbal * 0.783, 2) AS bal_gbp,
      |  ROUND(c_acctbal * 0.924, 2) AS bal_eur,
      |  ROUND(c_acctbal * 82.572, 2) AS bal_inr
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------------ q4/q5 semi/anti
  // SURVEY §2.4 J1/J2: the reference's per-row EXISTS probes (SQL:25-27,
  // 191-194) as set-based semi/anti joins.
  private def qSemiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  private val sqlSemiJoin: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  private def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  private val sqlAntiJoin: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------- q6/q7 SCD merge
  // SURVEY §2.5 — the flagship compound operator, exercised over two
  // deterministic slices of `orders` so every one of the five branches plus
  // deactivation and the same-day/NULL shields is hit (FIXTURES.md A3).
  //   k%8==0 → deactivate      k%8==1 → no_change   k%8==2 → update
  //   k%8==3 → carry (NULL updated_at shield)       k%8==4 → reactivate
  //   k%8==5 → version (+version_history)           k%8∈{6,7} → insert
  private def scdFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, dir)
    val m = col("o_orderkey") % 8
    val target = o.filter(m <= 5).select(
      col("o_orderkey").as("key"),
      col("o_totalprice").as("value"),
      lit("b0").as("batch_id"),
      (m < 4).as("active"),
      when(m === 3, lit(null).cast("timestamp"))
        .otherwise(lit("2026-01-01 00:00:00").cast("timestamp"))
        .as("updated_at"))
    val incoming = o.filter(m.isin(1, 2, 4, 5, 6, 7)).select(
      col("o_orderkey").as("key"),
      when(m.isin(2, 5), col("o_totalprice") + lit(10.0))
        .otherwise(col("o_totalprice")).as("value"),
      lit("b1").as("batch_id"))
    (incoming, target)
  }

  private val scdCfg = ScdMerge.Config(keys = Seq("key"), valueCol = "value")

  private def qScdMerge(s: SparkSession, dir: String): DataFrame = {
    val (incoming, target) = scdFixture(s, dir)
    ScdMerge.merge(incoming, target, scdCfg, clockTs, clockDate, lit("b1"))
      // NTZ output: fixture parquet is timestamp_ntz; constructed LTZ
      // timestamps would write as UTC-adjusted and hash differently
      .withColumn("updated_at", col("updated_at").cast("timestamp_ntz"))
      .orderBy(col("key"), col("change_type"))
  }

  private def qScdCounters(s: SparkSession, dir: String): DataFrame = {
    val (incoming, target) = scdFixture(s, dir)
    val merged = ScdMerge.merge(incoming, target, scdCfg, clockTs, clockDate,
      lit("b1"))
    ScdMerge.counters(merged, lit("b1"), "orders_scd")
  }

  /** Shared CTE prefix for the SCD oracle: fixture + join + classification. */
  private val sqlScdCte: String =
    s"""WITH target AS (
       |  SELECT o_orderkey AS key, o_totalprice AS value, 'b0' AS batch_id,
       |         (o_orderkey % 8) < 4 AS active,
       |         CASE WHEN o_orderkey % 8 = 3 THEN NULL
       |              ELSE TIMESTAMP '2026-01-01 00:00:00' END AS updated_at
       |  FROM orders WHERE o_orderkey % 8 <= 5
       |), incoming AS (
       |  SELECT o_orderkey AS key,
       |         CASE WHEN o_orderkey % 8 IN (2,5) THEN o_totalprice + 10.0
       |              ELSE o_totalprice END AS value,
       |         'b1' AS batch_id
       |  FROM orders WHERE o_orderkey % 8 IN (1,2,4,5,6,7)
       |), j AS (
       |  SELECT t.key AS tkey, i.key AS ikey, t.value AS tvalue,
       |         i.value AS ivalue, t.active AS tactive,
       |         t.updated_at AS tupdated, t.batch_id AS tbatch,
       |         i.batch_id AS ibatch
       |  FROM target t FULL OUTER JOIN incoming i ON t.key = i.key
       |), c AS (
       |  SELECT *,
       |    CASE
       |      WHEN tkey IS NULL THEN 'insert'
       |      WHEN ikey IS NULL AND tactive AND tupdated IS NOT NULL
       |           AND tupdated < DATE '$ClockDateLit'
       |           AND tbatch <> 'b1' THEN 'deactivate'
       |      WHEN ikey IS NULL THEN 'carry'
       |      WHEN tactive AND tvalue = ivalue THEN 'no_change'
       |      WHEN tactive THEN 'update'
       |      WHEN tvalue = ivalue THEN 'reactivate'
       |      ELSE 'version'
       |    END AS change_type
       |  FROM j
       |)""".stripMargin

  private val sqlScdMerge: String =
    s"""$sqlScdCte
       |SELECT key, value, batch_id, active, updated_at, change_type FROM (
       |  SELECT COALESCE(ikey, tkey) AS key,
       |    CASE WHEN change_type IN ('insert','update','version') THEN ivalue
       |         ELSE tvalue END AS value,
       |    CASE WHEN change_type IN ('insert','update','reactivate','version')
       |         THEN ibatch ELSE tbatch END AS batch_id,
       |    CASE WHEN change_type = 'deactivate' THEN FALSE
       |         WHEN change_type IN ('insert','update','no_change',
       |                              'reactivate','version') THEN TRUE
       |         ELSE tactive END AS active,
       |    CASE WHEN change_type IN ('update','reactivate','deactivate')
       |           THEN TIMESTAMP '$ClockTsLit'
       |         WHEN change_type IN ('insert','version') THEN NULL
       |         ELSE tupdated END AS updated_at,
       |    change_type
       |  FROM c
       |  UNION ALL
       |  SELECT tkey, tvalue, tbatch, FALSE, tupdated, 'version_history'
       |  FROM c WHERE change_type = 'version'
       |)
       |ORDER BY key, change_type""".stripMargin

  private val sqlScdCounters: String =
    s"""$sqlScdCte
       |SELECT
       |  CAST(COALESCE(SUM(CASE WHEN change_type='no_change' THEN 1 ELSE 0 END), 0) AS BIGINT) AS no_update_count,
       |  CAST(COALESCE(SUM(CASE WHEN change_type='update' THEN 1 ELSE 0 END), 0) AS BIGINT) AS update_count,
       |  CAST(COALESCE(SUM(CASE WHEN change_type='insert' THEN 1 ELSE 0 END), 0) AS BIGINT) AS new_inserts_count,
       |  CAST(COALESCE(SUM(CASE WHEN change_type='reactivate' THEN 1 ELSE 0 END), 0) AS BIGINT) AS reactivate_count,
       |  CAST(COALESCE(SUM(CASE WHEN change_type='version' THEN 1 ELSE 0 END), 0) AS BIGINT) AS version_count,
       |  CAST(COALESCE(SUM(CASE WHEN change_type='deactivate' THEN 1 ELSE 0 END), 0) AS BIGINT) AS deactivate_count,
       |  'orders_scd' AS table_name, 'b1' AS batch_id
       |FROM c""".stripMargin

  // ------------------------------------------------------- q8 Type-1 upsert
  // SURVEY §2.5 — the exchanges_rates variant (SQL:188-248): composite key,
  // no active flag; branches no_change / update / insert / carry.
  //   k%4==0 → carry   k%4==1 → no_change   k%4==2 → update   k%4==3 → insert
  private def qUpsertType1(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val m = col("c_custkey") % 4
    val target = c.filter(m <= 2).select(
      col("c_custkey").as("key1"), col("c_mktsegment").as("key2"),
      col("c_acctbal").as("value"), lit("b0").as("batch_id"))
    val incoming = c.filter(m >= 1).select(
      col("c_custkey").as("key1"), col("c_mktsegment").as("key2"),
      when(m === 2, col("c_acctbal") + lit(5.0)).otherwise(col("c_acctbal"))
        .as("value"),
      lit("b1").as("batch_id"))
    val cfg = ScdMerge.Config(keys = Seq("key1", "key2"), valueCol = "value",
      scd2 = false)
    ScdMerge.merge(incoming, target, cfg, clockTs, clockDate, lit("b1"))
      .orderBy(col("key1"), col("key2"))
  }

  private val sqlUpsertType1: String =
    """WITH target AS (
      |  SELECT c_custkey AS key1, c_mktsegment AS key2, c_acctbal AS value,
      |         'b0' AS batch_id
      |  FROM customer WHERE c_custkey % 4 <= 2
      |), incoming AS (
      |  SELECT c_custkey AS key1, c_mktsegment AS key2,
      |         CASE WHEN c_custkey % 4 = 2 THEN c_acctbal + 5.0
      |              ELSE c_acctbal END AS value,
      |         'b1' AS batch_id
      |  FROM customer WHERE c_custkey % 4 >= 1
      |), j AS (
      |  SELECT t.key1 AS tk1, i.key1 AS ik1, t.key2 AS tk2, i.key2 AS ik2,
      |         t.value AS tvalue, i.value AS ivalue,
      |         t.batch_id AS tbatch, i.batch_id AS ibatch
      |  FROM target t FULL OUTER JOIN incoming i
      |    ON t.key1 = i.key1 AND t.key2 = i.key2
      |), c AS (
      |  SELECT *,
      |    CASE WHEN tk1 IS NULL THEN 'insert'
      |         WHEN ik1 IS NULL THEN 'carry'
      |         WHEN tvalue = ivalue THEN 'no_change'
      |         ELSE 'update' END AS change_type
      |  FROM j
      |)
      |SELECT COALESCE(ik1, tk1) AS key1, COALESCE(ik2, tk2) AS key2,
      |  CASE WHEN change_type IN ('insert','update') THEN ivalue
      |       ELSE tvalue END AS value,
      |  CASE WHEN change_type IN ('insert','update') THEN ibatch
      |       ELSE tbatch END AS batch_id,
      |  change_type
      |FROM c
      |ORDER BY key1, key2""".stripMargin

  // ------------------------------------------------------------- q9_union
  // SURVEY §2.8 U1/U2: union + distinct.
  private def qUnion(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val a = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val b = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    a.unionByName(b).distinct().orderBy(col("o_orderkey"))
  }

  private val sqlUnion: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderstatus = 'F'
      |UNION
      |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_orderkey""".stripMargin

  // ----------------------------------------------------------- q10_cleanse
  // SURVEY §2.7 F1-F9 — the full ingestion/cleansing chain: trim,
  // split-on-"on" lastmod parse (F2/F3, ipynb:89-90), date format (F4),
  // year-end synth (F6, ipynb:143), string→double round trip (F9).
  private def qCleanse(s: SparkSession, dir: String): DataFrame =
    Tables.eventsCached(s, dir)
      .withColumn("lastmod_text",
        concat(lit("  This page was last edited on "),
          date_format(col("ts"), "d MMMM yyyy"), lit(", at 10:00  ")))
      .select(
        col("event_id"),
        to_date(trim(element_at(
          split(element_at(split(col("lastmod_text"), "on"), 2), ","), 1)),
          "d MMMM yyyy").as("lastmod_date"),
        date_format(col("ts"), "yyyy-MM-dd").as("day_str"),
        to_date(concat(lit("31-12-"), year(col("ts")).cast("string")),
          "dd-MM-yyyy").as("year_end"),
        col("value").cast("string").cast("double").as("value_roundtrip"))
      .orderBy(col("event_id"))

  private val sqlCleanse: String =
    """SELECT event_id,
      |  CAST(strptime(trim(
      |    str_split(str_split(
      |      '  This page was last edited on ' || strftime(ts, '%-d %B %Y')
      |        || ', at 10:00  ',
      |      'on')[2], ',')[1]), '%-d %B %Y') AS DATE) AS lastmod_date,
      |  strftime(ts, '%Y-%m-%d') AS day_str,
      |  CAST(strptime('31-12-' || CAST(year(ts) AS VARCHAR), '%d-%m-%Y')
      |    AS DATE) AS year_end,
      |  CAST(CAST(value AS VARCHAR) AS DOUBLE) AS value_roundtrip
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------- q11_topk_window
  // §2.11 extension (free from Spark): ranking window + top-k per group.
  private def qTopkWindow(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey"), col("rk"), col("c_custkey"),
        col("c_acctbal"))
      .orderBy(col("c_nationkey"), col("rk"))
  }

  private val sqlTopkWindow: String =
    """SELECT c_nationkey, rk, c_custkey, c_acctbal FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
      |  FROM customer
      |) WHERE rk <= 3
      |ORDER BY c_nationkey, rk""".stripMargin

  // --------------------------------------------------------- q12_log_stamp
  // SURVEY §2.10 O1/O2 + §2.7 F11: process_logs-shaped summary rows with
  // batch lineage stamp and printf-style message formatting.
  private def qLogStamp(s: SparkSession, dir: String): DataFrame =
    Tables.eventsCached(s, dir)
      .groupBy(col("event_type").as("log_phase"))
      .agg(count(lit(1)).as("n"))
      .select(col("log_phase"),
        format_string("%s: %d rows processed", col("log_phase"), col("n"))
          .as("message"),
        clockTs.cast("timestamp_ntz").as("datetime"),
        lit("b1").as("batch_id"))
      .orderBy(col("log_phase"))

  private val sqlLogStamp: String =
    s"""SELECT event_type AS log_phase,
       |  printf('%s: %d rows processed', event_type, COUNT(*)) AS message,
       |  TIMESTAMP '$ClockTsLit' AS datetime,
       |  'b1' AS batch_id
       |FROM events
       |GROUP BY event_type
       |ORDER BY log_phase""".stripMargin

  // ----------------------------------------------------- q15_enrich_pivot
  // The declared currency-enrichment output (SQL:317-318) through the REAL
  // pipeline stages: cleanseBanks → cleanseRates → pivot → broadcast cross
  // join (graft.pipeline.WorldBanksPipeline). Testdata-shaped: customers as
  // banks, nations as rate rows.
  private def qEnrichPivot(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.WorldBanksPipeline
    val rawBanks = Tables.customer(s, dir).select(
      col("c_name").as("bank_name"),
      col("c_acctbal").cast("string").as("market_cap_usd"),
      lit("This page was last edited on 21 August 2024, at 10:30")
        .as("lastmod_text"))
    val rawRates = Tables.nation(s, dir).select(
      col("n_name").as("country"),
      element_at(array(lit("Pound"), lit("Euro"), lit("Rupee"), lit("Yen"),
        lit("Franc")), (col("n_nationkey") % 5).cast("int") + 1).as("currency"),
      (col("n_nationkey") * 7 + 3).cast("string").as("exchange_rate"))
    WorldBanksPipeline.enrich(
      WorldBanksPipeline.cleanseBanks(rawBanks, lit("b1")),
      WorldBanksPipeline.cleanseRates(rawRates, "2024", lit("b1")))
      .orderBy(col("bank_name"))
  }

  private val sqlEnrichPivot: String =
    """WITH rates AS (
      |  SELECT CASE CAST(n_nationkey % 5 AS INT)
      |           WHEN 0 THEN 'Pound' WHEN 1 THEN 'Euro' WHEN 2 THEN 'Rupee'
      |           WHEN 3 THEN 'Yen' ELSE 'Franc' END AS currency,
      |         CAST(n_nationkey * 7 + 3 AS DOUBLE) AS exchange_rate
      |  FROM nation
      |), p AS (
      |  SELECT MIN(CASE WHEN currency = 'Pound' THEN exchange_rate END) AS pound,
      |         MIN(CASE WHEN currency = 'Euro' THEN exchange_rate END) AS euro,
      |         MIN(CASE WHEN currency = 'Rupee' THEN exchange_rate END) AS rupee
      |  FROM rates
      |)
      |SELECT c_name AS bank_name, c_acctbal AS market_cap_usd,
      |  ROUND(c_acctbal * pound, 2) AS MC_GBP_Billion,
      |  ROUND(c_acctbal * euro, 2) AS MC_EUR_Billion,
      |  ROUND(c_acctbal * rupee, 2) AS MC_INR_Billion
      |FROM customer, p
      |ORDER BY bank_name""".stripMargin

  // -------------------------------------------------- q16-q19 extension ops
  // §2.11 families the reference lacks, provided by Spark built-ins:
  // rollup, except, json scalar functions, distinct aggregation + top-n.
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val sqlRollup: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("o_totalprice")} AS total
       |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
      .stripMargin

  private def qExcept(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  private val sqlExcept: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  private def qIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  private val sqlIntersect: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin

  private def qJson(s: SparkSession, dir: String): DataFrame =
    Tables.eventsCached(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k") % 10 === 3)
      .orderBy(col("event_id"))

  private val sqlJson: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 = 3
      |ORDER BY event_id""".stripMargin

  private def qTopN(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey"), col("l_linenumber")).as("n_lines"))
      .orderBy(col("l_returnflag")).limit(2)

  private val sqlTopN: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT (l_orderkey, l_linenumber)) AS n_lines
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag LIMIT 2""".stripMargin

  // ------------------------------------------------------------- q20_asof
  // As-of join (operator Spark lacks — composed per AsOfJoin's scaladoc):
  // each event picks the most recent order state on its key. Right side
  // pre-aggregated unique per (key, time) for tie determinism.
  private def qAsOf(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(s, dir).select(col("event_id"),
      col("ts"), (col("user_id") % 20).as("k"))
    val r = Tables.orders(s, dir)
      .select((col("o_custkey") % 20).as("k"), col("o_orderdate"),
        col("o_totalprice"))
      .groupBy(col("k"), col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("v"))
    graft.operators.AsOfJoin.asOf(l, r, Seq("k"), "ts", "o_orderdate",
      Seq("v"))
      .select(col("event_id"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        col("v").as("matched_value"))
      .orderBy(col("event_id"))
  }

  private val sqlAsOf: String =
    """WITH l AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id % 20 AS k
      |  FROM events
      |), r AS (
      |  SELECT o_custkey % 20 AS k, o_orderdate, MAX(o_totalprice) AS v
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT l.event_id, r.o_orderdate AS matched_time, r.v AS matched_value
      |FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.o_orderdate
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------- q50_asof_phys
  // The SAME as-of semantics as q20 through the custom PHYSICAL operator
  // (plans.AsOfJoinPhys: logical node + strategy + merge-join exec) —
  // both formulations share this data shape and DuckDB's native ASOF
  // oracle, so the gate proves the custom operator and the composed
  // window form agree with a third engine simultaneously.
  private def qAsOfPhys(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(s, dir).select(col("event_id"),
      col("ts"), (col("user_id") % 20).as("k"))
    val r = Tables.orders(s, dir)
      .select((col("o_custkey") % 20).as("k"),
        col("o_orderdate").cast("timestamp").as("rt"),
        col("o_totalprice"))
      .groupBy(col("k"), col("rt"))
      .agg(max(col("o_totalprice")).as("v"))
    graft.plans.AsOfJoinPhys.asOf(l, r, Seq("k"), "ts", "rt", Seq("v"))
      .select(col("event_id"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        col("v").as("matched_value"))
      .orderBy(col("event_id"))
  }

  private val sqlAsOfPhys: String =
    """WITH l AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id % 20 AS k
      |  FROM events
      |), r AS (
      |  SELECT o_custkey % 20 AS k, CAST(o_orderdate AS TIMESTAMP) AS rt,
      |    MAX(o_totalprice) AS v
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT l.event_id, r.rt AS matched_time, r.v AS matched_value
      |FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.rt
      |ORDER BY event_id""".stripMargin

  /** `q50_asof_phys` with `outer = true` — the LEFT variant of the custom
    * physical operator: left rows with no qualifying right row (early
    * events before their key's first order, and NULL-time rows) are KEPT
    * with NULL matched columns, matching DuckDB's native ASOF LEFT JOIN,
    * which is also the oracle. Same merge, one extra null-projection per
    * unmatched row — row count equals the left side's by construction
    * (spec-pinned). The right side keeps only keys < 12 so 8 of the 20
    * key groups are GENUINELY unmatched — on q50's unfiltered fixture
    * every event matches and the null branch would go unexercised by
    * the gate.
    */
  private def qAsOfPhysOuter(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(s, dir).select(col("event_id"),
      col("ts"), (col("user_id") % 20).as("k"))
    val r = Tables.orders(s, dir)
      .select((col("o_custkey") % 20).as("k"),
        col("o_orderdate").cast("timestamp").as("rt"),
        col("o_totalprice"))
      .filter(col("k") < 12)
      .groupBy(col("k"), col("rt"))
      .agg(max(col("o_totalprice")).as("v"))
    graft.plans.AsOfJoinPhys.asOf(l, r, Seq("k"), "ts", "rt", Seq("v"),
        outer = true)
      .select(col("event_id"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        col("v").as("matched_value"))
      .orderBy(col("event_id"))
  }

  private val sqlAsOfPhysOuter: String =
    """WITH l AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id % 20 AS k
      |  FROM events
      |), r AS (
      |  SELECT o_custkey % 20 AS k, CAST(o_orderdate AS TIMESTAMP) AS rt,
      |    MAX(o_totalprice) AS v
      |  FROM orders WHERE o_custkey % 20 < 12 GROUP BY 1, 2
      |)
      |SELECT l.event_id, r.rt AS matched_time, r.v AS matched_value
      |FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.rt
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------- q45_asof_tolerance
  // Bounded backward as-of (merge_asof tolerance): right-side state times
  // are synthesized INTO the events window (q31's shift trick) so the
  // 7-day bound genuinely splits matches — some enriched, stale ones
  // dropped. The oracle is DuckDB's native ASOF JOIN plus the same
  // integer epoch-micros bound.
  private val AsOfToleranceMicros = 7L * 86400L * 1000000L
  private def qAsOfTolerance(s: SparkSession, dir: String): DataFrame = {
    val base = lit("2024-01-01 00:00:00").cast("timestamp")
    val r = Tables.orders(s, dir)
      .select((col("o_custkey") % 20).as("k"),
        timestamp_add("DAY", (col("o_orderkey") % 365).cast("int"), base)
          .as("rt"),
        col("o_totalprice"))
      .groupBy(col("k"), col("rt"))
      .agg(max(col("o_totalprice")).as("v"))
    val l = Tables.events(s, dir).select(col("event_id"),
      col("ts"), (col("user_id") % 20).as("k"))
    graft.operators.AsOfJoin.asOfTolerance(l, r, Seq("k"), "ts", "rt",
        Seq("v"), AsOfToleranceMicros)
      .select(col("event_id"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        col("v").as("matched_value"))
      .orderBy(col("event_id"))
  }

  private val sqlAsOfTolerance: String =
    s"""WITH l AS (
       |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id % 20 AS k
       |  FROM events
       |), r AS (
       |  SELECT o_custkey % 20 AS k,
       |    TIMESTAMP '2024-01-01 00:00:00'
       |      + INTERVAL (o_orderkey % 365) DAY AS rt,
       |    MAX(o_totalprice) AS v
       |  FROM orders GROUP BY 1, 2
       |)
       |SELECT l.event_id, r.rt AS matched_time, r.v AS matched_value
       |FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.rt
       |WHERE epoch_us(l.ts) - epoch_us(r.rt) <= $AsOfToleranceMicros
       |ORDER BY event_id""".stripMargin

  // ------------------------------------------------ q51_asof_phys_tol
  // The custom physical as-of operator's TOLERANCE route: q45's exact
  // frames and oracle, executed by the streamed merge instead of the
  // composed union+window — the bound is one long comparison on the
  // already-buffered merge state (zero extra state or passes), and the
  // DuckDB ASOF + epoch-bound oracle must not see the difference.
  private def qAsOfPhysTol(s: SparkSession, dir: String): DataFrame = {
    val base = lit("2024-01-01 00:00:00").cast("timestamp")
    val r = Tables.orders(s, dir)
      .select((col("o_custkey") % 20).as("k"),
        timestamp_add("DAY", (col("o_orderkey") % 365).cast("int"), base)
          .as("rt"),
        col("o_totalprice"))
      .groupBy(col("k"), col("rt"))
      .agg(max(col("o_totalprice")).as("v"))
    val l = Tables.events(s, dir).select(col("event_id"),
      col("ts"), (col("user_id") % 20).as("k"))
    graft.plans.AsOfJoinPhys.asOf(l, r, Seq("k"), "ts", "rt", Seq("v"),
        toleranceMicros = Some(AsOfToleranceMicros))
      .select(col("event_id"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        col("v").as("matched_value"))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------ q52_asof_phys_fwd
  // The custom physical as-of operator's FORWARD direction: q39's exact
  // frames and oracle through the streamed merge. Forward needs NO
  // buffered state — discarded rows are unusable for every later left
  // row, and the value-DESC child sort makes the qualifying run's head
  // the tiebreak winner, matched without consuming the run.
  private def qAsOfPhysFwd(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderdate").as("lts"),
        (col("o_custkey") % 20).as("k"))
    val r = o.filter(col("o_orderkey") % 2 === 1)
      .select((col("o_custkey") % 20).as("k"), col("o_orderdate"),
        col("o_totalprice"))
      .groupBy(col("k"), col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("v"))
    graft.plans.AsOfJoinPhys.asOf(l, r, Seq("k"), "lts", "o_orderdate",
        Seq("v"), forward = true)
      .select(col("o_orderkey"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        col("v").as("matched_value"))
      .orderBy(col("o_orderkey"))
  }

  // --------------------------------------------- q53_asof_phys_nearest
  // The custom physical as-of operator's NEAREST route: q44's exact
  // frames and oracle through the streamed merge. Nearest reuses the
  // backward route's O(1) buffered state for the ≤-side candidate and
  // reads the >-side candidate off the right head the merge stopped on
  // (unconsumed, like the forward route) — both directions in ONE pass
  // with no extra state; distance ties go backward. matched_dir is a
  // post-hoc projection (matched_time ≤ ts), not operator state.
  private def qAsOfPhysNearest(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(s, dir).select(col("event_id"),
      col("ts"), (col("user_id") % 20).as("k"))
    val r = Tables.orders(s, dir)
      .select((col("o_custkey") % 20).as("k"),
        col("o_orderdate").cast("timestamp").as("rt"),
        col("o_totalprice"))
      .groupBy(col("k"), col("rt"))
      .agg(max(col("o_totalprice")).as("v"))
    graft.plans.AsOfJoinPhys.asOf(l, r, Seq("k"), "ts", "rt", Seq("v"),
        nearest = true)
      .select(col("event_id"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        when(col("matched_time") <= col("ts"), lit("backward"))
          .otherwise(lit("forward")).as("matched_dir"),
        col("v").as("matched_value"))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------- q31_range_join
  // Bucketized point-in-interval join (operators.RangeJoin). Ranges are
  // synthesized deterministically from orders (shifted into the events'
  // 2024 window); the oracle is the PLAIN BETWEEN join — any drift in the
  // bucket quantization/refinement mechanics hash-mismatches. Aggregated
  // per event so the result stays bounded regardless of interval fan-out.
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val base = lit("2024-01-01 00:00:00").cast("timestamp")
    val r = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 10 === 0)
      .select((col("o_custkey") % 20).as("k"),
        timestamp_add("DAY", (col("o_orderkey") % 30).cast("int"), base)
          .as("r_start"),
        timestamp_add("DAY",
          ((col("o_orderkey") % 30) + (col("o_orderkey") % 3) + 1).cast("int"),
          base).as("r_end"),
        col("o_totalprice").as("rv"))
    val l = Tables.eventsCached(s, dir)
      .select(col("event_id"), col("ts"), (col("user_id") % 20).as("k"))
    graft.operators.RangeJoin
      .pointInRange(l, r, Seq("k"), "ts", "r_start", "r_end",
        bucketMicros = 86400L * 1000000) // 1 day ≈ median interval width
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_ranges"), xsum(col("rv")).as("total_rv"))
      .orderBy(col("event_id"))
  }

  private val sqlRangeJoin: String =
    s"""WITH r AS (
       |  SELECT o_custkey % 20 AS k,
       |    TIMESTAMP '2024-01-01 00:00:00'
       |      + INTERVAL (o_orderkey % 30) DAY AS r_start,
       |    TIMESTAMP '2024-01-01 00:00:00'
       |      + INTERVAL ((o_orderkey % 30) + (o_orderkey % 3) + 1) DAY AS r_end,
       |    o_totalprice AS rv
       |  FROM orders WHERE o_orderkey % 10 = 0
       |), l AS (
       |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id % 20 AS k
       |  FROM events
       |)
       |SELECT l.event_id, COUNT(*) AS n_ranges, ${sqlSum("rv")} AS total_rv
       |FROM l JOIN r ON l.k = r.k AND l.ts >= r.r_start AND l.ts <= r.r_end
       |GROUP BY l.event_id
       |ORDER BY l.event_id""".stripMargin

  // ------------------------------------------------- q32_range_frame
  // Time-RANGE window frame (vs q24's fixed ROWS frames): per event, the
  // running 30-minute trailing aggregate for the same user. Ordered by
  // integer epoch-micros so the frame bound is exact on both engines; the
  // windowed sum goes through the decimal detour because a double running
  // sum would depend on the engines' frame-aggregation association order.
  private def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val HalfHourUs = 1800000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-HalfHourUs, Window.currentRow)
    Tables.eventsCached(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("n_30m", count(lit(1)).over(w))
      .withColumn("sum_30m",
        sum(col("value").cast(graft.functions.Exact.Dec)).over(w)
          .cast("decimal(38,6)").cast("double"))
      .select(col("event_id"), col("n_30m"), col("sum_30m"))
      .orderBy(col("event_id"))
  }

  private val sqlRangeFrame: String =
    """SELECT event_id,
      |  COUNT(*) OVER w AS n_30m,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(28,12))) OVER w, 6) AS DOUBLE)
      |    AS sum_30m
      |FROM (SELECT event_id, user_id, value,
      |        epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY tus
      |             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------- q33_quarantine
  // Permissive-mode quarantine (SURVEY §2.9 C2) under the oracle gate:
  // deterministically corrupted raw strings flow through the REAL
  // cleanse + splitQuarantine path; output is the good rows plus the
  // reject frame with its null_fields diagnosis. The reference swallows
  // these errors into NOTICEs (and in the rates-update case, silently
  // drops the row — the `update_at` typo bug); here every bad row is
  // accounted for.
  private def qQuarantine(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.WorldBanksPipeline
    val goodLastmod = "This page was last edited on 21 August 2024, at 10:30"
    val raw = Tables.customer(s, dir).select(
      col("c_name").as("bank_name"),
      when(col("c_custkey") % 7 === 0, lit("N/A"))
        .otherwise(col("c_acctbal").cast("string")).as("market_cap_usd"),
      when(col("c_custkey") % 11 === 0, lit("garbage"))
        .otherwise(lit(goodLastmod)).as("lastmod_text"))
    val cleansed = WorldBanksPipeline.cleanseBanks(raw, lit("b1"),
      keepRaw = true)
    val (good, quarantined) = WorldBanksPipeline.splitQuarantine(
      cleansed, Seq("market_cap_usd", "last_modified_date"), "bank_name")
    good.select(col("bank_name"), col("market_cap_usd"),
        col("last_modified_date"), lit("ok").as("status"),
        lit("").as("null_fields"))
      .unionByName(quarantined.select(col("bank_name"),
        lit(null).cast("double").as("market_cap_usd"),
        lit(null).cast("date").as("last_modified_date"),
        lit("quarantined").as("status"), col("null_fields")))
      .orderBy(col("bank_name"))
  }

  private val sqlQuarantine: String =
    """WITH raw AS (
      |  SELECT c_name AS bank_name,
      |    CASE WHEN c_custkey % 7 = 0 THEN 'N/A'
      |         ELSE CAST(c_acctbal AS VARCHAR) END AS market_cap_usd,
      |    CASE WHEN c_custkey % 11 = 0 THEN 'garbage'
      |         ELSE 'This page was last edited on 21 August 2024, at 10:30'
      |    END AS lastmod_text
      |  FROM customer
      |), cleansed AS (
      |  SELECT trim(bank_name) AS bank_name,
      |    TRY_CAST(trim(market_cap_usd) AS DOUBLE) AS market_cap_usd,
      |    CAST(try_strptime(trim(str_split(str_split(lastmod_text, 'on')[2],
      |      ',')[1]), '%-d %B %Y') AS DATE) AS last_modified_date
      |  FROM raw
      |)
      |SELECT bank_name, market_cap_usd, last_modified_date,
      |  'ok' AS status, '' AS null_fields
      |FROM cleansed
      |WHERE market_cap_usd IS NOT NULL AND last_modified_date IS NOT NULL
      |UNION ALL
      |SELECT bank_name, NULL, NULL, 'quarantined',
      |  concat_ws(',',
      |    CASE WHEN market_cap_usd IS NULL THEN 'market_cap_usd' END,
      |    CASE WHEN last_modified_date IS NULL THEN 'last_modified_date' END)
      |FROM cleansed
      |WHERE market_cap_usd IS NULL OR last_modified_date IS NULL
      |ORDER BY bank_name""".stripMargin

  // ------------------------------------------------- q34_profile
  // Column profiling (operators.Profile): nulls / distincts / min / max per
  // column in one shared-scan pass — the pre/post-stage data-quality
  // report. Exercised over a projection with injected nulls so n_nulls is
  // non-trivial.
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(
      Tables.lineitem(s, dir).select(
        col("l_returnflag"),
        when(col("l_quantity") > 45, lit(null).cast("double"))
          .otherwise(col("l_quantity")).as("l_quantity"),
        col("l_shipdate")),
      Seq("l_returnflag", "l_quantity", "l_shipdate"))

  private val sqlProfile: String =
    graft.operators.Profile.sqlProfile(
      """(SELECT l_returnflag,
        |  CASE WHEN l_quantity > 45 THEN NULL ELSE l_quantity END AS l_quantity,
        |  l_shipdate FROM lineitem)""".stripMargin,
      Seq("l_returnflag", "l_quantity", "l_shipdate"))

  // ------------------------------------------------- q39_asof_forward
  // Forward as-of: each even-slice order picks the NEXT odd-slice order
  // state on its key — same union+window plan as q20 with time reversed.
  // Oracle: correlated MIN over the future side + join back on the matched
  // instant (DuckDB ASOF is backward-only).
  private def qAsOfForward(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderdate").as("lts"),
        (col("o_custkey") % 20).as("k"))
    val r = o.filter(col("o_orderkey") % 2 === 1)
      .select((col("o_custkey") % 20).as("k"), col("o_orderdate"),
        col("o_totalprice"))
      .groupBy(col("k"), col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("v"))
    graft.operators.AsOfJoin.asOfForward(l, r, Seq("k"), "lts",
      "o_orderdate", Seq("v"))
      .select(col("o_orderkey"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        col("v").as("matched_value"))
      .orderBy(col("o_orderkey"))
  }

  private val sqlAsOfForward: String =
    """WITH l AS (
      |  SELECT o_orderkey, o_orderdate AS lts, o_custkey % 20 AS k
      |  FROM orders WHERE o_orderkey % 2 = 0
      |), r AS (
      |  SELECT o_custkey % 20 AS k, o_orderdate, MAX(o_totalprice) AS v
      |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1, 2
      |), m AS (
      |  SELECT l.o_orderkey, l.k,
      |    (SELECT MIN(r.o_orderdate) FROM r
      |     WHERE r.k = l.k AND r.o_orderdate >= l.lts) AS matched_time
      |  FROM l
      |)
      |SELECT m.o_orderkey, m.matched_time, r.v AS matched_value
      |FROM m JOIN r ON r.k = m.k AND r.o_orderdate = m.matched_time
      |ORDER BY m.o_orderkey""".stripMargin

  // ------------------------------------------------- q44_asof_nearest
  // Nearest as-of: each event picks the closest order state in EITHER
  // direction (distance ties → backward). One union + one keyed sort;
  // the backward-last and forward-first frames share the single hash
  // exchange. Oracle: both correlated extremes + epoch-microsecond pick
  // (DuckDB ASOF is backward-only).
  private def qAsOfNearest(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.events(s, dir).select(col("event_id"),
      col("ts"), (col("user_id") % 20).as("k"))
    val r = Tables.orders(s, dir)
      .select((col("o_custkey") % 20).as("k"), col("o_orderdate"),
        col("o_totalprice"))
      .groupBy(col("k"), col("o_orderdate"))
      .agg(max(col("o_totalprice")).as("v"))
    graft.operators.AsOfJoin.asOfNearest(l, r, Seq("k"), "ts",
      "o_orderdate", Seq("v"))
      .select(col("event_id"),
        col("matched_time").cast("timestamp_ntz").as("matched_time"),
        col("matched_dir"), col("v").as("matched_value"))
      .orderBy(col("event_id"))
  }

  private val sqlAsOfNearest: String =
    """WITH l AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id % 20 AS k
      |  FROM events
      |), r AS (
      |  SELECT o_custkey % 20 AS k, o_orderdate, MAX(o_totalprice) AS v
      |  FROM orders GROUP BY 1, 2
      |), m AS (
      |  SELECT l.event_id, l.k, l.ts,
      |    (SELECT MAX(r.o_orderdate) FROM r
      |     WHERE r.k = l.k AND r.o_orderdate <= l.ts) AS bt,
      |    (SELECT MIN(r.o_orderdate) FROM r
      |     WHERE r.k = l.k AND r.o_orderdate >= l.ts) AS ft
      |  FROM l
      |), pick AS (
      |  SELECT event_id, k, ts,
      |    CASE WHEN bt IS NULL THEN ft
      |         WHEN ft IS NULL THEN bt
      |         WHEN epoch_us(ft) - epoch_us(ts)
      |            < epoch_us(ts) - epoch_us(bt) THEN ft
      |         ELSE bt END AS matched_time
      |  FROM m WHERE bt IS NOT NULL OR ft IS NOT NULL
      |)
      |SELECT p.event_id, p.matched_time,
      |  CASE WHEN p.matched_time <= p.ts THEN 'backward'
      |       ELSE 'forward' END AS matched_dir,
      |  r.v AS matched_value
      |FROM pick p JOIN r ON r.k = p.k AND r.o_orderdate = p.matched_time
      |ORDER BY p.event_id""".stripMargin

  // --------------------------------------------------------- q21_array_agg
  // Array aggregation + array scalar functions: collect_set → sort → join
  // (stringified output keeps the oracle compare list-free).
  private def qArrayAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        array_join(sort_array(collect_set(col("l_linestatus"))), ",")
          .as("statuses"),
        size(collect_set(col("l_linestatus"))).as("n_statuses"))
      .orderBy(col("l_returnflag"))

  private val sqlArrayAgg: String =
    """SELECT l_returnflag,
      |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
      |  len(list(DISTINCT l_linestatus)) AS n_statuses
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------- q22_string_funcs
  // String-function battery over documents (upper/reverse/pad/translate/
  // edit distance/regex extract/locate) — all codegen'd builtins.
  private def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        upper(col("source")).as("src_upper"),
        reverse(col("source")).as("src_rev"),
        lpad(col("doc_id").cast("string"), 8, "0").as("id_padded"),
        translate(col("source"), "src", "xyz").as("src_translated"),
        levenshtein(col("source"), lit("src1")).as("src_dist"),
        instr(col("text"), "data").as("data_pos"),
        regexp_extract(col("source"), "[0-9]+", 0).as("src_num"),
        substring(col("text"), 1, 12).as("text_head"))
      .orderBy(col("doc_id"))

  private val sqlStringFuncs: String =
    """SELECT doc_id,
      |  upper(source) AS src_upper,
      |  reverse(source) AS src_rev,
      |  lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id_padded,
      |  translate(source, 'src', 'xyz') AS src_translated,
      |  levenshtein(source, 'src1') AS src_dist,
      |  strpos(text, 'data') AS data_pos,
      |  regexp_extract(source, '[0-9]+') AS src_num,
      |  substr(text, 1, 12) AS text_head
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ q23_percentile
  // Exact interpolated percentiles (Spark `percentile` ↔ DuckDB
  // quantile_cont), rounded in the projection.
  private def qPercentile(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(l_quantity, 0.25)"), 4).as("qty_p25"))
      .orderBy(col("l_returnflag"))

  private val sqlPercentile: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  ROUND(quantile_cont(l_quantity, 0.25), 4) AS qty_p25
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------- q24_sliding_window
  // Sliding (hopping) windows: 1-hour windows every 30 minutes — each event
  // lands in two windows. Oracle mirrors Spark's epoch-aligned window
  // assignment with integer epoch-micros arithmetic.
  private def qSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), xsum(col("value")).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  private val sqlSlidingWindow: String =
    s"""SELECT make_timestamp(
       |    (epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000 - j) * 1800000000)
       |    AS window_start,
       |  event_type, COUNT(*) AS n_events,
       |  ${sqlSum("value")} AS total_value
       |FROM events, (SELECT unnest(range(0, 2)) AS j)
       |GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin

  // -------------------------------------------------------------- q25_cube
  private def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val sqlCube: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("o_totalprice")} AS total
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
      .stripMargin

  // ------------------------------------------------------ q26_salted_join
  // Skew-salted join under the oracle gate: salting is a pure physical
  // rewrite, so the oracle is the PLAIN join — any semantic drift in the
  // salt/explode mechanics hash-mismatches immediately.
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    // 4 buckets: enough to demonstrate (and spec-test) the salt mechanics;
    // bucket count scales with observed skew, not a constant — at 100 TB
    // you size it to the hot key's row share vs a task's capacity.
    graft.operators.Skew
      .saltedJoin(li, o, "l_orderkey", col("l_linenumber"), saltBuckets = 4)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), xsum(col("l_extendedprice")).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  private val sqlSaltedJoin: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("l_extendedprice")} AS total
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------- q27_unpivot
  // Reshape: wide aggregate → long (measure, value) rows via stack/unpivot;
  // oracle mirrors with UNION ALL.
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(xsum(col("l_quantity"), 4).as("sum_qty"),
        xsum(col("l_extendedprice")).as("sum_price"),
        xsum(col("l_discount"), 6).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))

  private val sqlUnpivot: String =
    s"""WITH agg AS (
       |  SELECT l_returnflag,
       |    ${sqlSum("l_quantity", 4)} AS sum_qty,
       |    ${sqlSum("l_extendedprice")} AS sum_price,
       |    ${sqlSum("l_discount", 6)} AS sum_disc
       |  FROM lineitem GROUP BY l_returnflag
       |)
       |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
       |UNION ALL
       |SELECT l_returnflag, 'sum_price', sum_price FROM agg
       |UNION ALL
       |SELECT l_returnflag, 'sum_disc', sum_disc FROM agg
       |ORDER BY l_returnflag, measure""".stripMargin

  // ------------------------------------------------- q30_grouping_sets
  // Explicit GROUPING SETS (beyond rollup/cube): per-status, per-priority,
  // and grand-total groups in one pass — Spark 4 exposes this directly on
  // Dataset, DuckDB mirrors with GROUP BY GROUPING SETS.
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), xsum(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  private val sqlGroupingSets: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       |  ${sqlSum("o_totalprice")} AS total
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
      .stripMargin

  // ------------------------------------------------- q35_ntile
  // NTILE quantile bucketing: balance-decile profile per market segment —
  // the feature-binning window op (deterministic under the unique
  // (acctbal, custkey) order).
  private def qNtile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, dir)
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("c_mktsegment"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"))
      .orderBy(col("c_mktsegment"), col("decile"))
  }

  private val sqlNtile: String =
    """SELECT c_mktsegment, decile, COUNT(*) AS n,
      |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
      |FROM (
      |  SELECT c_mktsegment, c_acctbal,
      |    NTILE(10) OVER (PARTITION BY c_mktsegment
      |                    ORDER BY c_acctbal, c_custkey) AS decile
      |  FROM customer
      |)
      |GROUP BY c_mktsegment, decile
      |ORDER BY c_mktsegment, decile""".stripMargin

  // ------------------------------------------------- q36_funnel
  // Conversion funnel: users who viewed, then clicked AFTER their first
  // view, then purchased AFTER that first click (strictly ordered
  // chaining, not mere co-occurrence). ONE scan, ONE user_id exchange:
  // each stage's first-qualifying time is a windowed conditional min
  // over the SAME user partition, referencing the previous stage's
  // result — the join-per-stage formulation scanned the 100 TB event
  // stream once PER STAGE (6 scans, 7 exchanges in the audit) for the
  // identical answer. The final stage stack runs on 3 scalar counts.
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val staged = Tables.eventsCached(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("v_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c_ts",
        min(when(col("event_type") === "click" && col("ts") > col("v_ts"),
          col("ts"))).over(w))
      .withColumn("p_ts",
        min(when(col("event_type") === "purchase" && col("ts") > col("c_ts"),
          col("ts"))).over(w))
    val perUser = staged.groupBy(col("user_id"))
      .agg(min(col("v_ts")).as("v_ts"), min(col("c_ts")).as("c_ts"),
        min(col("p_ts")).as("p_ts"))
    perUser
      .agg(count(col("v_ts")).as("v"), count(col("c_ts")).as("c"),
        count(col("p_ts")).as("p"))
      .select(explode(array(
        struct(lit("1_view").as("stage"), col("v").as("n_users")),
        struct(lit("2_click_after_view").as("stage"), col("c").as("n_users")),
        struct(lit("3_purchase_after_click").as("stage"),
          col("p").as("n_users")))).as("s"))
      .select(col("s.stage"), col("s.n_users"))
      .orderBy(col("stage"))
  }

  private val sqlFunnel: String =
    """WITH v AS (
      |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS v_ts FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS c_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.v_ts
      |  GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS p_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.c_ts
      |  GROUP BY 1
      |)
      |SELECT stage, n_users FROM (
      |  SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
      |  UNION ALL
      |  SELECT '2_click_after_view', COUNT(*) FROM c
      |  UNION ALL
      |  SELECT '3_purchase_after_click', COUNT(*) FROM p
      |)
      |ORDER BY stage""".stripMargin

  // ------------------------------------------------- q37_correlated
  // Correlated scalar subquery through the SQL surface: Catalyst
  // decorrelates the per-row COUNT into a left outer aggregate join (no
  // per-row re-execution — the plan is the same set-based join the
  // DataFrame API would write). DuckDB evaluates the identical semantics.
  private def qCorrelated(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql("""
      SELECT c_custkey, c_acctbal,
        (SELECT COUNT(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey
           AND o.o_orderstatus = 'F') AS n_final_orders
      FROM customer_v c
      WHERE c_custkey <= 500
      ORDER BY c_custkey""")
  }

  private val sqlCorrelated: String =
    """SELECT c_custkey, c_acctbal,
      |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey
      |     AND o.o_orderstatus = 'F') AS n_final_orders
      |FROM customer c
      |WHERE c_custkey <= 500
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------- q38_resample
  // Gap-filled resampling: a dense 1-hour grid per event type over the
  // observed span, zero-filling silent hours — the time-series
  // normalization step before any windowed model sees the data. Grid =
  // sequence + explode (map-side); one left join against the hourly
  // aggregate.
  private def qResample(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsCached(s, dir)
    val hourly = e
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    // span derives from HOURLY (min/max of truncated hours = truncated
    // min/max ts). Physically Catalyst COLLAPSES this to a direct
    // min/max over a second column-pruned scan — RemoveRedundantAggregates
    // sees through the intermediate grouping, and the differing pushed
    // filters then block exchange reuse. That is the right call without a
    // cache (a 3-column min/max scan beats materializing the hourly
    // shuffle); a deployment replaying many grids over one input would
    // persist `hourly` instead.
    val span = hourly.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val grid = span.select(col("event_type"),
      explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour").cast("timestamp_ntz").as("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy(col("event_type"), col("hour"))
  }

  private val sqlResample: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      |), hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      |  FROM e GROUP BY 1, 2
      |), span AS (
      |  SELECT event_type, date_trunc('hour', MIN(ts)) AS h0,
      |         date_trunc('hour', MAX(ts)) AS h1
      |  FROM e GROUP BY 1
      |), grid AS (
      |  SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
      |    AS hour
      |  FROM span
      |)
      |SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS n_events
      |FROM grid g LEFT JOIN hourly h
      |  ON g.event_type = h.event_type AND g.hour = h.hour
      |ORDER BY g.event_type, g.hour""".stripMargin

  // ------------------------------------------------- q40_gap_fill
  /** Time-series gap fill with LINEAR INTERPOLATION — q38's count-resample
    * fills gaps with zero; a value series needs the interpolated estimate
    * between the surrounding observations (the standard `interpolate`
    * of time-series stores). Per user: hourly exact-mean series on a dense
    * hourly grid; missing hours get
    * `prev + (next - prev) * elapsed/gap_width`.
    *
    * Plan shape: grid explode is per-user (no global sequence); the four
    * carry-forward/backward values come from TWO frame-complement windows
    * over ONE (user_id, hour) sort — Spark computes all four in a single
    * Window exchange+sort pair (✦ the sessionize single-exchange
    * property). Interpolation itself is three IEEE ops, identically
    * parenthesized in the oracle — bit-identical without any rounding.
    * Endpoints never interpolate: the grid spans the user's own min/max
    * event hours, so every gap has observations on both sides.
    */
  private val GapFillUsers = 50

  private def qGapFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).filter(col("user_id") < GapFillUsers)
    val hourly = e
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(xavg(col("value")).as("v"))
    // span from the hourly frame (date_trunc is monotone, so min/max of
    // hours = truncated min/max ts). NB the optimizer collapses this to a
    // direct min/max over a second pruned scan rather than reusing the
    // hourly exchange — cheaper without a cache; persist `hourly` when
    // the input is remote and re-read cost dominates.
    val span = hourly.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val grid = span.select(col("user_id"),
      explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val dh = expr("CAST(timestampdiff(HOUR, ph, hour) AS DOUBLE)")
    val dt = expr("CAST(timestampdiff(HOUR, ph, nh) AS DOUBLE)")
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("ph",
        last(when(col("v").isNotNull, col("hour")), ignoreNulls = true)
          .over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nh",
        first(when(col("v").isNotNull, col("hour")), ignoreNulls = true)
          .over(wNext))
      .select(col("user_id"), col("hour").cast("timestamp_ntz").as("hour"),
        when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) * (dh / dt))
          .as("value_filled"),
        col("v").isNull.as("interpolated"))
      .orderBy(col("user_id"), col("hour"))
  }

  private val sqlGapFill: String = {
    val pw = "PARTITION BY user_id ORDER BY hour " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val nw = "PARTITION BY user_id ORDER BY hour " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
       |  WHERE user_id < $GapFillUsers
       |), hourly AS (
       |  SELECT user_id, date_trunc('hour', ts) AS hour,
       |    ${sqlAvg("value")} AS v
       |  FROM e GROUP BY 1, 2
       |), span AS (
       |  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
       |  FROM hourly GROUP BY 1
       |), grid AS (
       |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
       |    AS hour
       |  FROM span
       |), j AS (
       |  SELECT g.user_id, g.hour, h.v
       |  FROM grid g LEFT JOIN hourly h
       |    ON g.user_id = h.user_id AND g.hour = h.hour
       |), f AS (
       |  SELECT *,
       |    last_value(v IGNORE NULLS) OVER ($pw) AS pv,
       |    last_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
       |      OVER ($pw) AS ph,
       |    first_value(v IGNORE NULLS) OVER ($nw) AS nv,
       |    first_value(CASE WHEN v IS NOT NULL THEN hour END IGNORE NULLS)
       |      OVER ($nw) AS nh
       |  FROM j
       |)
       |SELECT user_id, hour,
       |  CASE WHEN v IS NOT NULL THEN v
       |       ELSE pv + (nv - pv)
       |         * (CAST(date_diff('hour', ph, hour) AS DOUBLE)
       |          / CAST(date_diff('hour', ph, nh) AS DOUBLE)) END
       |    AS value_filled,
       |  v IS NULL AS interpolated
       |FROM f ORDER BY user_id, hour""".stripMargin
  }

  // ------------------------------------------------- q42_ohlc
  // OHLC bars per (event_type, hour): open/close are thin-argmax picks —
  // min/max over struct(ts, event_id, value), the suite's
  // argmax-not-window convention (one hash agg, no per-group sort; the
  // event_id tiebreak makes duplicate timestamps deterministic) — high/
  // low/count ride the SAME aggregate. One scan, one exchange.
  private def qOhlc(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("hour").cast("timestamp_ntz").as("hour"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n_events"))
      .orderBy(col("event_type"), col("hour"))
  }

  // struct comparison is positional-lexicographic in both engines, and
  // (ts, event_id) is unique, so the value field never drives the compare
  private val sqlOhlc: String =
    """WITH e AS (
      |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      |  FROM events
      |)
      |SELECT event_type, date_trunc('hour', ts) AS hour,
      |  (min(struct_pack(t := ts, e := event_id, v := value))).v AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  (max(struct_pack(t := ts, e := event_id, v := value))).v AS close,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM e GROUP BY 1, 2
      |ORDER BY event_type, hour""".stripMargin

  // ------------------------------------------------- q75_calendar
  // Calendar-function surface: month truncation, quarter/year
  // extraction, and month-end (last_day) over the order dates, rolled
  // up per month — the date-dimension derivations every reporting
  // layer leans on, checked cross-engine (extraction widths CAST to
  // INT; trunc to TIMESTAMP_NTZ for the hash compare).
  private def qCalendar(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        date_trunc("month", col("o_orderdate")).cast("timestamp_ntz")
          .as("month_start"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        last_day(col("o_orderdate")).as("month_end"))
      .groupBy(col("month_start"), col("yr"), col("qtr"), col("month_end"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("month_start"))

  private val sqlCalendar: String =
    """SELECT date_trunc('month', o_orderdate) AS month_start,
      |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |  CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM orders
      |GROUP BY month_start, yr, qtr, month_end
      |ORDER BY month_start""".stripMargin

  // ------------------------------------------------- q49_funnel_windowed
  // Time-BOUND funnel: view → click within 1 h of the view → purchase
  // within 1 h of that click (q36 is the unconstrained variant). First-
  // touch anchoring — each stage matches the EARLIEST qualifying event
  // after the previous stage's anchor; a user whose first anchor's window
  // expires does not restart (the standard first-touch funnel contract,
  // stated so the oracle encodes the same rule). Same single user-keyed
  // window shape as q36: the bound is one extra predicate per stage, not
  // a join.
  private val FunnelWindowUs = 3600000000L // 1 h
  private def qFunnelWindowed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    def within(ts: Column, anchor: Column): Column =
      ts > anchor &&
        unix_micros(ts) - unix_micros(anchor) <= FunnelWindowUs
    val staged = Tables.eventsCached(s, dir)
      // NULL-ts events can anchor no stage and can satisfy no window
      // bound — dropped up front, and the oracle's base CTE drops them
      // identically (a NULL-ts view row must not count a user into
      // stage 1 on one engine only)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("v_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c_ts",
        min(when(col("event_type") === "click" &&
          within(col("ts"), col("v_ts")), col("ts"))).over(w))
      .withColumn("p_ts",
        min(when(col("event_type") === "purchase" &&
          within(col("ts"), col("c_ts")), col("ts"))).over(w))
    staged.groupBy(col("user_id"))
      .agg(min(col("v_ts")).as("v_ts"), min(col("c_ts")).as("c_ts"),
        min(col("p_ts")).as("p_ts"))
      .agg(count(col("v_ts")).as("v"), count(col("c_ts")).as("c"),
        count(col("p_ts")).as("p"))
      .select(explode(array(
        struct(lit("1_view").as("stage"), col("v").as("n_users")),
        struct(lit("2_click_within_1h").as("stage"), col("c").as("n_users")),
        struct(lit("3_purchase_within_1h").as("stage"),
          col("p").as("n_users")))).as("s"))
      .select(col("s.stage"), col("s.n_users"))
      .orderBy(col("stage"))
  }

  private val sqlFunnelWindowed: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events WHERE ts IS NOT NULL
       |), v AS (
       |  SELECT user_id, MIN(ts) AS v_ts FROM ev
       |  WHERE event_type = 'view' GROUP BY user_id
       |), c AS (
       |  SELECT e.user_id, MIN(e.ts) AS c_ts
       |  FROM ev e JOIN v ON e.user_id = v.user_id
       |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
       |    AND epoch_us(e.ts) - epoch_us(v.v_ts) <= $FunnelWindowUs
       |  GROUP BY e.user_id
       |), p AS (
       |  SELECT e.user_id, MIN(e.ts) AS p_ts
       |  FROM ev e JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
       |    AND epoch_us(e.ts) - epoch_us(c.c_ts) <= $FunnelWindowUs
       |  GROUP BY e.user_id
       |)
       |SELECT stage, n_users FROM (
       |  SELECT '1_view' AS stage,
       |    CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
       |  UNION ALL
       |  SELECT '2_click_within_1h',
       |    CAST((SELECT COUNT(*) FROM c) AS BIGINT)
       |  UNION ALL
       |  SELECT '3_purchase_within_1h',
       |    CAST((SELECT COUNT(*) FROM p) AS BIGINT)
       |) ORDER BY stage""".stripMargin

  // ------------------------------------------------- q48_window_funcs
  // SQL-surface breadth for the remaining ranking/navigation window
  // functions in one keyed pass: percent_rank, cume_dist, nth_value, and
  // first/last over an explicit frame — all sharing ONE (returnflag)
  // exchange. Both functions are exact rational values (rank-1)/(n-1)
  // and rank/n of BIGINTs, so the doubles are engine-identical.
  private def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w0 = W.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"))
    val full = w0.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    Tables.lineitem(s, dir)
      .filter(col("l_linenumber") === 1 && col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      .withColumn("pct_rank", percent_rank().over(w0))
      .withColumn("cume", cume_dist().over(w0))
      .withColumn("third_cheapest",
        nth_value(col("l_extendedprice"), 3).over(full))
      .orderBy(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"))
  }

  private val sqlWindowFuncs: String =
    """SELECT l_orderkey, l_returnflag, l_extendedprice,
      |  percent_rank() OVER w0 AS pct_rank,
      |  cume_dist() OVER w0 AS cume,
      |  nth_value(l_extendedprice, 3) OVER (
      |    PARTITION BY l_returnflag
      |    ORDER BY l_extendedprice, l_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS third_cheapest
      |FROM lineitem
      |WHERE l_linenumber = 1 AND l_orderkey % 100 = 0
      |WINDOW w0 AS (PARTITION BY l_returnflag
      |              ORDER BY l_extendedprice, l_orderkey)
      |ORDER BY l_returnflag, l_extendedprice, l_orderkey""".stripMargin

  // ------------------------------------------------- q47_session_incidents
  // Interval-OVERLAP join (both sides intervals): which user sessions
  // overlap an error-incident window? Sessions come from the gap
  // sessionizer; incidents are debounced error events each opening a
  // 30-minute window. The pairing is RangeJoin.intervalOverlap — bucket
  // explode both sides, ONE equi join, canonical-bucket dedup (no
  // distinct pass) — while the oracle runs the naive BETWEEN join: the
  // gate proves the bucketized plan computes the identical pair set.
  private val IncidentWindowUs = 1800000000L // 30 min
  private def qSessionIncidents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsCached(s, dir)
    val sessions = Sessionize.sessions(ev).select(
      col("user_id"), col("session_seq"),
      col("session_start").cast("timestamp").as("s_start"),
      col("session_end").cast("timestamp").as("s_end"))
    val incidents = Sessionize
      .debounce(ev.filter(col("event_type") === "error"), IncidentWindowUs)
      .select(col("user_id"), col("event_id").as("incident_id"),
        col("ts").cast("timestamp").as("i_start"),
        timestamp_micros(unix_micros(col("ts").cast("timestamp"))
          + IncidentWindowUs).as("i_end"))
    graft.operators.RangeJoin.intervalOverlap(sessions, incidents,
        Seq("user_id"), "s_start", "s_end", "i_start", "i_end",
        IncidentWindowUs)
      .select(col("user_id"), col("session_seq"), col("incident_id"),
        (least(unix_micros(col("s_end")), unix_micros(col("i_end")))
          - greatest(unix_micros(col("s_start")), unix_micros(col("i_start"))))
          .as("overlap_us"))
      .orderBy(col("user_id"), col("session_seq"), col("incident_id"))
  }

  private val sqlSessionIncidents: String =
    s"""WITH sess AS (
       |  ${Sessionize.sqlSessions.linesIterator.mkString("\n  ")}
       |), e AS (
       |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events WHERE ts IS NOT NULL AND event_type = 'error'
       |), deb AS (
       |  SELECT *, lag(ts) OVER (PARTITION BY user_id
       |                          ORDER BY ts, event_id) AS prev_ts
       |  FROM e
       |), inc AS (
       |  SELECT user_id, event_id AS incident_id, ts AS i_start,
       |    ts + INTERVAL 30 MINUTE AS i_end
       |  FROM deb
       |  WHERE prev_ts IS NULL
       |     OR epoch_us(ts) - epoch_us(prev_ts) > $IncidentWindowUs
       |)
       |SELECT s.user_id, s.session_seq, i.incident_id,
       |  least(epoch_us(s.session_end), epoch_us(i.i_end))
       |    - greatest(epoch_us(s.session_start), epoch_us(i.i_start))
       |    AS overlap_us
       |FROM sess s JOIN inc i ON s.user_id = i.user_id
       |  AND s.session_start <= i.i_end AND i.i_start <= s.session_end
       |ORDER BY s.user_id, s.session_seq, i.incident_id""".stripMargin

  // ------------------------------------------------- q46_revenue_by_nation
  // The TPC-H Q5 shape: a five-way join (region → nation → customer →
  // orders → lineitem ⋈ supplier) with the local-supplier condition
  // (customer and supplier share a nation) and a revenue rollup. The
  // judge of join planning: dims broadcast, the two fact tables meet in
  // ONE shuffle join on orderkey, the nation-equality condition prunes
  // inside the join, and revenue goes through the exact-decimal sum.
  private def qRevenueByNation(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    val supp = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    dims
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val sqlRevenueByNation: String =
    s"""SELECT n_name,
       |  ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |    AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |  AND s_nationkey = c_nationkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  // ------------------------------------------------- q54_ship_priority
  // TPC-H Q3 shape (shipping priority): unshipped-revenue top-10 for one
  // market segment — the canonical dim-filter → fact⋈fact → grouped
  // revenue → global top-k plan. Shape: the filtered customer keys
  // broadcast to the orders scan (both date predicates push to the
  // parquet scans), the ONE shuffle join is orders⋈lineitem on the
  // order key, revenue goes through the exact-decimal detour, and the
  // global top-10 collapses to TakeOrderedAndProject (sort pruned to
  // k per partition — never a global window).
  private val ShipPrioCutoff = "1998-06-01 00:00:00"
  private def qShipPriority(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(ShipPrioCutoff).cast("timestamp")
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    Tables.orders(s, dir).filter(col("o_orderdate") < cut)
      .join(broadcast(cust), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir).filter(col("l_shipdate") > cut),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
  }

  private val sqlShipPriority: String =
    s"""SELECT l_orderkey,
       |  ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |    AS revenue,
       |  o_orderdate, o_orderpriority
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '$ShipPrioCutoff'
       |  AND l_shipdate > TIMESTAMP '$ShipPrioCutoff'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  // ------------------------------------------------- q55_order_priority
  // TPC-H Q4 shape (order-priority checking): orders in a date window
  // with at least one late lineitem (commit proxy: shipped after the
  // order date + 30 days), counted per priority — the canonical
  // EXISTS-subquery → LEFT SEMI JOIN plan. The fixture lacks
  // l_commitdate/l_receiptdate, so lateness is shipdate vs orderdate+30
  // — same shape, same semi-join, oracle-identical definition. Date
  // predicates push to both scans; the semi join shuffles each side
  // once on the order key and the priority count is a ≤5-group
  // aggregate.
  private val OpcWindowStart = "1996-01-01 00:00:00"
  private val OpcWindowEnd = "1997-01-01 00:00:00"
  private def qOrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(OpcWindowStart).cast("timestamp") &&
        col("o_orderdate") < lit(OpcWindowEnd).cast("timestamp"))
    val late = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(late, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > expr("o_orderdate + INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val sqlOrderPriority: String =
    s"""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
       |FROM orders o
       |WHERE o_orderdate >= TIMESTAMP '$OpcWindowStart'
       |  AND o_orderdate < TIMESTAMP '$OpcWindowEnd'
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
       |  )
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------- q56_forecast_revenue
  // TPC-H Q6 shape (forecasting revenue change): the pure
  // scan-filter-aggregate — what revenue would have been gained had
  // discounts in a band been eliminated for small orders in one year.
  // Every predicate pushes to the parquet scan (the plan is ONE scan +
  // ONE single-row aggregate, no join, no shuffle beyond the final
  // partial-merge); revenue goes through the exact-decimal detour at
  // scale 4 (price × discount carries 4 decimals).
  private def qForecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(xsum(col("l_extendedprice") * col("l_discount"), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))

  private val sqlForecastRevenue: String =
    s"""SELECT ${graft.functions.Exact.sqlSum(
      "l_extendedprice * l_discount", 4)} AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  // ------------------------------------------------- q57_returned_customers
  // TPC-H Q10 shape (returned-item reporting): top customers by revenue
  // lost to returns in a date window — dim join broadcasts, the
  // fact⋈fact meets in ONE shuffle on the order key, and the global
  // top-k collapses to TakeOrderedAndProject.
  private val RetTopK = 20
  private def qReturnedCustomers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    val cust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .orderBy(col("revenue").desc, col("o_custkey"))
      .limit(RetTopK)
      .select(col("o_custkey").as("c_custkey"), col("c_name"),
        col("n_name"), col("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
  }

  private val sqlReturnedCustomers: String =
    s"""SELECT c_custkey, c_name, n_name,
       |  ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |    AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM orders
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT $RetTopK""".stripMargin

  // ------------------------------------------------- q58_promo_revenue
  // TPC-H Q14 shape (promotion effect): the fraction of one month's
  // revenue that came from promo-typed parts — a single fact⋈dim join
  // with a conditional aggregate. The date band pushes to the lineitem
  // scan, `part` broadcasts (it is the small side here; at 100 TB the
  // same plan holds because part is ~1/30 of lineitem and only two
  // columns survive pruning), and both sums ride ONE hash aggregate.
  // The percentage is one IEEE multiply+divide over two exact-decimal
  // sums — deterministic across engines.
  private val PromoMonthStart = "1997-03-01 00:00:00"
  private val PromoMonthEnd   = "1997-04-01 00:00:00"
  private def qPromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_type"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(PromoMonthStart).cast("timestamp") &&
        col("l_shipdate") < lit(PromoMonthEnd).cast("timestamp"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        xsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
          .as("promo_revenue"),
        xsum(rev).as("total_revenue"))
      .withColumn("promo_pct",
        lit(100.0) * col("promo_revenue") / col("total_revenue"))
  }

  private val sqlPromoRevenue: String =
    s"""SELECT promo_revenue, total_revenue,
       |  CAST(100 AS DOUBLE) * promo_revenue / total_revenue AS promo_pct
       |FROM (
       |  SELECT
       |    ${sqlSum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * " +
      "(CAST(1 AS DOUBLE) - l_discount) ELSE CAST(0 AS DOUBLE) END")}
       |      AS promo_revenue,
       |    ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |      AS total_revenue
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '$PromoMonthStart'
       |    AND l_shipdate < TIMESTAMP '$PromoMonthEnd')""".stripMargin

  // ------------------------------------------------- q59_large_orders
  // TPC-H Q18 shape (large-volume customers): orders whose total
  // quantity clears a threshold, joined back to customer — the
  // aggregate-then-join plan. lineitem aggregates FIRST (one shuffle on
  // the order key, partial map-side combine), the surviving hundreds of
  // rows broadcast into orders and then into customer, so neither big
  // table shuffles; the global top-k is TakeOrderedAndProject.
  private val LargeOrderQty = 250.0
  private val LargeOrderTopK = 50
  private def qLargeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(xsum(col("l_quantity"), 6).as("total_qty"))
      .filter(col("total_qty") > lit(LargeOrderQty))
    val withOrders = Tables.orders(s, dir)
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
    Tables.customer(s, dir)
      .join(broadcast(withOrders), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(LargeOrderTopK)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  private val sqlLargeOrders: String =
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       |  total_qty
       |FROM (
       |  SELECT l_orderkey, ${graft.functions.Exact.sqlSum("l_quantity", 6)}
       |    AS total_qty
       |  FROM lineitem GROUP BY l_orderkey) b
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |WHERE total_qty > CAST($LargeOrderQty AS DOUBLE)
       |ORDER BY o_totalprice DESC, o_orderkey
       |LIMIT $LargeOrderTopK""".stripMargin

  // ------------------------------------------------- q60_market_share
  // TPC-H Q8 shape (national market share): one nation's share of a
  // region's yearly order revenue. Customer-side dims (nation⋈region)
  // broadcast into the orders probe; the supplier→nation lookup
  // broadcasts into lineitem; the two facts meet in ONE shuffle on the
  // order key. The share is a conditional exact sum over the total
  // exact sum — one IEEE divide, deterministic.
  private val MktShareNation = "NATION_1"
  private val MktShareRegion = "ASIA"
  private def qMarketShare(s: SparkSession, dir: String): DataFrame = {
    val custAsia = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === MktShareRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(broadcast(custAsia), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        xsum(when(col("supp_nation") === MktShareNation, rev)
          .otherwise(lit(0.0))).as("nation_revenue"),
        xsum(rev).as("total_revenue"))
      .withColumn("mkt_share",
        col("nation_revenue") / col("total_revenue"))
      .orderBy(col("o_year"))
  }

  private val sqlMarketShare: String =
    s"""SELECT o_year, nation_revenue, total_revenue,
       |  nation_revenue / total_revenue AS mkt_share
       |FROM (
       |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       |    ${sqlSum("CASE WHEN supp_nation = '" + MktShareNation +
      "' THEN l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) " +
      "ELSE CAST(0 AS DOUBLE) END")} AS nation_revenue,
       |    ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |      AS total_revenue
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN region ON cn.n_regionkey = r_regionkey
       |  JOIN lineitem ON o_orderkey = l_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN (SELECT n_nationkey AS sn_key, n_name AS supp_nation
       |        FROM nation) sn ON s_nationkey = sn_key
       |  WHERE r_name = '$MktShareRegion'
       |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY 1)
       |ORDER BY o_year""".stripMargin

  // ------------------------------------------------- q61_small_qty_revenue
  // TPC-H Q17 shape (small-quantity-order revenue): lineitems whose
  // quantity is below a fraction of their part's average quantity. The
  // correlated scalar subquery decorrelates into aggregate-then-self-
  // join: ONE shuffle of lineitem on the part key computes the per-part
  // average, the re-join meets on the same key (co-partitioned — AQE
  // reuses the exchange), and the compare is one IEEE multiply against
  // the deterministic exact average.
  private val SmallQtyFrac = 0.2
  private def qSmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val avgq = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(xavg(col("l_quantity")).as("avg_qty"))
    Tables.lineitem(s, dir)
      .join(avgq, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(SmallQtyFrac) * col("avg_qty"))
      .agg(xsum(col("l_extendedprice")).as("revenue_small"),
        count(lit(1)).as("n_items"))
  }

  private val sqlSmallQtyRevenue: String =
    s"""SELECT ${sqlSum("l_extendedprice")} AS revenue_small,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM lineitem l
       |JOIN (SELECT l_partkey AS pk, ${sqlAvg("l_quantity")} AS avg_qty
       |      FROM lineitem GROUP BY 1) a ON l.l_partkey = a.pk
       |WHERE l.l_quantity < CAST($SmallQtyFrac AS DOUBLE) * avg_qty""".stripMargin

  // ------------------------------------------------- q62_order_count_dist
  // TPC-H Q13 shape (customer order-count distribution): how many
  // customers placed 0, 1, 2… non-urgent orders — the left-join →
  // count → histogram double aggregation. The priority filter rides the
  // join condition (pushes to the orders scan), COUNT(o_custkey) skips
  // the null-extended rows so no-order customers land in bucket 0, and
  // the second aggregate is over |distinct counts| rows — trivially
  // small at any scale.
  private def qOrderCountDist(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  private val sqlOrderCountDist: String =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(COUNT(o_custkey) AS BIGINT) AS c_count
      |  FROM customer
      |  LEFT JOIN orders ON c_custkey = o_custkey
      |    AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ------------------------------------------------- q63_disjunctive_revenue
  // TPC-H Q19 shape (discounted revenue, disjunctive predicates): three
  // OR'd brand/size/quantity branches over a fact⋈dim join. Catalyst
  // extracts the common conjuncts it can push (the join key) and leaves
  // the disjunction as ONE codegen'd filter above the broadcast join —
  // no plan blow-up, no cross product, and the part columns prune to
  // (brand, size).
  private def qDisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val branch1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 10) && col("l_quantity").between(1, 15)
    val branch2 = col("p_brand") === "Brand#5" &&
      col("p_size").between(11, 25) && col("l_quantity").between(10, 25)
    val branch3 = col("p_brand") === "Brand#9" &&
      col("p_size").between(26, 50) && col("l_quantity").between(20, 35)
    Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(branch1 || branch2 || branch3)
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val sqlDisjunctiveRevenue: String =
    s"""SELECT
       |  ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |    AS revenue,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 1 AND 15)
       |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 11 AND 25
       |       AND l_quantity BETWEEN 10 AND 25)
       |   OR (p_brand = 'Brand#9' AND p_size BETWEEN 26 AND 50
       |       AND l_quantity BETWEEN 20 AND 35)""".stripMargin

  // ------------------------------------------------- q64_dormant_customers
  // TPC-H Q22 shape (global sales opportunity): well-funded customers
  // with no recent orders, grouped by segment. The positive-balance
  // average is a 1-row broadcast scalar (the standard scalar-subquery
  // decorrelation), the "no recent order" probe is a LEFT ANTI join on
  // the customer key, and the final aggregate has ≤5 groups. At 100 TB
  // the anti join shuffles each side once on the customer key; nothing
  // else moves.
  private val DormantSince = "1999-01-01 00:00:00"
  private def qDormantCustomers(s: SparkSession, dir: String): DataFrame = {
    val avgBal = Tables.customer(s, dir)
      .filter(col("c_acctbal") > lit(0.0))
      .agg(xavg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(DormantSince).cast("timestamp"))
      .select(col("o_custkey"))
    Tables.customer(s, dir)
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        xsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }

  private val sqlDormantCustomers: String =
    s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
       |  ${sqlSum("c_acctbal")} AS total_bal
       |FROM customer
       |WHERE c_acctbal > (
       |    SELECT ${sqlAvg("c_acctbal")} FROM customer
       |    WHERE c_acctbal > CAST(0 AS DOUBLE))
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
       |    AND o_orderdate >= TIMESTAMP '$DormantSince')
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------- q65_waiting_suppliers
  // TPC-H Q21 shape (suppliers who kept orders waiting): in finished
  // multi-supplier orders, the supplier(s) whose shipment was the
  // last — the canonical exists/not-exists pair, decorrelated here into
  // aggregate-then-rejoin: ONE shuffle of lineitem on (orderkey,
  // suppkey), a per-order rollup of that (same key prefix — no second
  // wide shuffle), a co-partitioned re-join, and a semi join against
  // the finished-orders scan. Ties on the order's last ship date count
  // every tied supplier (the reference EXISTS semantics).
  private def qWaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE scan, ONE wide exchange (round 11): the aggregate-then-rejoin
    // decorrelation planned the per-(order, supplier) aggregate TWICE —
    // the semi-join pushdown made the two subtrees non-identical, so
    // exchange reuse never fired and lineitem was scanned and
    // aggregated once per join side. Repartitioning by the PARENT key
    // first satisfies the (orderkey, suppkey) aggregation (subset
    // clustering) AND the per-order window, so the rollup and the
    // re-attach run as a window over the same exchange — no self-join,
    // no second scan (guide §2.4). Partial aggregation before the
    // exchange bought nothing here: (orderkey, suppkey) is near-unique
    // in lineitem, so the raw projected rows shuffle the same bytes.
    val w = Window.partitionBy(col("l_orderkey"))
    val per = Tables.lineitem(s, dir)
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("supp_last"))
    val finished = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    // the semi prunes whole orders (its key IS the window partition
    // key), so applying it before the window drops the same rows the
    // old plan dropped below the join — window values are unchanged
    per.join(finished, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .withColumn("order_last", max(col("supp_last")).over(w))
      .withColumn("n_supp", count(lit(1)).over(w))
      .filter(col("n_supp") >= 2 && col("supp_last") === col("order_last"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
  }

  private val sqlWaitingSuppliers: String =
    """WITH per AS (
      |  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last
      |  FROM lineitem GROUP BY 1, 2),
      |ord AS (
      |  SELECT l_orderkey AS ok, MAX(supp_last) AS order_last,
      |    COUNT(*) AS n_supp
      |  FROM per GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM per p
      |JOIN ord ON p.l_orderkey = ok
      |JOIN supplier ON s_suppkey = p.l_suppkey
      |WHERE n_supp >= 2 AND supp_last = order_last
      |  AND EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = p.l_orderkey
      |                AND o_orderstatus = 'F')
      |GROUP BY s_suppkey, s_name
      |ORDER BY numwait DESC, s_suppkey""".stripMargin

  // ------------------------------------------------- q66_volume_shipping
  // TPC-H Q7 shape (volume shipping between two nations): yearly
  // revenue in both directions between a nation pair. Both nation
  // lookups pre-filter to the pair BEFORE joining (the dim filter
  // prunes the fact probes), supplier-side broadcasts into lineitem,
  // customer-side broadcasts into orders, the facts meet in ONE
  // shuffle on the order key, and the cross-pair condition is a cheap
  // post-join filter on two broadcast-sourced columns.
  private val ShipNationA = "NATION_3"
  private val ShipNationB = "NATION_8"
  private def qVolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq(ShipNationA, ShipNationB)
    val suppN = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val custN = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cnk"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === ShipNationA &&
          col("cust_nation") === ShipNationB) ||
        (col("supp_nation") === ShipNationB &&
          col("cust_nation") === ShipNationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private val sqlVolumeShipping: String =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
       |  ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |    AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation sn ON s_nationkey = sn.n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation cn ON c_nationkey = cn.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND ((sn.n_name = '$ShipNationA' AND cn.n_name = '$ShipNationB')
       |    OR (sn.n_name = '$ShipNationB' AND cn.n_name = '$ShipNationA'))
       |GROUP BY 1, 2, 3
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ------------------------------------------------- q67_late_priority
  // TPC-H Q12 shape (shipping-mode priority audit; the fixture has no
  // l_shipmode, so the grouping column is l_returnflag — same plan):
  // late lineitems (shipped >60 days after the order date) counted as
  // urgent vs non-urgent per group. ONE shuffle join on the order key,
  // conditional integer counters in ONE hash aggregate.
  private def qLatePriority(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
        col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, lit(1L)).otherwise(lit(0L))).as("high_line_count"),
        sum(when(high, lit(0L)).otherwise(lit(1L))).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  private val sqlLatePriority: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------- q68_top_supplier
  // TPC-H Q15 shape (top supplier): the supplier(s) with the maximum
  // quarterly revenue — the view-then-max-then-equijoin plan. The
  // per-supplier rollup is ONE shuffle; its 1-row max broadcasts back
  // over the same (reused) aggregate; the double equality is exact on
  // both sides because both come from the same exact-decimal sum.
  private val TopSuppQStart = "1997-01-01 00:00:00"
  private val TopSuppQEnd   = "1997-04-01 00:00:00"
  private def qTopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(TopSuppQStart).cast("timestamp") &&
        col("l_shipdate") < lit(TopSuppQEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue") === col("mx"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  private val sqlTopSupplier: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |    ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |      AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$TopSuppQStart'
       |    AND l_shipdate < TIMESTAMP '$TopSuppQEnd'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------------- q77_product_profit
  // TPC-H Q9 shape (product-type profit): per supplier-nation, per
  // order year, profit = revenue − cost (the fixture has no
  // ps_supplycost; cost proxies as 10 % of retail price × quantity —
  // same expression tree, same join web). Part and supplier→nation
  // dims broadcast into lineitem, the facts meet in ONE order-key
  // shuffle, the profit terms ride one exact-decimal sum.
  private def qProductProfit(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"), col("p_retailprice"))
    val suppN = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(0.1) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(xsum(amount).as("profit"), count(lit(1)).as("n_items"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  private val sqlProductProfit: String =
    s"""SELECT n_name,
       |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       |  ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount) " +
      "- CAST(0.1 AS DOUBLE) * p_retailprice * l_quantity")} AS profit,
       |  CAST(COUNT(*) AS BIGINT) AS n_items
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_type = 'ECONOMY'
       |GROUP BY n_name, o_year
       |ORDER BY n_name, o_year DESC""".stripMargin

  // ------------------------------------------------- q78_supplier_counts
  // TPC-H Q16 shape (parts/supplier relationship): distinct suppliers
  // able to ship each (brand, type, size) combination, excluding one
  // brand — partsupp proxied by the distinct shipped-pair frame. The
  // brand exclusion pushes to the part scan; one distinct-pair
  // exchange; count-distinct per bounded group.
  private def qSupplierCounts(s: SparkSession, dir: String): DataFrame = {
    val shipped = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val p = Tables.part(s, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_size") <= 10)
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    shipped.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  private val sqlSupplierCounts: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) s
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_size <= 10
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // ------------------------------------------------- q79_dominant_suppliers
  // TPC-H Q20 shape (excess availability): suppliers holding more than
  // 2x their FAIR share of a part's shipped quantity (share thresholds
  // must be scale-free: with n suppliers per part growing with SF, any
  // fixed share goes empty) — the nested-aggregate → co-partitioned
  // re-join decorrelation (same discipline as Q17's average). Both
  // aggregates key on the part, so the join reuses the exchange; the
  // threshold is two IEEE ops on exact sums.
  private def qDominantSuppliers(s: SparkSession, dir: String): DataFrame = {
    // fixture quantities are integral, so the sums stay exact BIGINTs —
    // no decimal detour needed (and ~2x cheaper per the decimal-agg cost
    // note in SCALE.md)
    // ONE scan, ONE wide exchange (round 11, the q65 discipline): the
    // nested-aggregate → co-partitioned re-join planned the
    // per-(part, supplier) aggregate TWICE (no exchange reuse across
    // the join's sides); repartitioning by the part key satisfies the
    // pair aggregation (subset clustering) AND the per-part window, so
    // the part rollup re-attaches as a window over the same exchange.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_partkey"))
    val pairQty = Tables.lineitem(s, dir)
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("pair_qty"))
    pairQty
      .withColumn("part_qty", sum(col("pair_qty")).over(w))
      .withColumn("n_suppliers", count(lit(1)).over(w))
      .filter(col("n_suppliers") >= 2 &&
        col("pair_qty").cast("double") >
          lit(2.0) * col("part_qty").cast("double") /
            col("n_suppliers").cast("double"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_dominated_parts"))
      .orderBy(col("n_dominated_parts").desc, col("s_suppkey"))
  }

  private val sqlDominantSuppliers: String =
    s"""WITH pq AS (
       |  SELECT l_partkey, l_suppkey,
       |    ${graft.functions.Exact.sqlSum("l_quantity", 6)} AS pair_qty
       |  FROM lineitem GROUP BY l_partkey, l_suppkey
       |), tq AS (
       |  SELECT l_partkey AS pk,
       |    ${graft.functions.Exact.sqlSum("pair_qty", 6)} AS part_qty,
       |    CAST(COUNT(*) AS BIGINT) AS n_suppliers
       |  FROM pq GROUP BY l_partkey
       |)
       |SELECT s_suppkey, s_name,
       |  CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
       |FROM pq
       |JOIN tq ON l_partkey = pk
       |JOIN supplier ON l_suppkey = s_suppkey
       |WHERE n_suppliers >= 2
       |  AND CAST(pair_qty AS DOUBLE) > CAST(2 AS DOUBLE)
       |    * CAST(part_qty AS DOUBLE) / CAST(n_suppliers AS DOUBLE)
       |GROUP BY s_suppkey, s_name
       |ORDER BY n_dominated_parts DESC, s_suppkey""".stripMargin

  // ------------------------------------------------- q69_skyline
  // 2-D skyline / Pareto frontier (Börzsönyi, Kossmann & Stocker, "The
  // skyline operator", ICDE 2001): parts minimizing (p_size,
  // p_retailprice) — no other part is ≤ on both axes and < on one.
  // Skyline is DISTRIBUTIVE (skyline(S) = skyline(∪ skyline(Sᵢ))), so
  // the plan never sweeps the full table through one window: a per-size
  // min aggregate (map-side partial) shrinks the frame to |sizes| rows,
  // the textbook sort-sweep window runs on THAT tiny frame, and the
  // surviving (size, min-price) pairs broadcast back as a semi-join
  // filter. Exact double equality against the min is deterministic —
  // both sides are raw parquet values.
  private def qSkyline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSize = Tables.part(s, dir)
      .groupBy(col("p_size"))
      .agg(min(col("p_retailprice")).as("minp"))
    val wPrev = Window.orderBy(col("p_size"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val sky = perSize
      .withColumn("min_prev", min(col("minp")).over(wPrev))
      .filter(col("min_prev").isNull || col("minp") < col("min_prev"))
      .select(col("p_size").as("sz"), col("minp"))
    Tables.part(s, dir)
      .join(broadcast(sky), col("p_size") === col("sz") &&
        col("p_retailprice") === col("minp"))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_size"), col("p_partkey"))
  }

  private val sqlSkyline: String =
    """WITH ps AS (
      |  SELECT p_size, MIN(p_retailprice) AS minp FROM part
      |  GROUP BY p_size
      |), sky AS (
      |  SELECT p_size AS sz, minp,
      |    MIN(minp) OVER (ORDER BY p_size
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_prev
      |  FROM ps
      |)
      |SELECT p_partkey, p_size, p_retailprice
      |FROM part JOIN sky ON p_size = sz AND p_retailprice = minp
      |WHERE min_prev IS NULL OR minp < min_prev
      |ORDER BY p_size, p_partkey""".stripMargin

  // ------------------------------------------------- q70_min_cost_supplier
  // TPC-H Q2 shape (minimum-cost supplier): for each part in a size
  // class, the supplier(s) with the minimum account balance among those
  // who actually shipped it (the fixture has no partsupp/supplycost;
  // the shipped-pair frame from lineitem plays partsupp, acctbal plays
  // supplycost — same correlated-min + tie-keeping equality join).
  // The distinct ship-pair frame shuffles once; part filter and the
  // 10-row supplier table broadcast; the per-part min is a window over
  // the same exchange and the tie-keeping equality is a filter, as in
  // the reference query.
  private val McsPartSize = 10
  private def qMinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE scan per table, ONE wide exchange (round 11): the correlated-
    // min decorrelation (aggregate-then-rejoin on `cand`) planned the
    // whole candidate tower TWICE — the equality-join's pushed
    // predicates made the two subtrees non-identical, so exchange reuse
    // never fired and lineitem/part/supplier were each scanned once per
    // join side (plans/r11/q70_*_before: 6 scans, 4 Exchange).
    // Repartitioning by the part key first satisfies the
    // (partkey, suppkey) distinct (subset clustering) AND the per-part
    // window min, so the min re-attaches as a window over the same
    // exchange — no self-join, no second scan (guide §2.4); ties are
    // KEPT by the equality filter exactly as by the old equality join.
    val shipped = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .repartition(col("l_partkey"))
      .distinct()
    val parts = Tables.part(s, dir)
      .filter(col("p_size") === McsPartSize)
      .select(col("p_partkey"), col("p_name"))
    // window keyed on the STREAM-side key: broadcast joins propagate the
    // probe child's hashpartitioning(l_partkey) directly (no reliance on
    // the join-key-equivalence expansion limit); l_partkey = p_partkey
    // inside the join, so the min is per part either way
    val w = Window.partitionBy(col("l_partkey"))
    shipped
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))),
        col("l_suppkey") === col("s_suppkey"))
      .withColumn("min_bal", min(col("s_acctbal")).over(w))
      .filter(col("s_acctbal") === col("min_bal"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  private val sqlMinCostSupplier: String =
    s"""WITH shipped AS (
       |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
       |), cand AS (
       |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
       |  FROM shipped
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE p_size = $McsPartSize
       |), m AS (
       |  SELECT p_partkey AS pk, MIN(s_acctbal) AS min_bal FROM cand
       |  GROUP BY p_partkey
       |)
       |SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
       |FROM cand JOIN m ON p_partkey = pk AND s_acctbal = min_bal
       |ORDER BY p_partkey, s_suppkey""".stripMargin

  // ------------------------------------------------- q71_important_parts
  // TPC-H Q11 shape (important stock identification): parts whose
  // shipped value exceeds a fraction of the corpus total — here the
  // scale-free "1.5× the average part value" so the threshold is
  // meaningful at every SF. One shuffle keyed on the part, a 1-row
  // broadcast scalar for the threshold, and a bounded top-k.
  private val ImpTopK = 50
  private def qImportantParts(s: SparkSession, dir: String): DataFrame = {
    val value = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("part_value"),
        count(lit(1)).as("n_items"))
    // ONE scan, ONE wide exchange (round 11): `value` feeds both the
    // probe and the 1-row stats rollup, but with n_parts = count(*)
    // column pruning dropped the partial_count from the stats side's
    // per-part aggregate, the two exchange subtrees canonicalized
    // differently, exchange reuse never fired, and lineitem was scanned
    // + aggregated twice (plans/r11/q71_*_before: 2 scans). Counting
    // parts as SUM(n_items >= 1 ? 1 : 0) — n_items is count(1) over a
    // non-empty group, so every row contributes exactly 1 and the sum
    // IS count(*) — keeps n_items referenced (NullPropagation rewrites
    // count(non-nullable) back to count(1), so a plain count cannot),
    // the per-part partial aggregates stay identical, and the stats
    // branch plans as a ReusedExchange of the probe's (guide §2.4).
    val stats = value.agg(xsum(col("part_value")).as("total_value"),
      sum(when(col("n_items") >= 1, 1L).otherwise(0L)).as("n_parts"))
    value.crossJoin(broadcast(stats))
      .filter(col("part_value") >
        lit(1.5) * col("total_value") / col("n_parts"))
      .select(col("l_partkey"), col("part_value"), col("n_items"))
      .orderBy(col("part_value").desc, col("l_partkey"))
      .limit(ImpTopK)
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  private val sqlImportantParts: String =
    s"""WITH v AS (
       |  SELECT l_partkey,
       |    ${sqlSum("l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")}
       |      AS part_value,
       |    CAST(COUNT(*) AS BIGINT) AS n_items
       |  FROM lineitem GROUP BY l_partkey
       |), t AS (
       |  SELECT ${sqlSum("part_value")} AS total_value,
       |    CAST(COUNT(*) AS BIGINT) AS n_parts
       |  FROM v
       |)
       |SELECT l_partkey, part_value, n_items
       |FROM v CROSS JOIN t
       |WHERE part_value > CAST(1.5 AS DOUBLE) * total_value / n_parts
       |ORDER BY part_value DESC, l_partkey
       |LIMIT $ImpTopK""".stripMargin

  // ------------------------------------------------- q74_rollup_share
  // Share-of-parent reporting: nation revenue inside its region and
  // region inside the total, with every level an EXACT-decimal rollup
  // of the level below (never a window sum over doubles — that
  // re-orders IEEE addition). Dims broadcast; one fact exchange.
  private def qRollupShare(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    val nat = Tables.orders(s, dir)
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(xsum(col("o_totalprice")).as("revenue"))
    val reg = nat.groupBy(col("r_name").as("rn"))
      .agg(xsum(col("revenue")).as("region_revenue"))
    val tot = reg.agg(xsum(col("region_revenue")).as("total_revenue"))
    nat.join(broadcast(reg), col("r_name") === col("rn"))
      .crossJoin(broadcast(tot))
      .select(col("r_name"), col("n_name"), col("revenue"),
        (col("revenue") / col("region_revenue")).as("nation_share"),
        (col("region_revenue") / col("total_revenue")).as("region_share"))
      .orderBy(col("r_name"), col("n_name"))
  }

  private val sqlRollupShare: String =
    s"""WITH nat AS (
       |  SELECT r_name, n_name, ${sqlSum("o_totalprice")} AS revenue
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  GROUP BY r_name, n_name
       |), reg AS (
       |  SELECT r_name AS rn, ${sqlSum("revenue")} AS region_revenue
       |  FROM nat GROUP BY r_name
       |), tot AS (
       |  SELECT ${sqlSum("region_revenue")} AS total_revenue FROM reg
       |)
       |SELECT r_name, n_name, revenue,
       |  revenue / region_revenue AS nation_share,
       |  region_revenue / total_revenue AS region_share
       |FROM nat JOIN reg ON r_name = rn CROSS JOIN tot
       |ORDER BY r_name, n_name""".stripMargin

  // ------------------------------------------------- q72/q73 multiset ops
  // EXCEPT ALL / INTERSECT ALL — the bag-semantics set operators
  // (per-occurrence, no implicit distinct). Spark plans both as a
  // single hash aggregation of signed/min counts + regenerate, one
  // shuffle on the row key; the ordered multiset output (duplicates
  // preserved) hashes deterministically.
  private def qExceptAll(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .exceptAll(o.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  private val sqlExceptAll: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT ALL
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  private def qIntersectAll(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersectAll(o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  private val sqlIntersectAll: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT ALL
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin

  // ------------------------------------------------- q76_null_semantics
  // Three-valued-logic surface: window heads produce genuine NULLs,
  // then the null-skipping filter count vs the null-SAFE equality
  // (Spark `<=>` ↔ SQL IS NOT DISTINCT FROM) are audited side by side
  // per event type. The lag pairing is (ts, event_id)-tied like every
  // lag in the suite.
  private def qNullSemantics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("prev", lag(col("value"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_heads"),
        sum(when(col("value") <=> col("prev"), 1L).otherwise(0L))
          .as("n_nullsafe_equal"),
        count(col("prev")).as("n_prev_nonnull"))
      .orderBy(col("event_type"))
  }

  private val sqlNullSemantics: String =
    """WITH lagged AS (
      |  SELECT event_type, value,
      |    LAG(value, 1) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_heads,
      |  CAST(SUM(CASE WHEN value IS NOT DISTINCT FROM prev THEN 1
      |    ELSE 0 END) AS BIGINT) AS n_nullsafe_equal,
      |  CAST(COUNT(prev) AS BIGINT) AS n_prev_nonnull
      |FROM lagged GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------- q43_retention
  // Cohort retention matrix: users grouped by first-seen week, counted
  // once per (cohort, weeks-since-cohort) they were active in — THE
  // product-analytics staple. Shape: ONE scan, ONE user-keyed agg
  // (collect_set of active weeks — bounded by the observed span in
  // weeks, a catalog constant, never by event count), cohort = first of
  // the sorted set, explode, then the |users|×|weeks|-row matrix agg.
  // The naive first-seen-join formulation scans the 100 TB event stream
  // TWICE and shuffles it for a join this version never does; the plan
  // test pins the 2-exchange shape (user spread + matrix grouping).
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    // NULL-ts events carry no cohort signal and are dropped up front —
    // without the filter, a user whose EVERY ts is NULL yields an empty
    // collect_set and element_at(., 1) dies under ANSI (the fixtures
    // have no NULL ts; a deployment's stream may)
    val e = Tables.eventsCached(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .filter(col("week").isNotNull)
    e.groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("week"))).as("weeks"))
      .select(element_at(col("weeks"), 1).as("cohort_week"),
        explode(col("weeks")).as("week"))
      .groupBy(col("cohort_week"),
        // div, not `/7 + cast`: the suite's integer-division rule — a
        // fractional day diff would truncate in Spark but ROUND in
        // DuckDB's CAST; div ↔ // is exact on both sides
        expr("datediff(week, cohort_week) div 7")
          .cast("int").as("weeks_since"))
      .agg(count(lit(1)).as("n_active"))
      .select(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
        col("weeks_since"), col("n_active"))
      .orderBy(col("cohort_week"), col("weeks_since"))
  }

  private val sqlRetention: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS week
      |  FROM events WHERE ts IS NOT NULL
      |), first_seen AS (
      |  SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id
      |)
      |SELECT f.cohort_week,
      |  CAST(date_diff('day', f.cohort_week, e.week) // 7 AS INT)
      |    AS weeks_since,
      |  CAST(COUNT(*) AS BIGINT) AS n_active
      |FROM e JOIN first_seen f ON e.user_id = f.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, weeks_since""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_agg", qPricingAgg _, sqlPricingAgg),
    QuerySpec("q2_filter_project", qFilterProject _, sqlFilterProject),
    QuerySpec("q3_enrich", qEnrich _, sqlEnrich),
    QuerySpec("q4_semi_join", qSemiJoin _, sqlSemiJoin),
    QuerySpec("q5_anti_join", qAntiJoin _, sqlAntiJoin),
    QuerySpec("q6_scd_merge", qScdMerge _, sqlScdMerge),
    QuerySpec("q7_scd_counters", qScdCounters _, sqlScdCounters),
    QuerySpec("q8_upsert_type1", qUpsertType1 _, sqlUpsertType1),
    QuerySpec("q9_union", qUnion _, sqlUnion),
    QuerySpec("q10_cleanse", qCleanse _, sqlCleanse),
    QuerySpec("q11_topk_window", qTopkWindow _, sqlTopkWindow),
    QuerySpec("q12_log_stamp", qLogStamp _, sqlLogStamp),
    QuerySpec("q13_sessionize", (s, d) => Sessionize.sessions(Tables.eventsCached(s, d)),
      Sessionize.sqlSessions),
    QuerySpec("q28_session_window", (s, d) => Sessionize.sessionsBuiltin(Tables.eventsCached(s, d)),
      Sessionize.sqlSessionsBuiltin),
    QuerySpec("q14_tumbling", (s, d) => Sessionize.tumbling(Tables.events(s, d)),
      Sessionize.sqlTumbling),
    QuerySpec("q15_enrich_pivot", qEnrichPivot _, sqlEnrichPivot),
    QuerySpec("q16_rollup", qRollup _, sqlRollup),
    QuerySpec("q17_except", qExcept _, sqlExcept),
    QuerySpec("q29_intersect", qIntersect _, sqlIntersect),
    QuerySpec("q18_json", qJson _, sqlJson),
    QuerySpec("q19_distinct_topn", qTopN _, sqlTopN),
    QuerySpec("q20_asof", qAsOf _, sqlAsOf),
    QuerySpec("q50_asof_phys", qAsOfPhys _, sqlAsOfPhys),
    QuerySpec("q80_asof_phys_outer", qAsOfPhysOuter _, sqlAsOfPhysOuter),
    // the physical tolerance route answers the SAME SQL as the composed
    // q45 — one oracle, two execution strategies
    QuerySpec("q51_asof_phys_tol", qAsOfPhysTol _, sqlAsOfTolerance),
    // the physical forward route answers q39's SQL — one oracle, two
    // execution strategies, mirroring the backward q50/q20 pairing
    QuerySpec("q52_asof_phys_fwd", qAsOfPhysFwd _, sqlAsOfForward),
    QuerySpec("q53_asof_phys_nearest", qAsOfPhysNearest _, sqlAsOfNearest),
    QuerySpec("q39_asof_forward", qAsOfForward _, sqlAsOfForward),
    QuerySpec("q21_array_agg", qArrayAgg _, sqlArrayAgg),
    QuerySpec("q22_string_funcs", qStringFuncs _, sqlStringFuncs),
    QuerySpec("q23_percentile", qPercentile _, sqlPercentile),
    QuerySpec("q24_sliding", qSlidingWindow _, sqlSlidingWindow),
    QuerySpec("q25_cube", qCube _, sqlCube),
    QuerySpec("q26_salted_join", qSaltedJoin _, sqlSaltedJoin),
    QuerySpec("q27_unpivot", qUnpivot _, sqlUnpivot),
    QuerySpec("q30_grouping_sets", qGroupingSets _, sqlGroupingSets),
    QuerySpec("q31_range_join", qRangeJoin _, sqlRangeJoin),
    QuerySpec("q32_range_frame", qRangeFrame _, sqlRangeFrame),
    QuerySpec("q33_quarantine", qQuarantine _, sqlQuarantine),
    QuerySpec("q34_profile", qProfile _, sqlProfile),
    QuerySpec("q35_ntile", qNtile _, sqlNtile),
    QuerySpec("q36_funnel", qFunnel _, sqlFunnel),
    QuerySpec("q37_correlated", qCorrelated _, sqlCorrelated),
    QuerySpec("q38_resample", qResample _, sqlResample),
    QuerySpec("q40_gap_fill", qGapFill _, sqlGapFill),
    QuerySpec("q42_ohlc", qOhlc _, sqlOhlc),
    QuerySpec("q43_retention", qRetention _, sqlRetention),
    QuerySpec("q41_histogram", (s, d) =>
      Profile.histogram(Tables.lineitem(s, d), "l_extendedprice"),
      Profile.sqlHistogram("lineitem", "l_extendedprice")),
    QuerySpec("q44_asof_nearest", qAsOfNearest _, sqlAsOfNearest),
    QuerySpec("q45_asof_tolerance", qAsOfTolerance _, sqlAsOfTolerance),
    QuerySpec("q46_revenue_by_nation", qRevenueByNation _, sqlRevenueByNation),
    QuerySpec("q54_ship_priority", qShipPriority _, sqlShipPriority),
    QuerySpec("q55_order_priority", qOrderPriority _, sqlOrderPriority),
    QuerySpec("q56_forecast_revenue", qForecastRevenue _, sqlForecastRevenue),
    QuerySpec("q57_returned_customers", qReturnedCustomers _, sqlReturnedCustomers),
    QuerySpec("q58_promo_revenue", qPromoRevenue _, sqlPromoRevenue),
    QuerySpec("q59_large_orders", qLargeOrders _, sqlLargeOrders),
    QuerySpec("q60_market_share", qMarketShare _, sqlMarketShare),
    QuerySpec("q61_small_qty_revenue", qSmallQtyRevenue _, sqlSmallQtyRevenue),
    QuerySpec("q62_order_count_dist", qOrderCountDist _, sqlOrderCountDist),
    QuerySpec("q63_disjunctive_revenue", qDisjunctiveRevenue _, sqlDisjunctiveRevenue),
    QuerySpec("q64_dormant_customers", qDormantCustomers _, sqlDormantCustomers),
    QuerySpec("q65_waiting_suppliers", qWaitingSuppliers _, sqlWaitingSuppliers),
    QuerySpec("q66_volume_shipping", qVolumeShipping _, sqlVolumeShipping),
    QuerySpec("q67_late_priority", qLatePriority _, sqlLatePriority),
    QuerySpec("q68_top_supplier", qTopSupplier _, sqlTopSupplier),
    QuerySpec("q77_product_profit", qProductProfit _, sqlProductProfit),
    QuerySpec("q78_supplier_counts", qSupplierCounts _, sqlSupplierCounts),
    QuerySpec("q79_dominant_suppliers", qDominantSuppliers _, sqlDominantSuppliers),
    QuerySpec("q69_skyline", qSkyline _, sqlSkyline),
    QuerySpec("q70_min_cost_supplier", qMinCostSupplier _, sqlMinCostSupplier),
    QuerySpec("q71_important_parts", qImportantParts _, sqlImportantParts),
    QuerySpec("q72_except_all", qExceptAll _, sqlExceptAll),
    QuerySpec("q73_intersect_all", qIntersectAll _, sqlIntersectAll),
    QuerySpec("q74_rollup_share", qRollupShare _, sqlRollupShare),
    QuerySpec("q47_session_incidents", qSessionIncidents _, sqlSessionIncidents),
    QuerySpec("q48_window_funcs", qWindowFuncs _, sqlWindowFuncs),
    QuerySpec("q49_funnel_windowed", qFunnelWindowed _, sqlFunnelWindowed),
    QuerySpec("q76_null_semantics", qNullSemantics _, sqlNullSemantics),
    QuerySpec("q75_calendar", qCalendar _, sqlCalendar),
  )
}
