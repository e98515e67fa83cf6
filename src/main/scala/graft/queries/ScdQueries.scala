package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Changelog

/** The `scd_*` queries: slowly changing dimension history, intervals and
  * time travel. */
object ScdQueries extends QueryFamily("scd") {

  // ------------------------------------------------- scd_snapshot_diff
  // Changelog.snapshotDiff between mid-January cutoffs — both snapshots
  // from ONE conditional-argmax aggregation over one scan.
  private val DiffT1 = "2024-01-10 00:00:00"
  private val DiffT2 = "2024-01-20 00:00:00"
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changelog.snapshotDiff(Tables.eventsCached(s, dir),
      lit(DiffT1).cast("timestamp"), lit(DiffT2).cast("timestamp"))

  private val sqlSnapshotDiff: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '$DiffT2'
       |), s AS (
       |  SELECT user_id,
       |    max(CASE WHEN ts <= TIMESTAMP '$DiffT1' THEN
       |      struct_pack(t := ts, e := event_id, v := value) END) AS o,
       |    CAST(COUNT(CASE WHEN ts <= TIMESTAMP '$DiffT1' THEN 1 END)
       |      AS BIGINT) AS nv_old,
       |    max(struct_pack(t := ts, e := event_id, v := value)) AS n,
       |    CAST(COUNT(*) AS BIGINT) AS nv_new
       |  FROM e GROUP BY user_id
       |)
       |SELECT user_id,
       |  CASE WHEN o.e IS NULL THEN 'added' ELSE 'changed' END
       |    AS change_type,
       |  o.e AS event_id_old, n.e AS event_id_new,
       |  o.v AS value_old, n.v AS value_new,
       |  nv_new - nv_old AS new_versions
       |FROM s
       |WHERE o.e IS NULL OR o.e <> n.e
       |ORDER BY user_id""".stripMargin

  // ------------------------------------------------- scd_intervals
  // Changelog → SCD2 interval table: the history-table builder that turns
  // an append-only change stream into (valid_from, valid_to] version rows
  // — the durable shape behind point-in-time queries, and the interval
  // twin of the flagship active-flag merge (§2.5). Shape: ONE user-keyed
  // lead window; valid_to is simply the next change's timestamp (NULL =
  // open/current). No join, no second scan — at 100 TB the changelog
  // shuffles exactly once on its key.
  private def qScdIntervals(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changelog.intervals(Tables.eventsCached(s, dir))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))

  private val sqlScdIntervals: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |)
      |SELECT user_id, ts AS valid_from,
      |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS valid_to,
      |  event_id, value,
      |  (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    IS NULL) AS is_current
      |FROM e
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  // ------------------------------------------------- scd_gc
  // Temporal-table VACUUM: Changelog.gcIntervals at the time-travel
  // horizon — the kept set is the minimal subset preserving every as-of
  // at t >= horizon (invariance property-tested in Round4ExtSpec).
  private def qScdGc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changelog.gcIntervals(
      graft.operators.Changelog.intervals(Tables.eventsCached(s, dir)),
      lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))

  private val sqlScdGc: String =
    s"""SELECT * FROM (
       |  ${sqlScdIntervals.linesIterator.mkString("\n  ")}
       |) WHERE valid_to IS NULL
       |   OR valid_to > TIMESTAMP '2024-01-15 00:00:00'
       |ORDER BY user_id, valid_from, event_id""".stripMargin

  // ------------------------------------------------- scd_timetravel
  // Point-in-time reconstruction: the table state AS OF a cutoff — the
  // query the SCD2 interval table exists to serve. Implemented as a thin
  // argmax (filter to ts ≤ cutoff, ONE per-key max over a (ts, event_id,
  // …) struct), NOT as intervals-then-filter: the argmax needs no window
  // sort and partial-aggregates map-side, so at 100 TB only |keys| thin
  // structs reach the exchange. The n_versions audit column counts the
  // versions the cutoff superseded.
  private val TimeTravelCutoff = "2024-01-15 00:00:00"
  private def qTimeTravel(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changelog.asOf(Tables.eventsCached(s, dir),
      lit(TimeTravelCutoff).cast("timestamp"))
      .orderBy(col("user_id"))

  private val sqlTimeTravel: String =
    s"""WITH e AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
       |    event_type, value
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '$TimeTravelCutoff'
       |)
       |SELECT user_id,
       |  (max(struct_pack(t := ts, e := event_id, ty := event_type,
       |                   v := value))).t AS as_of_ts,
       |  (max(struct_pack(t := ts, e := event_id, ty := event_type,
       |                   v := value))).e AS event_id,
       |  (max(struct_pack(t := ts, e := event_id, ty := event_type,
       |                   v := value))).ty AS event_type,
       |  (max(struct_pack(t := ts, e := event_id, ty := event_type,
       |                   v := value))).v AS value,
       |  CAST(COUNT(*) AS BIGINT) AS n_versions
       |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------- scd_interval_merge
  // Incremental interval maintenance (Changelog.mergeIntervals): untouched
  // keys pass through with NO window; touched keys rebuild from their own
  // rows + the batch. The oracle is the FULL recompute (sqlScdIntervals) —
  // the gate proves the incremental path equals the from-scratch build.
  private def qIntervalMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsCached(s, dir)
    // pin the derived state: in production it is a STORED table, and the
    // merge reads it twice (semi + anti) — unpinned, each consumer would
    // re-run the interval window over the history
    val state = graft.operators.Iterate.pin(graft.operators.Changelog
      .intervals(ev.filter(col("event_id") % 5 =!= 0)))
    graft.operators.Changelog
      .mergeIntervals(state, ev.filter(col("event_id") % 5 === 0))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  // ------------------------------------------------- scd_overlap_audit
  // Temporal-table consistency audit: per key, how many version intervals
  // OVERLAP their predecessor, how many leave a GAP, and the total
  // overlapped duration — the data-quality gate run on any externally
  // produced interval table before as-of queries can be trusted
  // (Changelog.intervals is overlap-free by construction; real ingested
  // history tables are not). The fixture intervals are synthesized from
  // orders with deterministic per-row durations so both defect classes
  // genuinely occur. Shape: ONE keyed lag window + ONE aggregate — the
  // single-exchange discipline of the changelog family; all arithmetic
  // is epoch-microsecond BIGINTs (no timestamp rounding to diverge).
  private def qScdOverlapAudit(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.orders(s, dir).select(
      (col("o_custkey") % 50).as("k"),
      col("o_orderkey").as("id"),
      expr("unix_micros(cast(o_orderdate as timestamp))").as("vf"))
      .withColumn("vt",
        col("vf") + (col("id") % 20 + 1) * lit(86400000000L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("vf"), col("id"))
    iv.withColumn("pvt", lag(col("vt"), 1).over(w))
      .withColumn("ov_days", when(col("pvt") > col("vf"),
        expr("(pvt - vf) div 86400000000")).otherwise(lit(0L)))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("pvt") > col("vf"), 1L).otherwise(0L))
          .as("n_overlaps"),
        sum(when(col("pvt") < col("vf"), 1L).otherwise(0L)).as("n_gaps"),
        sum(col("ov_days")).as("overlap_days"))
      .orderBy(col("k"))
  }

  private val sqlScdOverlapAudit: String =
    """WITH iv AS (
      |  SELECT o_custkey % 50 AS k, o_orderkey AS id,
      |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS vf,
      |    epoch_us(CAST(o_orderdate AS TIMESTAMP))
      |      + (o_orderkey % 20 + 1) * 86400000000 AS vt
      |  FROM orders
      |), lagged AS (
      |  SELECT k, vf, vt,
      |    LAG(vt) OVER (PARTITION BY k ORDER BY vf, id) AS pvt
      |  FROM iv
      |)
      |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_versions,
      |  CAST(SUM(CASE WHEN pvt > vf THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_overlaps,
      |  CAST(SUM(CASE WHEN pvt < vf THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_gaps,
      |  CAST(SUM(CASE WHEN pvt > vf THEN (pvt - vf) // 86400000000
      |    ELSE 0 END) AS BIGINT) AS overlap_days
      |FROM lagged GROUP BY k ORDER BY k""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("scd_type3", (s, d) => Changelog.type3(Tables.eventsCached(s, d)),
      Changelog.sqlType3),
    QuerySpec("scd_snapshot_diff", qSnapshotDiff _, sqlSnapshotDiff),
    QuerySpec("scd_overlap_audit", qScdOverlapAudit _, sqlScdOverlapAudit),
    QuerySpec("scd_intervals", qScdIntervals _, sqlScdIntervals),
    QuerySpec("scd_gc", qScdGc _, sqlScdGc),
    // the incremental merge must equal the from-scratch interval build —
    // its oracle IS the full-recompute SQL
    QuerySpec("scd_interval_merge", qIntervalMerge _, sqlScdIntervals),
    QuerySpec("scd_timetravel", qTimeTravel _, sqlTimeTravel),
  )
}
