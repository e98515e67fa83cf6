package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.operators.{Sessionize, TrainingData}

/** The `events_*` queries: event-log analytics over the `events` table. */
object EventsQueries extends QueryFamily("events") {

  // ------------------------------------------------- events_compact
  // CDC log compaction: materialize the LATEST state per (user_id,
  // event_type) from the append-only change log — the log→snapshot step
  // every incremental pipeline runs. Same thin-argmax convention as
  // q42_ohlc: max over struct(ts, event_id, value) partial-aggregates
  // map-side (each task emits one candidate per key), so the 100 TB log
  // shuffles |keys| rows, never events — the ROW_NUMBER()-per-key
  // formulation would sort the whole stream inside one window exchange.
  // (ts, event_id) is unique, so the tiebreak is deterministic and the
  // value field never drives the compare.
  private def qCompact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsCached(s, dir)
    e.groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("last"),
        count(lit(1)).as("n_changes"))
      .select(col("user_id"), col("event_type"),
        col("last.ts").cast("timestamp_ntz").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.value").as("last_value"), col("n_changes"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val sqlCompact: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
      |    event_id, value
      |  FROM events
      |)
      |SELECT user_id, event_type,
      |  (max(struct_pack(t := ts, e := event_id, v := value))).t AS last_ts,
      |  (max(struct_pack(t := ts, e := event_id, v := value))).e
      |    AS last_event_id,
      |  (max(struct_pack(t := ts, e := event_id, v := value))).v
      |    AS last_value,
      |  CAST(COUNT(*) AS BIGINT) AS n_changes
      |FROM e GROUP BY 1, 2
      |ORDER BY user_id, event_type""".stripMargin

  // ------------------------------------------------- events_winsorize
  // Robust outlier clipping: per-event-type p01/p99 bounds (exact
  // interpolated percentile — Spark `percentile` ↔ DuckDB quantile_cont,
  // emitted RAW, no round-after-interpolation), then a map-side clamp
  // against the broadcast bounds table. The clipped value is SELECTED
  // (value, lo, or hi), never recomputed, so no new float arithmetic can
  // diverge. Scale shape: the percentile aggregate is one hash agg over
  // |event_types| groups; the clip pass is a broadcast join + pure
  // projection — the 100 TB event stream never shuffles.
  private def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsCached(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val bounds = ev.groupBy(col("event_type")).agg(
      expr("percentile(value, 0.01)").as("lo"),
      expr("percentile(value, 0.99)").as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("value") < col("lo"), col("lo"))
          .when(col("value") > col("hi"), col("hi"))
          .otherwise(col("value")).as("clipped"),
        (col("value") < col("lo") || col("value") > col("hi"))
          .as("was_clipped"))
      .orderBy(col("event_id"))
  }

  private val sqlWinsorize: String =
    """WITH b AS (
      |  SELECT event_type,
      |    quantile_cont(value, 0.01) AS lo,
      |    quantile_cont(value, 0.99) AS hi
      |  FROM events GROUP BY event_type
      |)
      |SELECT e.event_id, e.event_type, e.value,
      |  CASE WHEN e.value < lo THEN lo
      |       WHEN e.value > hi THEN hi
      |       ELSE e.value END AS clipped,
      |  (e.value < lo OR e.value > hi) AS was_clipped
      |FROM events e JOIN b USING (event_type)
      |ORDER BY e.event_id""".stripMargin

  // ------------------------------------------------- events_anomaly
  // Robust anomaly detection: per-event-type median/MAD z-score
  // (Hampel-style — median and MAD are immune to the outliers they
  // flag, unlike mean/stddev), global top-20 by |score|. Two broadcast
  // percentile passes (median, then median absolute deviation), the
  // score division once per row, and the top-k planned as
  // TakeOrderedAndProject — never a global sort of the event stream.
  private def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsCached(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(max(col("med")).as("med"), // constant per group
        expr("percentile(adev, 0.5)").as("mad"))
      .filter(col("mad") > 0.0)
    ev.join(broadcast(mad), "event_type")
      .withColumn("score", (col("value") - col("med")) / col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("score"))
      .orderBy(abs(col("score")).desc, col("event_id"))
      .limit(20)
  }

  private val sqlAnomaly: String =
    """WITH m AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type
      |), d AS (
      |  SELECT e.event_type, med,
      |    quantile_cont(abs(e.value - med), 0.5) AS mad
      |  FROM events e JOIN m USING (event_type)
      |  GROUP BY e.event_type, med
      |)
      |SELECT e.event_id, e.event_type, e.value,
      |  (e.value - med) / mad AS score
      |FROM events e JOIN d USING (event_type)
      |WHERE mad > 0
      |ORDER BY abs((e.value - med) / mad) DESC, e.event_id
      |LIMIT 20""".stripMargin

  // ------------------------------------------------- events_cooccur
  // Market-basket co-occurrence with support/lift: which event types
  // appear together in the same user's history more than independence
  // predicts. Shape: distinct (user, type) pairs once; the self-join
  // keys on user_id, so per-user pair fan-out is bounded by the
  // event-type CARDINALITY (a catalog constant), never by event count —
  // the classic a-priori first pass, safe at any user count. Supports
  // and lifts are single divisions of exact BIGINT counts.
  private def qCooccur(s: SparkSession, dir: String): DataFrame = {
    // ONE user-keyed set aggregation feeds all three branches (per-type
    // counts, pair counts, user count): the identical exchange+aggregate
    // subtree is deduplicated by ReuseExchange, so the event stream is
    // scanned and shuffled ONCE — the distinct-self-join form scanned it
    // three times. Pair expansion is a map-side HOF over the SORTED
    // per-user type set (a < b by construction), bounded by type
    // cardinality, never event count.
    // NULL discipline mirrored in the oracle: a NULL user is not a basket
    // and a NULL type is not an item. Without the explicit filter the two
    // engines diverge on NULL-bearing fixtures (collect_set drops NULL
    // types while DISTINCT keeps them; count-of-groups counts a NULL-user
    // group while COUNT(DISTINCT user_id) excludes it).
    val sets = Tables.eventsCached(s, dir)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("tset"))
    val nUsers = sets.agg(count(lit(1)).as("n_users"))
    val tc = sets.select(explode(col("tset")).as("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = sets
      .select(explode(expr(
        """flatten(transform(tset, (a, i) ->
          |  transform(slice(tset, i + 2, size(tset)),
          |    b -> struct(a, b))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(tc.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(tc.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_both"),
        (col("n_both").cast("double") / col("n_users").cast("double"))
          .as("support"),
        ((col("n_both") * col("n_users")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  private val sqlCooccur: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |), n AS (
      |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut
      |), tc AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
      |  FROM ut GROUP BY event_type
      |), p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_both
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b, n_both,
      |  CAST(n_both AS DOUBLE) / CAST(n_users AS DOUBLE) AS support,
      |  CAST(n_both * n_users AS DOUBLE)
      |    / CAST(ta.n_t * tb.n_t AS DOUBLE) AS lift
      |FROM p
      |JOIN tc ta ON ta.event_type = p.type_a
      |JOIN tc tb ON tb.event_type = p.type_b, n
      |ORDER BY type_a, type_b""".stripMargin

  // ------------------------------------------------- events_transitions
  // Next-event transition matrix (first-order Markov over the event
  // stream): one user-keyed lead window + one pair aggregate; the
  // per-source row share is a single division of exact counts. The lead
  // window shares the events table's user-keyed spread exchange.
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = t.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    t.join(broadcast(fromTotals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("n_from").cast("double"))
          .as("share"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val sqlTransitions: String =
    """WITH seq AS (
      |  SELECT user_id, event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events WHERE ts IS NOT NULL
      |), t AS (
      |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
      |), ft AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
      |  FROM t GROUP BY from_type
      |)
      |SELECT t.from_type, t.to_type, t.n,
      |  CAST(t.n AS DOUBLE) / CAST(ft.n_from AS DOUBLE) AS share
      |FROM t JOIN ft USING (from_type)
      |ORDER BY t.from_type, t.to_type""".stripMargin

  // ------------------------------------------------- events_value_pareto
  // Revenue concentration: what share of total value the top decile of
  // users carries — the 80/20 report behind every account-tier decision.
  // One per-user exact-decimal total, a broadcast p90 cutoff (same
  // broadcast-cutpoint discipline as RFM: never an ntile over the user
  // frame), conditional exact sums, one final division. The >= p90
  // boundary compare is ulp-robust: totals are generic doubles, so no
  // user's total sits within rounding distance of the interpolated
  // cutoff on one engine only.
  private def qValuePareto(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val totals = Tables.eventsCached(s, dir)
      .filter(col("value").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(Exact.xsum(col("value")).as("tv"))
    val cut = totals.agg(expr("percentile(tv, 0.9)").as("p90"))
    totals.crossJoin(broadcast(cut))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("tv") >= col("p90"), 1L).otherwise(0L)).as("top_users"),
        Exact.xsum(when(col("tv") >= col("p90"), col("tv"))
          .otherwise(lit(0.0))).as("top_value"),
        Exact.xsum(col("tv")).as("total_value"))
      .select(col("n_users"), col("top_users"),
        (col("top_value") / col("total_value")).as("value_share"))
  }

  private val sqlValuePareto: String = {
    import graft.functions.Exact
    s"""WITH totals AS (
       |  SELECT user_id, ${Exact.sqlSum("value")} AS tv
       |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY user_id
       |), c AS (SELECT quantile_cont(tv, 0.9) AS p90 FROM totals)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       |  CAST(SUM(CASE WHEN t.tv >= c.p90 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS top_users,
       |  ${Exact.sqlSum(
             "CASE WHEN t.tv >= c.p90 THEN t.tv ELSE CAST(0 AS DOUBLE) END")}
       |    / ${Exact.sqlSum("t.tv")} AS value_share
       |FROM totals t, c""".stripMargin
  }

  // ------------------------------------------------- events_benford
  // First-significant-digit profile of transaction values vs Benford's
  // law expectation — the forensic-accounting screen. Engine-exactness
  // notes: `floor` (not a double→int CAST: Spark truncates, DuckDB
  // ROUNDS) and an integer digit extraction via decimal string length
  // (never log10, which can land on a power-of-ten boundary
  // differently); the expected share log10(1 + 1/d) is the ONE place a
  // transcendental appears, and both engines' correctly-rounded log10 of
  // the same small rational agrees bit-for-bit... except it is NOT
  // guaranteed for log — so the expectation ships as 17-digit literals
  // computed once, not as an engine call.
  private val BenfordExpected: Map[Int, Double] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
  private def qBenford(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables.eventsCached(s, dir)
      .filter(col("value").isNotNull && col("value") >= 1.0)
      .select(floor(col("value")).cast("long").as("v"))
      .withColumn("digit",
        expr("cast(v div cast(pow(10, length(cast(v as string)) - 1) as long) as int)"))
    val expected = s.createDataFrame(
      BenfordExpected.toSeq.sortBy(_._1)).toDF("digit", "expected_share")
    val total = vals.agg(count(lit(1)).as("total"))
    vals.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .join(broadcast(expected), Seq("digit"))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"),
        col("expected_share"))
      .orderBy(col("digit"))
  }

  private val sqlBenford: String = {
    val expectedRows = BenfordExpected.toSeq.sortBy(_._1).map {
      case (d, e) =>
        // string→double parse (correct rounding); a bare numeric literal
        // would route through DECIMAL in DuckDB and land 1 ulp off
        s"SELECT $d AS digit, CAST('${java.lang.Double.toString(e)}' AS DOUBLE) AS expected_share"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH vals AS (
       |  SELECT CAST(floor(value) AS BIGINT) AS v
       |  FROM events WHERE value IS NOT NULL AND value >= 1.0
       |), digits AS (
       |  SELECT CAST(v // CAST(pow(10, length(CAST(v AS VARCHAR)) - 1)
       |    AS BIGINT) AS INTEGER) AS digit
       |  FROM vals
       |), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM digits),
       |exp AS (
       |  $expectedRows
       |), counts AS (
       |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM digits GROUP BY digit
       |)
       |SELECT c.digit, c.n,
       |  CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
       |  e.expected_share
       |FROM counts c JOIN exp e ON c.digit = e.digit CROSS JOIN t
       |ORDER BY c.digit""".stripMargin
  }

  // ------------------------------------------------- events_cohort_ltv
  // Cohort lifetime-value accumulation: users grouped by first-seen week,
  // per (cohort, age-week) active counts and value, plus CUMULATIVE
  // value per cohort — the LTV curve behind payback-period decisions.
  // The cumsum deliberately avoids a running double window: engines
  // disagree on windowed-double ADD ORDER (Spark runs sequentially,
  // DuckDB's segment tree pairs differently), so the accumulation is a
  // triangle join over the tiny (cohort × age) frame with the
  // exact-decimal sum — order-independent, hash-stable.
  private def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val e = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
    val firstDay = e.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    val base = e.agg(min(col("d")).as("g0"))
    val agg = e.join(firstDay, Seq("user_id"))
      .crossJoin(broadcast(base))
      .select(expr("datediff(d0, g0) div 7").as("cohort_week"),
        expr("datediff(d, d0) div 7").as("age_week"),
        col("user_id"), col("value"))
      .groupBy(col("cohort_week"), col("age_week"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        Exact.xsum(col("value")).as("week_value"))
    val b = agg.select(col("cohort_week"), col("age_week").as("bw"),
      col("week_value").as("bv"))
    agg.join(b, Seq("cohort_week"))
      .filter(col("bw") <= col("age_week"))
      .groupBy(col("cohort_week"), col("age_week"),
        col("n_active"), col("week_value"))
      .agg(Exact.xsum(col("bv")).as("cum_value"))
      .select(col("cohort_week"), col("age_week"), col("n_active"),
        col("week_value"), col("cum_value"))
      .orderBy(col("cohort_week"), col("age_week"))
  }

  private val sqlCohortLtv: String = {
    import graft.functions.Exact
    s"""WITH e AS (
       |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, value
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), f AS (
       |  SELECT user_id, MIN(d) AS d0 FROM e GROUP BY user_id
       |), g AS (SELECT MIN(d) AS g0 FROM e),
       |cells AS (
       |  SELECT (f.d0 - g.g0) // 7 AS cohort_week,
       |    (e.d - f.d0) // 7 AS age_week, e.user_id, e.value
       |  FROM e JOIN f USING (user_id), g
       |), agg AS (
       |  SELECT cohort_week, age_week,
       |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
       |    ${Exact.sqlSum("value")} AS week_value
       |  FROM cells GROUP BY 1, 2
       |)
       |SELECT a.cohort_week, a.age_week, a.n_active, a.week_value,
       |  ${Exact.sqlSum("b.week_value")} AS cum_value
       |FROM agg a JOIN agg b
       |  ON a.cohort_week = b.cohort_week AND b.age_week <= a.age_week
       |GROUP BY a.cohort_week, a.age_week, a.n_active, a.week_value
       |ORDER BY a.cohort_week, a.age_week""".stripMargin
  }

  // ------------------------------------------------- events_active_users
  // DAU + trailing-7-day WAU — the staple engagement report. The
  // scalable WAU formulation: a rolling DISTINCT cannot ride a window
  // frame, so each (user, active-day) pair — already deduplicated, the
  // frame is |users|·|days| at most — explodes into the ≤7 report days
  // it covers, and WAU is a plain count-distinct per covered day. At
  // 100 TB the explode factor is the constant 7 and both aggregates
  // hash-partition on (user, day); no per-day rescans, no quadratic
  // self-join over the window.
  private def qActiveUsers(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val dau = ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val bounds = ud.agg(max(col("d")).as("d1"))
    val wau = ud.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(expr("sequence(d, least(date_add(d, 6), d1))")).as("d"))
      .distinct()
      .groupBy(col("d")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("d"))
      .select(col("d"), col("dau"), col("wau"))
      .orderBy(col("d"))
  }

  private val sqlActiveUsers: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |), dau AS (
      |  SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d
      |), b AS (SELECT MAX(d) AS d1 FROM ud),
      |cov AS (
      |  SELECT DISTINCT user_id,
      |    CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
      |      CAST(least(d + 6, d1) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE)
      |      AS d
      |  FROM ud, b
      |), wau AS (
      |  SELECT d, CAST(COUNT(*) AS BIGINT) AS wau FROM cov GROUP BY d
      |)
      |SELECT dau.d, dau.dau, wau.wau
      |FROM dau JOIN wau ON dau.d = wau.d
      |ORDER BY dau.d""".stripMargin

  // ------------------------------------------------- events_forecast_naive
  // Seasonal-naive forecasting baseline (the standard yardstick of the
  // M-competitions: predict hour h of day d with hour h of day d−7) and
  // its MAE per event type — the first number any demand-forecast
  // pipeline must beat. The evaluation grid is DENSE (every (type, day,
  // hour) cell from day 8 on, zero-filled on both the actual and the
  // predicted side): skipping empty cells would silently score only the
  // easy nonzero hours. Shape: one (type, day, hour) count aggregate,
  // the grid via sequence-explode against a broadcast 1-row bounds
  // frame, two left joins back to the counts, one final agg; counts and
  // absolute errors are exact integers, MAE is the single division.
  private def qForecastNaive(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsCached(s, dir).filter(col("ts").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        hour(col("ts")).cast("long").as("h"))
    val counts = e.groupBy(col("event_type"), col("d"), col("h"))
      .agg(count(lit(1)).as("n"))
    val bounds = e.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val grid = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(date_add(d0, 7), d1)")).as("d"))
      .select(col("event_type"), col("d"),
        explode(expr("sequence(0L, 23L)")).as("h"))
    val pred = counts.select(col("event_type"),
      date_add(col("d"), 7).as("d"), col("h"), col("n").as("np"))
    grid.join(counts, Seq("event_type", "d", "h"), "left")
      .join(pred, Seq("event_type", "d", "h"), "left")
      .select(col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("np"), lit(0L)).as("np"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cells"),
        sum(abs(col("n") - col("np"))).as("abs_err_sum"))
      .select(col("event_type"), col("n_cells"), col("abs_err_sum"),
        (col("abs_err_sum").cast("double") / col("n_cells").cast("double"))
          .as("mae"))
      .orderBy(col("event_type"))
  }

  private val sqlForecastNaive: String =
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS h
      |  FROM events WHERE ts IS NOT NULL
      |), counts AS (
      |  SELECT event_type, d, h, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM e GROUP BY 1, 2, 3
      |), b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM e),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 + 7 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM b
      |), hours AS (
      |  SELECT CAST(unnest(generate_series(0, 23)) AS BIGINT) AS h
      |), grid AS (
      |  SELECT t.event_type, days.d, hours.h
      |  FROM (SELECT DISTINCT event_type FROM e) t, days, hours
      |), cells AS (
      |  SELECT g.event_type,
      |    COALESCE(c.n, 0) AS n, COALESCE(p.np, 0) AS np
      |  FROM grid g
      |  LEFT JOIN counts c
      |    ON g.event_type = c.event_type AND g.d = c.d AND g.h = c.h
      |  LEFT JOIN (
      |    SELECT event_type, d + 7 AS d, h, n AS np FROM counts
      |  ) p ON g.event_type = p.event_type AND g.d = p.d AND g.h = p.h
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cells,
      |  CAST(SUM(abs(n - np)) AS BIGINT) AS abs_err_sum,
      |  CAST(SUM(abs(n - np)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae
      |FROM cells GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------- events_top_paths
  // Top 3-step behavior paths: the Sankey/flow data one step deeper than
  // events_transitions. Two leads share the transitions' single user
  // exchange; the path space is |event types|³ ≤ 125 rows, so the global
  // top-k rank runs over a bounded frame (the same bounded-output
  // discipline as graph_degrees).
  private val TopPathsK = 10
  private def qTopPaths(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val paths = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("p1"))
      .withColumn("p2", lead(col("p1"), 1).over(w))
      .withColumn("p3", lead(col("p1"), 2).over(w))
      .filter(col("p2").isNotNull && col("p3").isNotNull)
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("n"))
    val rw = Window.orderBy(col("n").desc, col("p1"), col("p2"), col("p3"))
    paths.withColumn("rk", row_number().over(rw))
      .filter(col("rk") <= TopPathsK)
      .select(col("rk"), col("p1"), col("p2"), col("p3"), col("n"))
      .orderBy(col("rk"))
  }

  private val sqlTopPaths: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_type AS p1,
       |    LEAD(event_type, 1) OVER w AS p2,
       |    LEAD(event_type, 2) OVER w AS p3
       |  FROM events WHERE ts IS NOT NULL
       |  WINDOW w AS (PARTITION BY user_id
       |               ORDER BY CAST(ts AS TIMESTAMP), event_id)
       |), paths AS (
       |  SELECT p1, p2, p3, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM seq WHERE p2 IS NOT NULL AND p3 IS NOT NULL
       |  GROUP BY 1, 2, 3
       |)
       |SELECT rk, p1, p2, p3, n FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, p1, p2, p3) AS rk
       |  FROM paths
       |) WHERE rk <= $TopPathsK ORDER BY rk""".stripMargin

  // ------------------------------------------------- events_sequences
  // Per-user bounded event sequences — the "user history → fixed-length
  // training example" exporter behind behavioral/session models. Shape:
  // ONE user-keyed exchange shared by the rank window and the aggregate;
  // the collect carries AT MOST SeqMaxLen structs per user (rows past the
  // rank bound enter the aggregate as NULL, which collect_list skips), so
  // per-group state is bounded no matter how hot a user is — a bare
  // collect_list-then-slice would buffer the whole history first.
  private val SeqMaxLen = 8
  private def qSequences(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(when(col("rn") <= SeqMaxLen,
          struct(col("rn"), col("event_type"))))).as("evs"))
      .select(col("user_id"), col("n_events"),
        array_join(transform(col("evs"), e => e.getField("event_type")), ",")
          .as("seq"))
      .orderBy(col("user_id"))
  }

  private val sqlSequences: String =
    s"""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  array_to_string(list_slice(
       |    list(event_type ORDER BY CAST(ts AS TIMESTAMP), event_id),
       |    1, $SeqMaxLen), ',') AS seq
       |FROM events
       |WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |  AND event_type IS NOT NULL
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------- events_attribution
  // Last-touch attribution: each purchase is credited to the user's most
  // recent PRIOR non-purchase event, attributed only when the touch falls
  // inside the 24 h window — the marketing-analytics staple. Shape: ONE
  // user-keyed exchange; the ignore-nulls `last` over the
  // unbounded-preceding frame is a running O(1)-state scan per partition
  // (never a per-row backward search), and purchases filter AFTER the
  // window so every event still feeds the running state.
  private val AttribWindowUs = 86400000000L // 24 h
  private def qAttribution(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changelog
      .lastTouch(Tables.eventsCached(s, dir), "purchase", AttribWindowUs)
      .orderBy(col("purchase_id"))

  private val sqlAttribution: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type IS NOT NULL
       |), s AS (
       |  SELECT *, LAST_VALUE(CASE WHEN event_type <> 'purchase'
       |      THEN struct_pack(t := ts, e := event_id, ty := event_type)
       |      END IGNORE NULLS)
       |    OVER (PARTITION BY user_id ORDER BY ts, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
       |  FROM e
       |)
       |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       |  touch.e AS touch_id, touch.ty AS touch_type, touch.t AS touch_ts,
       |  epoch_us(ts) - epoch_us(touch.t) AS gap_us,
       |  (epoch_us(ts) - epoch_us(touch.t) IS NOT NULL
       |   AND epoch_us(ts) - epoch_us(touch.t) <= $AttribWindowUs)
       |    AS attributed
       |FROM s WHERE event_type = 'purchase'
       |ORDER BY purchase_id""".stripMargin

  // ------------------------------------------------- events_multitouch
  // Linear multi-touch attribution (Changelog.multiTouch): RangeJoin
  // composition — bucket-explode equi join, never a nested-loop BETWEEN —
  // then one conversion-keyed count window and an exact-decimal 1/n
  // credit sum.
  private def qMultiTouch(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changelog.multiTouch(Tables.eventsCached(s, dir), "purchase",
      AttribWindowUs, AttribWindowUs)
      .orderBy(col("touch_type"))

  private val sqlMultiTouch: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type IS NOT NULL
       |), p AS (
       |  SELECT event_id AS conv_id, user_id, ts AS conv_ts
       |  FROM e WHERE event_type = 'purchase'
       |), t AS (
       |  SELECT event_id AS touch_id, user_id, event_type AS touch_type, ts
       |  FROM e WHERE event_type <> 'purchase'
       |), j AS (
       |  SELECT conv_id, touch_type
       |  FROM t JOIN p USING (user_id)
       |  WHERE epoch_us(conv_ts) - epoch_us(t.ts) <= $AttribWindowUs
       |    AND t.ts < conv_ts
       |), n AS (
       |  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_touches
       |  FROM j GROUP BY conv_id
       |)
       |SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_assists,
       |  ${sqlSum("CAST(1 AS DOUBLE) / n_touches", 6)} AS credit
       |FROM j JOIN n USING (conv_id)
       |GROUP BY touch_type ORDER BY touch_type""".stripMargin

  // ------------------------------------------------- events_gap_stats
  // Inter-event gap distribution — the data that justifies (or retunes)
  // the sessionizer's 30-minute gap threshold and the debounce window:
  // exact interpolated percentiles of per-user gaps plus the exact share
  // of gaps under the current threshold. ONE user-keyed lag window, one
  // tiny percentile aggregate; gaps are exact integer micros, converted
  // to seconds by one double division.
  private def qGapStats(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap_us, array(0.5, 0.9, 0.99))").as("p"),
        sum(when(col("gap_us") <= Sessionize.GapMicros, 1L).otherwise(0L))
          .as("n_within"))
      .select(col("n_gaps"),
        (col("p")(0) / 1e6).as("p50_s"),
        (col("p")(1) / 1e6).as("p90_s"),
        (col("p")(2) / 1e6).as("p99_s"),
        (col("n_within").cast("double") / col("n_gaps").cast("double"))
          .as("share_within_gap"))
  }

  private val sqlGapStats: String =
    s"""WITH g AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP))
       |    - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
       |        PARTITION BY user_id
       |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
       |  quantile_cont(gap_us, 0.5) / 1e6 AS p50_s,
       |  quantile_cont(gap_us, 0.9) / 1e6 AS p90_s,
       |  quantile_cont(gap_us, 0.99) / 1e6 AS p99_s,
       |  CAST(SUM(CASE WHEN gap_us <= ${Sessionize.GapMicros}
       |       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS share_within_gap
       |FROM g WHERE gap_us IS NOT NULL""".stripMargin

  // ------------------------------------------------- events_rfm
  // RFM segmentation (recency / frequency / monetary, the classic
  // customer-scoring frame): per-user purchase aggregates, then quintile
  // scores per dimension. The scale point is how the quintiles are
  // assigned: ONE tiny percentile aggregate of cut points broadcast back
  // and a map-side <=-chain — never ntile() over the user frame, whose
  // global sort is a single-partition funnel at 10⁹ users (the
  // corpus_curriculum discipline). Recency is exact integer day
  // arithmetic; monetary goes through the exact-decimal sum.
  private val RfmCutoffLit = "2024-02-01 00:00:00"
  private def qRfm(s: SparkSession, dir: String): DataFrame = {
    val cutoffUs = java.time.LocalDateTime.parse(
      RfmCutoffLit.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val perUser = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        ((lit(cutoffUs) - max(unix_micros(col("ts")))) / lit(86400000000L))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        xsum(col("value")).as("monetary"))
    val cuts = perUser.agg(
      expr("percentile(recency_days, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
      expr("percentile(frequency, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
      expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
    def score(v: Column, c: Column): Column =
      when(v <= c(0), 1).when(v <= c(1), 2).when(v <= c(2), 3)
        .when(v <= c(3), 4).otherwise(5)
    perUser.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        score(col("recency_days").cast("double"), col("rc")).as("r_score"),
        score(col("frequency").cast("double"), col("fc")).as("f_score"),
        score(col("monetary"), col("mc")).as("m_score"))
      .orderBy(col("user_id"))
  }

  private val sqlRfm: String = {
    def score(v: String, c: String) =
      s"""CASE WHEN $v <= ${c}1 THEN 1 WHEN $v <= ${c}2 THEN 2
         |       WHEN $v <= ${c}3 THEN 3 WHEN $v <= ${c}4 THEN 4
         |       ELSE 5 END""".stripMargin
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CAST((epoch_us(TIMESTAMP '$RfmCutoffLit')
       |      - epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 86400000000
       |      AS BIGINT) AS recency_days,
       |    CAST(COUNT(*) AS BIGINT) AS frequency,
       |    ${sqlSum("value")} AS monetary
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type = 'purchase'
       |  GROUP BY user_id
       |), c AS (
       |  SELECT
       |    quantile_cont(recency_days, 0.2) AS rc1,
       |    quantile_cont(recency_days, 0.4) AS rc2,
       |    quantile_cont(recency_days, 0.6) AS rc3,
       |    quantile_cont(recency_days, 0.8) AS rc4,
       |    quantile_cont(frequency, 0.2) AS fc1,
       |    quantile_cont(frequency, 0.4) AS fc2,
       |    quantile_cont(frequency, 0.6) AS fc3,
       |    quantile_cont(frequency, 0.8) AS fc4,
       |    quantile_cont(monetary, 0.2) AS mc1,
       |    quantile_cont(monetary, 0.4) AS mc2,
       |    quantile_cont(monetary, 0.6) AS mc3,
       |    quantile_cont(monetary, 0.8) AS mc4
       |  FROM pu
       |)
       |SELECT user_id, recency_days, frequency, monetary,
       |  ${score("CAST(recency_days AS DOUBLE)", "rc")} AS r_score,
       |  ${score("CAST(frequency AS DOUBLE)", "fc")} AS f_score,
       |  ${score("monetary", "mc")} AS m_score
       |FROM pu, c
       |ORDER BY user_id""".stripMargin
  }

  // ------------------------------------------------- events_agg_merge
  // Incremental view maintenance for aggregations: a materialized hourly
  // rollup absorbs a new batch by MERGING partial states, never
  // rescanning history. The textbook trap is state that stores the
  // PRESENTATION value (a rounded double): merged-then-rounded ≠
  // rounded-then-merged, and the incremental table silently drifts from
  // a recompute. Here the state keeps the EXACT decimal accumulator
  // (count + DECIMAL(28,12) sum — both mergeable by addition); the one
  // rounding to double happens at report time, so the gate can oracle
  // the incremental path against the FULL recompute and hash-match.
  private def qAggMerge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
    def hourly(df: DataFrame): DataFrame = df
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(graft.functions.Exact.Dec)).as("sv"))
    val state = hourly(ev.filter(col("event_id") % 5 =!= 0))
    val delta = hourly(ev.filter(col("event_id") % 5 === 0))
    state.unionByName(delta)
      .groupBy(col("hour"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sv")).cast(DecimalType(38, 2)).cast("double")
          .as("total_value"))
      .select(col("hour").cast("timestamp_ntz").as("hour"),
        col("n_events"), col("total_value"))
      .orderBy(col("hour"))
  }

  private val sqlAggMerge: String =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  ${sqlSum("value")} AS total_value
       |FROM events WHERE ts IS NOT NULL
       |GROUP BY 1 ORDER BY hour""".stripMargin

  // ------------------------------------------------- events_user_entropy
  // Per-user event-type Shannon entropy — the behavioral-diversity score
  // (bots and scripted traffic sit at 0; engaged users spread mass).
  // Two thin hash aggregates on the user key + a co-partitioned re-join
  // (AQE reuses the exchange); the −p·ln p terms are fixed IEEE op
  // sequences on exact count ratios and the per-user sum rides the
  // exact-decimal detour, so the descending rank (ties broken by
  // user_id) is engine-identical.
  private val EntropyTopK = 20
  private def qUserEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ue = Tables.eventsCached(s, dir)
      .filter(col("event_type").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val ut = ue.groupBy(col("user_id"))
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("n_types"))
    val p = col("c").cast("double") / col("tot").cast("double")
    val w = Window.orderBy(col("entropy").desc, col("user_id"))
    ue.join(ut, Seq("user_id"))
      .groupBy(col("user_id"), col("tot"), col("n_types"))
      .agg(xsum(-(p * log(p)), 12).as("entropy"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= EntropyTopK)
      .select(col("rk").cast("long").as("rk"), col("user_id"),
        col("tot").cast("long").as("n_events"), col("n_types"),
        col("entropy"))
      .orderBy(col("rk"))
  }

  private val sqlUserEntropy: String =
    s"""WITH ue AS (
       |  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM events WHERE event_type IS NOT NULL
       |  GROUP BY user_id, event_type
       |), ut AS (
       |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS tot,
       |    CAST(COUNT(*) AS BIGINT) AS n_types
       |  FROM ue GROUP BY user_id
       |), ent AS (
       |  SELECT ue.user_id, tot, n_types,
       |    ${sqlSum("-(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) * " +
      "ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)))", 12)} AS entropy
       |  FROM ue JOIN ut ON ue.user_id = ut.user_id
       |  GROUP BY ue.user_id, tot, n_types
       |), ranked AS (
       |  SELECT user_id, tot, n_types, entropy,
       |    ROW_NUMBER() OVER (ORDER BY entropy DESC, user_id) AS rk
       |  FROM ent
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, user_id, tot AS n_events,
       |  n_types, entropy
       |FROM ranked WHERE rk <= $EntropyTopK ORDER BY rk""".stripMargin

  // ------------------------------------------------- events_hill_tail
  // Hill estimator of the power-law tail exponent (Hill, "A simple
  // general approach to inference about the tail of a distribution",
  // Annals of Statistics 1975): α = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over
  // the k largest positive event values. The k+1 order statistics come
  // from a global top-k (TakeOrderedAndProject / WindowGroupLimit —
  // never a full sort), ties broken by event_id so the tail SET is
  // engine-identical; each log-ratio is a fixed IEEE sequence and the
  // sum rides the exact-decimal detour.
  private val HillK = 100
  private def qHillTail(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("value").desc, col("event_id"))
    val ranked = Tables.eventsCached(s, dir)
      .filter(col("value") > lit(0.0))
      .select(col("event_id"), col("value"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= HillK + 1)
    val ref = ranked.filter(col("rk") === HillK + 1)
      .select(col("value").as("x_kplus1"))
    ranked.filter(col("rk") <= HillK)
      .crossJoin(broadcast(ref))
      .agg(
        count(lit(1)).as("n_tail"),
        max(col("x_kplus1")).as("x_kplus1"),
        xsum(log(col("value") / col("x_kplus1")), 12).as("log_sum"))
      .select(col("n_tail"), col("x_kplus1"),
        (col("n_tail").cast("double") / col("log_sum")).as("hill_alpha"))
  }

  private val sqlHillTail: String =
    s"""WITH ranked AS (
       |  SELECT event_id, value,
       |    ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rk
       |  FROM events WHERE value > CAST(0 AS DOUBLE)
       |), ref AS (
       |  SELECT value AS x_kplus1 FROM ranked WHERE rk = ${HillK + 1}
       |), agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
       |    MAX(x_kplus1) AS x_kplus1,
       |    ${sqlSum("ln(value / x_kplus1)", 12)} AS log_sum
       |  FROM ranked CROSS JOIN ref WHERE rk <= $HillK
       |)
       |SELECT n_tail, x_kplus1,
       |  CAST(n_tail AS DOUBLE) / log_sum AS hill_alpha
       |FROM agg""".stripMargin

  // ------------------------------------------------- events_bot_score
  // Scripted-traffic suspicion ranking: per user, the burst ceiling
  // (max events in any one minute) and behavioral concentration
  // (dominant event-type share), composed into one score — the
  // abuse-filter pass a data pipeline runs before training on user
  // traces. Two thin two-level aggregates on the user key + one
  // co-partitioned join; the share is an exact integer ratio and the
  // score one IEEE multiply, so the ranking (ties → user_id) is
  // engine-identical.
  private val BotTopK = 20
  private def qBotScore(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
    val byMin = ev
      .select(col("user_id"),
        expr("unix_micros(ts) div 60000000").as("minute"))
      .groupBy(col("user_id"), col("minute"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(max(col("c")).as("max_per_min"))
    val byType = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(max(col("c")).as("max_type"), sum(col("c")).as("n_events"))
    val w = Window.orderBy(col("score").desc, col("user_id"))
    byType.join(byMin, Seq("user_id"))
      .withColumn("dominant_share",
        col("max_type").cast("double") / col("n_events").cast("double"))
      .withColumn("score",
        col("dominant_share") * col("max_per_min").cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= BotTopK)
      .select(col("rk").cast("long").as("rk"), col("user_id"),
        col("n_events").cast("long").as("n_events"),
        col("max_per_min").cast("long").as("max_per_min"),
        col("dominant_share"), col("score"))
      .orderBy(col("rk"))
  }

  private val sqlBotScore: String =
    s"""WITH bm AS (
       |  SELECT user_id, CAST(MAX(c) AS BIGINT) AS max_per_min FROM (
       |    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 60000000
       |      AS minute, COUNT(*) AS c
       |    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |    GROUP BY 1, 2)
       |  GROUP BY user_id
       |), bt AS (
       |  SELECT user_id, CAST(MAX(c) AS BIGINT) AS max_type,
       |    CAST(SUM(c) AS BIGINT) AS n_events
       |  FROM (
       |    SELECT user_id, event_type, COUNT(*) AS c
       |    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |    GROUP BY 1, 2)
       |  GROUP BY user_id
       |), scored AS (
       |  SELECT bt.user_id, n_events, max_per_min,
       |    CAST(max_type AS DOUBLE) / CAST(n_events AS DOUBLE)
       |      AS dominant_share,
       |    CAST(max_type AS DOUBLE) / CAST(n_events AS DOUBLE)
       |      * CAST(max_per_min AS DOUBLE) AS score
       |  FROM bt JOIN bm ON bt.user_id = bm.user_id
       |), ranked AS (
       |  SELECT user_id, n_events, max_per_min, dominant_share, score,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, user_id) AS rk
       |  FROM scored
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, user_id, n_events, max_per_min,
       |  dominant_share, score
       |FROM ranked WHERE rk <= $BotTopK ORDER BY rk""".stripMargin

  // ------------------------------------------------- events_rolling_median
  // Trailing-7-day rolling MEDIAN of daily revenue — the robust
  // companion to the moving average (Spark has no exact-percentile
  // window function, so the window is an explicit |days|×7 spine
  // self-join + grouped percentile, mirrored verbatim in the oracle;
  // q23's ROUND-4 percentile idiom). The |days| frame is
  // calendar-bounded — nothing here is corpus-sized after the first
  // rollup.
  private def qRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("ts").isNotNull)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(xsum(col("value")).as("rev"))
    val d2 = daily.select(col("day").as("day2"), col("rev").as("rev2"))
    daily.join(d2,
        col("day2") >= col("day") - 6 && col("day2") <= col("day"))
      .groupBy(col("day"), col("rev"))
      .agg(round(expr("percentile(rev2, 0.5)"), 4).as("rolling_median"),
        count(lit(1)).as("n_days"))
      .orderBy(col("day"))
  }

  private val sqlRollingMedian: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    ${sqlSum("value")} AS rev
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |)
       |SELECT d.day, d.rev,
       |  ROUND(quantile_cont(d2.rev, 0.5), 4) AS rolling_median,
       |  CAST(COUNT(*) AS BIGINT) AS n_days
       |FROM daily d JOIN daily d2
       |  ON d2.day >= d.day - 6 AND d2.day <= d.day
       |GROUP BY d.day, d.rev
       |ORDER BY d.day""".stripMargin

  // ------------------------------------------------- events_new_returning
  // Daily new-vs-returning active users: each user's first-seen day
  // from one thin aggregate, then per-day distinct splits. Two
  // user-keyed exchanges; the conditional count-distincts share one
  // aggregate.
  private def qNewReturning(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    ev.join(first, Seq("user_id"))
      .groupBy(col("day"))
      .agg(
        countDistinct(when(col("day") === col("first_day"),
          col("user_id"))).as("n_new"),
        countDistinct(when(col("day") =!= col("first_day"),
          col("user_id"))).as("n_returning"))
      .orderBy(col("day"))
  }

  private val sqlNewReturning: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events WHERE ts IS NOT NULL
      |), f AS (
      |  SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY user_id
      |)
      |SELECT day,
      |  CAST(COUNT(DISTINCT CASE WHEN day = first_day THEN ev.user_id
      |    END) AS BIGINT) AS n_new,
      |  CAST(COUNT(DISTINCT CASE WHEN day <> first_day THEN ev.user_id
      |    END) AS BIGINT) AS n_returning
      |FROM ev JOIN f ON ev.user_id = f.user_id
      |GROUP BY day ORDER BY day""".stripMargin

  // ------------------------------------------------- events_wow_change
  // Week-over-week KPI deltas per event type — the reporting shape:
  // epoch-aligned weekly exact-revenue rollup, ONE keyed lag window,
  // and the percent change as a single IEEE ratio of two exact sums
  // (NULL on each type's first week, by construction).
  private def qWowChange(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 604800000000").as("week"), col("value"))
      .groupBy(col("event_type"), col("week"))
      .agg(xsum(col("value")).as("revenue"), count(lit(1)).as("n_events"))
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
      .withColumn("wow_pct",
        (col("revenue") - col("prev_revenue")) / col("prev_revenue"))
      .orderBy(col("event_type"), col("week"))
  }

  private val sqlWowChange: String =
    s"""WITH wk AS (
       |  SELECT event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week,
       |    ${sqlSum("value")} AS revenue,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |  GROUP BY 1, 2
       |)
       |SELECT event_type, week, revenue, n_events,
       |  LAG(revenue, 1) OVER (PARTITION BY event_type ORDER BY week)
       |    AS prev_revenue,
       |  (revenue - LAG(revenue, 1) OVER (PARTITION BY event_type
       |    ORDER BY week))
       |    / LAG(revenue, 1) OVER (PARTITION BY event_type ORDER BY week)
       |    AS wow_pct
       |FROM wk ORDER BY event_type, week""".stripMargin

  // ------------------------------------------------- events_threshold_cross
  // Upward threshold-crossing detector (the alerting primitive): per
  // user, how many times the value series crossed above the alert line
  // between consecutive events. ONE keyed window (lag), a conditional
  // integer counter, and a bounded leaderboard; ts ties break by
  // event_id in BOTH engines so the lag pairing is identical.
  private val CrossThreshold = 100.0
  private def qThresholdCross(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wr = Window.orderBy(col("n_cross").desc, col("user_id"))
    Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("cross",
        when(col("prev") <= lit(CrossThreshold) &&
          col("value") > lit(CrossThreshold), 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("cross")).as("n_cross"), count(lit(1)).as("n_events"))
      .filter(col("n_cross") > 0)
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 20)
      .select(col("rk").cast("long").as("rk"), col("user_id"),
        col("n_events"), col("n_cross"))
      .orderBy(col("rk"))
  }

  private val sqlThresholdCross: String =
    s"""WITH lagged AS (
       |  SELECT user_id, value,
       |    LAG(value, 1) OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
       |  FROM events WHERE ts IS NOT NULL
       |), agg AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN prev <= CAST($CrossThreshold AS DOUBLE)
       |      AND value > CAST($CrossThreshold AS DOUBLE)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM lagged GROUP BY user_id
       |), ranked AS (
       |  SELECT user_id, n_events, n_cross,
       |    ROW_NUMBER() OVER (ORDER BY n_cross DESC, user_id) AS rk
       |  FROM agg WHERE n_cross > 0
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, user_id, n_events, n_cross
       |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin

  // ------------------------------------------------- events_streak
  // Longest daily-activity streak per user — the canonical
  // gaps-and-islands shape: distinct active days, island id =
  // day − row_number (constant within a consecutive run), then two
  // thin aggregates. All-integer arithmetic (`div` ↔ `//`), so the
  // leaderboard (ties → user_id) is engine-identical.
  private def qStreak(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wr = Window.orderBy(col("longest_streak").desc, col("user_id"))
    days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).cast("long").as("n_active_days"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 20)
      .select(col("rk").cast("long").as("rk"), col("user_id"),
        col("longest_streak"), col("n_streaks"), col("n_active_days"))
      .orderBy(col("rk"))
  }

  private val sqlStreak: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events WHERE ts IS NOT NULL
      |), isl AS (
      |  SELECT user_id,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island
      |  FROM days
      |), runs AS (
      |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM isl GROUP BY user_id, island
      |), agg AS (
      |  SELECT user_id, MAX(len) AS longest_streak,
      |    CAST(COUNT(*) AS BIGINT) AS n_streaks,
      |    CAST(SUM(len) AS BIGINT) AS n_active_days
      |  FROM runs GROUP BY user_id
      |), ranked AS (
      |  SELECT user_id, longest_streak, n_streaks, n_active_days,
      |    ROW_NUMBER() OVER (ORDER BY longest_streak DESC, user_id) AS rk
      |  FROM agg
      |)
      |SELECT CAST(rk AS BIGINT) AS rk, user_id, longest_streak,
      |  n_streaks, n_active_days
      |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin

  // ------------------------------------------------- events_time_to_convert
  // First-touch conversion latency: per user, seconds from the FIRST
  // 'view' to the first 'purchase' at-or-after it, summarized as exact
  // interpolated percentiles (the q23 idiom: Spark `percentile` ↔
  // DuckDB quantile_cont, ROUND 4 on both sides). Two thin user-keyed
  // aggregates + one co-partitioned join; the delta is integer epoch
  // seconds (`div` ↔ `//`), so the percentile inputs are exact.
  private def qTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val first = Tables.eventsCached(s, dir)
      .filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val conv = Tables.eventsCached(s, dir)
      .filter(col("event_type") === "purchase")
      .join(first, Seq("user_id"))
      .filter(col("ts") >= col("t_view"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(col("ts")).as("t_buy"))
      .select(expr("(unix_micros(t_buy) - unix_micros(t_view)) div 1000000")
        .as("delta_sec"))
    val nView = first.agg(count(lit(1)).as("n_view_users"))
    conv.crossJoin(broadcast(nView))
      .agg(max(col("n_view_users")).as("n_view_users"),
        count(lit(1)).as("n_converted"),
        round(expr("percentile(delta_sec, 0.5)"), 4).as("p50_sec"),
        round(expr("percentile(delta_sec, 0.9)"), 4).as("p90_sec"))
  }

  private val sqlTimeToConvert: String =
    """WITH fv AS (
      |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      |  FROM events WHERE event_type = 'view' GROUP BY user_id
      |), conv AS (
      |  SELECT e.user_id,
      |    (MIN(epoch_us(CAST(e.ts AS TIMESTAMP)))
      |      - MIN(epoch_us(t_view))) // 1000000 AS delta_sec
      |  FROM events e JOIN fv ON e.user_id = fv.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND CAST(e.ts AS TIMESTAMP) >= t_view
      |  GROUP BY e.user_id
      |)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fv) AS n_view_users,
      |  CAST(COUNT(*) AS BIGINT) AS n_converted,
      |  ROUND(quantile_cont(delta_sec, 0.5), 4) AS p50_sec,
      |  ROUND(quantile_cont(delta_sec, 0.9), 4) AS p90_sec
      |FROM conv""".stripMargin

  // ------------------------------------------------- events_ema
  // Truncated exponential moving average (α = 1/2, depth 8) per user —
  // the streaming-telemetry smoother. A true EMA is a per-key recursive
  // fold (unbounded lookback, not relational); the depth-8 truncation
  // ( 2^-8 residual weight) makes it EIGHT lag columns combined in ONE
  // fixed-order expression tree per row — all inside a single user-keyed
  // window, whole-stage codegen'd, and bit-deterministic because α = 1/2
  // keeps every weight an exact dyadic double and the fold order is the
  // written order, not an aggregation order. Weights renormalize over the
  // lags that exist, so the stream head is well-defined.
  private val EmaDepth = 8
  private def qEma(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lags = (0 until EmaDepth).map(k => lag(col("value"), k).over(w))
    val num = lags.zipWithIndex.map { case (c, k) =>
      coalesce(c * lit(math.pow(0.5, k + 1)), lit(0.0))
    }.reduceLeft(_ + _)
    val den = lags.zipWithIndex.map { case (c, k) =>
      when(c.isNotNull, lit(math.pow(0.5, k + 1))).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("ema", num / den)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"), col("value"), col("ema"))
      .orderBy(col("event_id"))
  }

  private val sqlEma: String = {
    def weight(k: Int) = s"power(0.5, ${k + 1})"
    val over = "OVER (PARTITION BY user_id " +
      "ORDER BY CAST(ts AS TIMESTAMP), event_id)"
    val num = (0 until EmaDepth).map(k =>
      s"COALESCE(lag(value, $k) $over * ${weight(k)}, CAST(0 AS DOUBLE))")
      .mkString("(", "\n    + ", ")")
    val den = (0 until EmaDepth).map(k =>
      s"CASE WHEN lag(value, $k) $over IS NOT NULL THEN ${weight(k)} " +
        "ELSE CAST(0 AS DOUBLE) END")
      .mkString("(", "\n    + ", ")")
    s"""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       |  $num
       |  / $den AS ema
       |FROM events
       |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
       |ORDER BY event_id""".stripMargin
  }

  // ------------------------------------------------- events_corr
  // Pearson correlation between two hourly event-count series (click vs
  // purchase) — the "do these metrics move together" question. Exact
  // BIGINT moment sums (counts are integers; no decimal detour needed),
  // then ONE closed-form double expression: products, differences, and
  // IEEE-754 sqrt are all correctly rounded, so the statistic is
  // bit-identical cross-engine. Shape: one hour-keyed count agg (map-side
  // partial), then a 1-row moment aggregate — the 100 TB stream shuffles
  // once, into |hours| rows.
  private def qCorr(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    hourly.agg(
      count(lit(1)).as("n_hours"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .select(col("n_hours"),
        ((col("n_hours") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n_hours") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("n_hours") * col("syy") - col("sy") * col("sy"))
              .cast("double")))
          .as("pearson_r"))
  }

  private val sqlCorr: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL
      |  GROUP BY 1
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x * y) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(y * y) AS BIGINT) AS syy
      |  FROM hourly
      |)
      |SELECT n_hours,
      |  CAST(n_hours * sxy - sx * sy AS DOUBLE)
      |    / sqrt(CAST(n_hours * sxx - sx * sx AS DOUBLE)
      |           * CAST(n_hours * syy - sy * sy AS DOUBLE)) AS pearson_r
      |FROM m""".stripMargin

  // ------------------------------------------------- events_chi2
  // Chi-square independence statistic over the event_type × day-of-week
  // contingency table ("is traffic mix stable across days?"). Observed
  // counts are exact BIGINTs; expected = row·col/N and each cell's
  // (O−E)²/E are per-cell double expressions; the 35-cell sum goes
  // through the exact-decimal detour so the statistic is aggregation-
  // order-independent. Day index is pure epoch arithmetic ((days) % 7) —
  // NOT engine dayofweek(), whose weekday origin differs across engines.
  private def qChi2(s: SparkSession, dir: String): DataFrame = {
    // pin the 35-cell contingency frame: four consumers (row totals,
    // column totals, grand total, the cell join) would otherwise each
    // re-scan the event stream
    val o = graft.operators.Iterate.pin(Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      // `div` = floor integer division, mirroring DuckDB `//` — `/` would
      // detour through double
      .select(expr("(unix_micros(ts) div 86400000000) % 7").as("day_idx"),
        col("event_type"))
      .groupBy(col("day_idx"), col("event_type"))
      .agg(count(lit(1)).as("n")))
    val rows = o.groupBy(col("day_idx")).agg(sum(col("n")).as("rt"))
    val cols_ = o.groupBy(col("event_type")).agg(sum(col("n")).as("ct"))
    val tot = o.agg(sum(col("n")).as("tot"))
    o.join(broadcast(rows), Seq("day_idx"))
      .join(broadcast(cols_), Seq("event_type"))
      .crossJoin(broadcast(tot))
      .withColumn("e",
        (col("rt") * col("ct")).cast("double") / col("tot").cast("double"))
      .agg(count(lit(1)).as("n_cells"),
        max(col("tot")).as("n_events"),
        xsum((col("n").cast("double") - col("e"))
          * (col("n").cast("double") - col("e")) / col("e"), 6).as("chi2"))
  }

  private val sqlChi2: String =
    s"""WITH o AS (
       |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 7
       |      AS day_idx,
       |    event_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT day_idx, CAST(SUM(n) AS BIGINT) AS rt FROM o GROUP BY 1
       |), c AS (
       |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS ct FROM o GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS tot FROM o
       |), cells AS (
       |  SELECT o.n,
       |    CAST(r.rt * c.ct AS DOUBLE) / CAST(t.tot AS DOUBLE) AS e, t.tot
       |  FROM o JOIN r USING (day_idx) JOIN c USING (event_type), t
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       |  CAST(MAX(tot) AS BIGINT) AS n_events,
       |  ${sqlSum("(CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e", 6)}
       |    AS chi2
       |FROM cells""".stripMargin

  // ------------------------------------------------- events_cramer
  // Cramér's V — the [0,1]-normalized association strength read off the
  // chi-square statistic (Cramér 1946): V = sqrt(χ² / (n · min(r−1, c−1))).
  // Same pinned 35-cell contingency frame as events_chi2 (row/col/grand
  // totals and level counts are all re-aggregations of it); the χ² cell sum
  // goes through the exact-decimal detour, level counts are exact BIGINTs,
  // and V is then one fixed-order double expression (mul, div, sqrt — each
  // correctly rounded, so cross-engine exact).
  private def qCramer(s: SparkSession, dir: String): DataFrame = {
    val o = graft.operators.Iterate.pin(Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(expr("(unix_micros(ts) div 86400000000) % 7").as("day_idx"),
        col("event_type"))
      .groupBy(col("day_idx"), col("event_type"))
      .agg(count(lit(1)).as("n")))
    val rows = o.groupBy(col("day_idx")).agg(sum(col("n")).as("rt"))
    val cols_ = o.groupBy(col("event_type")).agg(sum(col("n")).as("ct"))
    val tot = o.agg(sum(col("n")).as("tot"),
      countDistinct(col("day_idx")).as("r_levels"),
      countDistinct(col("event_type")).as("c_levels"))
    o.join(broadcast(rows), Seq("day_idx"))
      .join(broadcast(cols_), Seq("event_type"))
      .crossJoin(broadcast(tot))
      .withColumn("e",
        (col("rt") * col("ct")).cast("double") / col("tot").cast("double"))
      .agg(max(col("tot")).as("n_events"),
        max(col("r_levels")).as("r_levels"),
        max(col("c_levels")).as("c_levels"),
        xsum((col("n").cast("double") - col("e"))
          * (col("n").cast("double") - col("e")) / col("e"), 6).as("chi2"))
      .withColumn("cramers_v",
        sqrt(col("chi2") / (col("n_events").cast("double")
          * least(col("r_levels") - 1, col("c_levels") - 1).cast("double"))))
      .select(col("n_events"), col("r_levels"), col("c_levels"),
        col("chi2"), col("cramers_v"))
  }

  private val sqlCramer: String =
    s"""WITH o AS (
       |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 7
       |      AS day_idx,
       |    event_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT day_idx, CAST(SUM(n) AS BIGINT) AS rt FROM o GROUP BY 1
       |), c AS (
       |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS ct FROM o GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS tot,
       |    CAST(COUNT(DISTINCT day_idx) AS BIGINT) AS r_levels,
       |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS c_levels
       |  FROM o
       |), cells AS (
       |  SELECT o.n,
       |    CAST(r.rt * c.ct AS DOUBLE) / CAST(t.tot AS DOUBLE) AS e,
       |    t.tot, t.r_levels, t.c_levels
       |  FROM o JOIN r USING (day_idx) JOIN c USING (event_type), t
       |), agg AS (
       |  SELECT CAST(MAX(tot) AS BIGINT) AS n_events,
       |    CAST(MAX(r_levels) AS BIGINT) AS r_levels,
       |    CAST(MAX(c_levels) AS BIGINT) AS c_levels,
       |    ${sqlSum("(CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e", 6)}
       |      AS chi2
       |  FROM cells
       |)
       |SELECT n_events, r_levels, c_levels, chi2,
       |  sqrt(chi2 / (CAST(n_events AS DOUBLE)
       |    * CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE))) AS cramers_v
       |FROM agg""".stripMargin

  // ------------------------------------------------- events_kanon
  // k-anonymity audit (Sweeney 2002) over the quasi-identifier tuple
  // (event_type, hour-of-day, value decade): equivalence-class sizes and
  // the re-identification exposure below k = 5 — the privacy gate run
  // BEFORE a dataset ships (events_pseudonymize audits the id column;
  // this audits the attribute combination). Shape: ONE hash aggregation
  // builds the class-size frame (map-side partial combine carries it);
  // the report row is a second tiny aggregate over |classes| rows. All
  // outputs are exact integers. Hour comes from epoch arithmetic, not
  // engine hour(), so timezone configuration can't split the hash.
  private def qKAnon(s: SparkSession, dir: String): DataFrame = {
    val classes = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull
        && col("value").isNotNull)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hr"),
        expr("cast(floor(value) as bigint) div 10").as("vb"))
      .groupBy(col("event_type"), col("hr"), col("vb"))
      .agg(count(lit(1)).as("class_size"))
    classes.agg(
      sum(col("class_size")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      min(col("class_size")).as("min_class"),
      sum(when(col("class_size") < 5, lit(1L)).otherwise(lit(0L)))
        .as("classes_lt5"),
      sum(when(col("class_size") < 5, col("class_size")).otherwise(lit(0L)))
        .as("rows_lt5"),
      sum(when(col("class_size") === 1, lit(1L)).otherwise(lit(0L)))
        .as("singletons"))
  }

  private val sqlKAnon: String =
    """WITH classes AS (
      |  SELECT event_type,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr,
      |    CAST(floor(value) AS BIGINT) // 10 AS vb,
      |    CAST(COUNT(*) AS BIGINT) AS class_size
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2, 3
      |)
      |SELECT CAST(SUM(class_size) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(MIN(class_size) AS BIGINT) AS min_class,
      |  CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_lt5,
      |  CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
      |    AS BIGINT) AS rows_lt5,
      |  CAST(SUM(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS singletons
      |FROM classes""".stripMargin

  // ------------------------------------------------- events_ldiversity
  // l-diversity audit (Machanavajjhala et al., ICDE 2006) — the
  // k-anonymity follow-up: within each quasi-identifier class
  // (hour-of-day, value decade), how DIVERSE is the sensitive
  // attribute (event_type)? A k-large class whose rows all share one
  // sensitive value still leaks it. Same one-pass class build as
  // events_kanon with a distinct count, then a single report row of
  // exact integers.
  /** t-closeness audit (Li-Li-Venkatasubramanian, ICDE 2007) — the third
    * rung of the anonymity ladder after k-anonymity (`events_kanon`) and
    * l-diversity (`events_ldiversity`), over the SAME quasi-identifier
    * classes (hr, vb) and sensitive attribute (event_type): l-diversity
    * counts distinct sensitive values per class, t-closeness bounds how
    * far each class's sensitive DISTRIBUTION drifts from the corpus-wide
    * one. Categorical sensitive attribute → the paper's variational
    * distance instance of EMD: t_c = ½ Σ_s |p(s|c) − p(s)|.
    *
    * Exactness: the TVD numerator folds to INTEGERS over a common
    * denominator — Σ_s |n_cs·N − n_s·n_c| for present values plus
    * n_c·(N − Σ_present n_s) for the class's MISSING sensitive values
    * (|0 − n_s·n_c| summed in closed form — no domain explosion) — and
    * t_c is ONE IEEE division of exact BIGINTs, bit-identical in both
    * engines. Fixture counts keep the products under 2^63; at 100 TB the
    * same fold runs in DECIMAL(38,0).
    *
    * Scale shape: one (QI, s) hash aggregate over the fact table, two
    * thin re-aggregates of THAT frame (class totals, global totals — the
    * pinned cs frame is read three times, never the fact table), a
    * broadcast join of the |s|-row global frame, one final scalar row.
    */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull
        && col("value").isNotNull)
      .select(
        expr("(unix_micros(ts) div 3600000000) % 24").as("hr"),
        expr("cast(floor(value) as bigint) div 10").as("vb"),
        col("event_type"))
      .groupBy(col("hr"), col("vb"), col("event_type"))
      .agg(count(lit(1)).as("n_cs"))
      .transform(graft.operators.Iterate.pin)
    val c = cs.groupBy(col("hr"), col("vb"))
      .agg(sum(col("n_cs")).as("n_c"))
    val g = cs.groupBy(col("event_type")).agg(sum(col("n_cs")).as("n_s"))
    val nTot = cs.agg(sum(col("n_cs")).as("n_tot"))
    val per = cs.join(c, Seq("hr", "vb"))
      .join(broadcast(g), Seq("event_type"))
      .crossJoin(broadcast(nTot))
      .groupBy(col("hr"), col("vb"))
      .agg(max(col("n_c")).as("n_c"), max(col("n_tot")).as("n_tot"),
        sum(abs(col("n_cs") * col("n_tot") - col("n_s") * col("n_c")))
          .as("num_present"),
        sum(col("n_s")).as("ns_present"))
      .withColumn("t",
        (col("num_present") + col("n_c") * (col("n_tot") - col("ns_present")))
          .cast("double")
          / (lit(2L) * col("n_c") * col("n_tot")).cast("double"))
    per.agg(
      count(lit(1)).as("n_classes"),
      max(col("t")).as("max_t"),
      sum(when(col("t") > 0.2, lit(1L)).otherwise(lit(0L)))
        .as("classes_above"),
      sum(when(col("t") > 0.2, col("n_c")).otherwise(lit(0L)))
        .as("rows_above"),
      max(col("n_tot")).as("n_rows"))
  }

  private val sqlTCloseness: String =
    """WITH cs AS (
      |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr,
      |    CAST(floor(value) AS BIGINT) // 10 AS vb,
      |    event_type, CAST(COUNT(*) AS BIGINT) AS n_cs
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2, 3
      |), c AS (
      |  SELECT hr, vb, CAST(SUM(n_cs) AS BIGINT) AS n_c
      |  FROM cs GROUP BY hr, vb
      |), g AS (
      |  SELECT event_type, CAST(SUM(n_cs) AS BIGINT) AS n_s
      |  FROM cs GROUP BY event_type
      |), n AS (
      |  SELECT CAST(SUM(n_cs) AS BIGINT) AS n_tot FROM cs
      |), per AS (
      |  SELECT cs.hr, cs.vb, MAX(c.n_c) AS n_c, MAX(n.n_tot) AS n_tot,
      |    CAST(SUM(ABS(cs.n_cs * n.n_tot - g.n_s * c.n_c)) AS BIGINT)
      |      AS num_present,
      |    CAST(SUM(g.n_s) AS BIGINT) AS ns_present
      |  FROM cs
      |  JOIN c ON cs.hr = c.hr AND cs.vb = c.vb
      |  JOIN g ON cs.event_type = g.event_type, n
      |  GROUP BY cs.hr, cs.vb
      |), t AS (
      |  SELECT hr, vb, n_c, n_tot,
      |    CAST(num_present + n_c * (n_tot - ns_present) AS DOUBLE)
      |      / CAST(2 * n_c * n_tot AS DOUBLE) AS t
      |  FROM per
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  MAX(t) AS max_t,
      |  CAST(SUM(CASE WHEN t > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_above,
      |  CAST(SUM(CASE WHEN t > 0.2 THEN n_c ELSE 0 END) AS BIGINT)
      |    AS rows_above,
      |  CAST(MAX(n_tot) AS BIGINT) AS n_rows
      |FROM t""".stripMargin

  private def qLDiversity(s: SparkSession, dir: String): DataFrame = {
    val classes = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull
        && col("value").isNotNull)
      .select(
        expr("(unix_micros(ts) div 3600000000) % 24").as("hr"),
        expr("cast(floor(value) as bigint) div 10").as("vb"),
        col("event_type"))
      .groupBy(col("hr"), col("vb"))
      .agg(countDistinct(col("event_type")).as("l"),
        count(lit(1)).as("class_size"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      min(col("l")).as("min_l"),
      max(col("l")).as("max_l"),
      sum(when(col("l") < 3, lit(1L)).otherwise(lit(0L)))
        .as("classes_lt3"),
      sum(when(col("l") < 3, col("class_size")).otherwise(lit(0L)))
        .as("rows_lt3"))
  }

  private val sqlLDiversity: String =
    """WITH classes AS (
      |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr,
      |    CAST(floor(value) AS BIGINT) // 10 AS vb,
      |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS l,
      |    CAST(COUNT(*) AS BIGINT) AS class_size
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(MIN(l) AS BIGINT) AS min_l,
      |  CAST(MAX(l) AS BIGINT) AS max_l,
      |  CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_lt3,
      |  CAST(SUM(CASE WHEN l < 3 THEN class_size ELSE 0 END) AS BIGINT)
      |    AS rows_lt3
      |FROM classes""".stripMargin

  // ------------------------------------------------- events_late_arrivals
  // Out-of-order-arrival audit — the batch-side measurement that sizes
  // a streaming watermark: with event_id as the arrival order, an
  // event is LATE when its timestamp sits behind the per-user running
  // maximum, and the max regression (seconds) is the watermark bound a
  // deployment would need. ONE keyed window (running max over arrival
  // order) + one aggregate; epoch-integer arithmetic.
  private def qLateArrivals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("tsu"))
      .withColumn("hwm", max(col("tsu")).over(w))
      .select(col("user_id"),
        when(col("hwm").isNotNull && col("tsu") < col("hwm"), 1L)
          .otherwise(0L).as("late"),
        when(col("hwm").isNotNull && col("tsu") < col("hwm"),
          (col("hwm") - col("tsu")))
          .otherwise(lit(0L)).as("lag_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("late")).as("n_late"),
        expr("max(lag_us) div 1000000").as("max_lag_sec"),
        expr("sum(lag_us) div 1000000").as("total_lag_sec"))
  }

  private val sqlLateArrivals: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
      |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM events WHERE ts IS NOT NULL
      |), flagged AS (
      |  SELECT CASE WHEN hwm IS NOT NULL AND tsu < hwm THEN 1 ELSE 0 END
      |      AS late,
      |    CASE WHEN hwm IS NOT NULL AND tsu < hwm THEN hwm - tsu
      |      ELSE 0 END AS lag_us
      |  FROM t
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(late) AS BIGINT) AS n_late,
      |  CAST(MAX(lag_us) // 1000000 AS BIGINT) AS max_lag_sec,
      |  CAST(SUM(lag_us) // 1000000 AS BIGINT) AS total_lag_sec
      |FROM flagged""".stripMargin

  // ------------------------------------------------- events_drift
  // Distribution drift of the event-type mix: first half of the observed
  // window vs second half — the input-shift monitor run before retraining
  // or alerting (text_source_tvd is the document-side twin; this is the
  // behavioral-stream side). Shape: ONE scan tags each event early/late
  // against a broadcast 1-row min-day aggregate; per-type counts collapse
  // in a single hash agg; shares divide exact BIGINTs by broadcast
  // totals, and the delta is one IEEE subtraction of two exact-input
  // divisions — deterministic cross-engine.
  private val DriftSplitDays = 15L
  private def qDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"))
    val mn = ev.agg(min(col("d")).as("d0"))
    val per = ev.crossJoin(broadcast(mn))
      .withColumn("late", col("d") - col("d0") >= DriftSplitDays)
      .groupBy(col("event_type"))
      .agg(sum(when(!col("late"), lit(1L)).otherwise(lit(0L))).as("n_early"),
        sum(when(col("late"), lit(1L)).otherwise(lit(0L))).as("n_late"))
    val tot = per.agg(sum(col("n_early")).as("te"),
      sum(col("n_late")).as("tl"))
    per.crossJoin(broadcast(tot))
      .withColumn("share_early",
        col("n_early").cast("double") / col("te").cast("double"))
      .withColumn("share_late",
        col("n_late").cast("double") / col("tl").cast("double"))
      .withColumn("share_delta", col("share_late") - col("share_early"))
      .select(col("event_type"), col("n_early"), col("n_late"),
        col("share_early"), col("share_late"), col("share_delta"))
      .orderBy(col("event_type"))
  }

  private val sqlDrift: String =
    s"""WITH ev AS (
       |  SELECT event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |), mn AS (SELECT MIN(d) AS d0 FROM ev),
       |per AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN d - d0 >= $DriftSplitDays THEN 0 ELSE 1 END)
       |      AS BIGINT) AS n_early,
       |    CAST(SUM(CASE WHEN d - d0 >= $DriftSplitDays THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_late
       |  FROM ev, mn GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(n_early) AS BIGINT) AS te,
       |    CAST(SUM(n_late) AS BIGINT) AS tl
       |  FROM per
       |)
       |SELECT event_type, n_early, n_late,
       |  CAST(n_early AS DOUBLE) / CAST(te AS DOUBLE) AS share_early,
       |  CAST(n_late AS DOUBLE) / CAST(tl AS DOUBLE) AS share_late,
       |  CAST(n_late AS DOUBLE) / CAST(tl AS DOUBLE)
       |    - CAST(n_early AS DOUBLE) / CAST(te AS DOUBLE) AS share_delta
       |FROM per, tot ORDER BY event_type""".stripMargin

  // --------------------------------------------------- events_psi
  // Population Stability Index over the VALUE distribution (the standard
  // model-monitoring drift score; Siddiqi, "Credit Risk Scorecards",
  // 2006 popularized the 0.1/0.25 alert thresholds): decile buckets are
  // CUT ON THE BASELINE (first DriftSplitDays, the q23 rounded-percentile
  // idiom so the edges are bit-identical before any comparison), both
  // halves are bucketed by the same broadcast edge row, and
  // psi_term = (q−p)·ln(q/p) with add-1 smoothing. events_drift is the
  // categorical type-mix twin; this is the numeric-distribution side.
  //
  // Determinism: the ln argument is a product of two double-cast ratios
  // ((n_cur+1)/(n_base+1)) · ((t_base+B)/(t_cur+B)) — each factor cast
  // BEFORE the divide so the BIGINT cross-products never form (they
  // would wrap Int64 past ~3e9 counts); both engines evaluate the same
  // cast-divide-multiply sequence, and the emitted pmi-like
  // terms are ROUND(…,9) — the profile_mi ln-parity discipline. Shape:
  // one scan tags early/late (pinned — edges, cells, and totals all read
  // it), bucket assignment is a map-side 9-comparison sum against a
  // broadcast row; everything after is a 10-row frame.
  private def qPsi(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("value"), expr("unix_micros(ts) div 86400000000").as("d"))
    val mn = ev.agg(min(col("d")).as("d0"))
    val tagged = graft.operators.Iterate.pin(ev.crossJoin(broadcast(mn))
      .select(col("value"),
        (col("d") - col("d0") >= DriftSplitDays).as("late")))
    val edges = tagged.filter(!col("late"))
      .agg(round(expr("percentile(value, 0.1)"), 4).as("e1"),
        round(expr("percentile(value, 0.2)"), 4).as("e2"),
        round(expr("percentile(value, 0.3)"), 4).as("e3"),
        round(expr("percentile(value, 0.4)"), 4).as("e4"),
        round(expr("percentile(value, 0.5)"), 4).as("e5"),
        round(expr("percentile(value, 0.6)"), 4).as("e6"),
        round(expr("percentile(value, 0.7)"), 4).as("e7"),
        round(expr("percentile(value, 0.8)"), 4).as("e8"),
        round(expr("percentile(value, 0.9)"), 4).as("e9"))
    val bucket = (1 to 9)
      .map(i => when(col("value") > col(s"e$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val cells = tagged.crossJoin(broadcast(edges))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(sum(when(!col("late"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_cur"))
    val tot = cells.agg(sum(col("n_base")).as("tb"),
      sum(col("n_cur")).as("tc"), count(lit(1)).as("nb"))
    cells.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        ((col("n_base") + 1L).cast("double") /
          (col("tb") + col("nb")).cast("double")).as("share_base"),
        ((col("n_cur") + 1L).cast("double") /
          (col("tc") + col("nb")).cast("double")).as("share_cur"),
        round((((col("n_cur") + 1L).cast("double") /
            (col("tc") + col("nb")).cast("double")) -
          ((col("n_base") + 1L).cast("double") /
            (col("tb") + col("nb")).cast("double"))) *
          log(((col("n_cur") + 1L).cast("double") /
              (col("n_base") + 1L).cast("double")) *
            ((col("tb") + col("nb")).cast("double") /
              (col("tc") + col("nb")).cast("double"))),
          9).as("psi_term"))
      .orderBy(col("bucket"))
  }

  private val sqlPsi: String = {
    val edgeCols = (1 to 9).map(i =>
      s"ROUND(quantile_cont(value, 0.$i), 4) AS e$i").mkString(", ")
    val bucketExpr = (1 to 9).map(i =>
      s"CASE WHEN value > e$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ev AS (
       |  SELECT value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
       |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
       |), mn AS (SELECT MIN(d) AS d0 FROM ev),
       |tagged AS (
       |  SELECT value, d - d0 >= $DriftSplitDays AS late FROM ev, mn
       |), edges AS (
       |  SELECT $edgeCols
       |  FROM tagged WHERE NOT late
       |), cells AS (
       |  SELECT CAST($bucketExpr AS BIGINT) AS bucket,
       |    CAST(SUM(CASE WHEN late THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
       |    CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
       |  FROM tagged, edges GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
       |    CAST(SUM(n_cur) AS BIGINT) AS tc,
       |    CAST(COUNT(*) AS BIGINT) AS nb
       |  FROM cells
       |)
       |SELECT bucket, n_base, n_cur,
       |  CAST(n_base + 1 AS DOUBLE) / CAST(tb + nb AS DOUBLE) AS share_base,
       |  CAST(n_cur + 1 AS DOUBLE) / CAST(tc + nb AS DOUBLE) AS share_cur,
       |  ROUND((CAST(n_cur + 1 AS DOUBLE) / CAST(tc + nb AS DOUBLE)
       |      - CAST(n_base + 1 AS DOUBLE) / CAST(tb + nb AS DOUBLE))
       |    * ln((CAST(n_cur + 1 AS DOUBLE) / CAST(n_base + 1 AS DOUBLE))
       |        * (CAST(tb + nb AS DOUBLE) / CAST(tc + nb AS DOUBLE))),
       |      9) AS psi_term
       |FROM cells, tot ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------- events_locf
  // Last-observation-carried-forward imputation over a dense daily spine
  // — the other half of gap handling (events_gapfill zero-fills counts;
  // LOCF carries STATE, the right semantics for balances/settings/
  // sensor readings). Per watched user: daily last value (rank window),
  // dense user×day spine (generated, never collected), then ONE
  // partitioned ignoreNulls-last window. Leading days before a user's
  // first observation stay NULL — the LOCF contract.
  //
  // Scale shape: the rank window and the LOCF window both shuffle on
  // user_id (AQE coalesces to one partitioning); the spine is
  // |users|·|days| rows bounded by the watchlist cut, the production
  // shape for a metric-serving backfill.
  private val LocfUsers = 20L

  private def qLocf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("user_id") < LocfUsers && col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("ts"), col("event_id"), col("value"))
    val wDay = Window.partitionBy(col("user_id"), col("d"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = graft.operators.Iterate.pin(
      ev.withColumn("rk", row_number().over(wDay))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("d"), col("value")))
    val days = Tables.eventsCached(s, dir).filter(col("ts").isNotNull)
      .select(to_date(col("ts")).as("d")).distinct()
    val users = daily.select(col("user_id")).distinct()
    val wLocf = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    users.crossJoin(broadcast(days))
      .join(daily, Seq("user_id", "d"), "left")
      .withColumn("locf", last(col("value"), ignoreNulls = true).over(wLocf))
      .select(col("user_id"), col("d").as("day"), col("value"), col("locf"),
        (col("value").isNull && col("locf").isNotNull).as("filled"))
      .orderBy(col("user_id"), col("day"))
  }

  private val sqlLocf: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
       |    CAST(ts AS TIMESTAMP) AS ts, event_id, value
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND user_id < $LocfUsers AND value IS NOT NULL
       |), daily AS (
       |  SELECT user_id, d, value FROM (
       |    SELECT user_id, d, value,
       |      ROW_NUMBER() OVER (PARTITION BY user_id, d
       |                         ORDER BY ts DESC, event_id DESC) AS rk
       |    FROM ev
       |  ) WHERE rk = 1
       |), days AS (
       |  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
       |  FROM events WHERE ts IS NOT NULL
       |), users AS (
       |  SELECT DISTINCT user_id FROM daily
       |)
       |SELECT user_id, day, value, locf,
       |  value IS NULL AND locf IS NOT NULL AS filled
       |FROM (
       |  SELECT s.user_id, s.d AS day, daily.value,
       |    last_value(daily.value IGNORE NULLS) OVER (
       |      PARTITION BY s.user_id ORDER BY s.d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
       |  FROM (SELECT user_id, d FROM users CROSS JOIN days) s
       |  LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
       |)
       |ORDER BY user_id, day""".stripMargin

  // ------------------------------------------------- events_gapfill
  // Dense hourly series with gaps filled: the calendar spine (generated
  // from the observed min/max hour, NOT collected to the driver) left-
  // joins the sparse per-hour counts and fills absent hours with 0 — the
  // mandatory prep step before any fixed-lag computation (ACF, seasonal
  // forecast, changepoint) whose lag arithmetic assumes a dense axis.
  // Error events only: at both audit SFs they genuinely skip hours.
  // Shape: the spine explodes from a broadcast 1-row bounds aggregate
  // (|hours| rows — calendar-sized, never event-sized); one hash agg on
  // the event side; one join keyed on the hour.
  private def qGapfill(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("event_type") === "error")
      .select(expr("unix_micros(ts) div 3600000000").as("hr"))
      .groupBy(col("hr")).agg(count(lit(1)).as("n"))
    val spine = hourly.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("hr"))
    spine.join(hourly, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy(col("hr"))
  }

  private val sqlGapfill: String =
    """WITH hourly AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events WHERE ts IS NOT NULL AND event_type = 'error'
      |  GROUP BY 1
      |), b AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM hourly),
      |spine AS (
      |  SELECT unnest(range(h0, h1 + 1)) AS hr FROM b
      |)
      |SELECT s.hr, COALESCE(h.n, 0) AS n_events
      |FROM spine s LEFT JOIN hourly h ON s.hr = h.hr
      |ORDER BY s.hr""".stripMargin

  // ------------------------------------------------ events_seasonal
  // Classical additive decomposition (the moving-average method of
  // Macaulay 1931, textbook form): daily event counts on a zero-filled
  // spine split into trend (centered 7-day moving average, interior
  // days only), day-of-week seasonal (per-dow mean of the detrended
  // series — uncentered simple form), and residual. The series audit
  // run before any anomaly rule: a spike is judged against
  // trend+seasonal, not the raw mean.
  //
  // Determinism: y and the window sum s7 are exact BIGINTs; the per-dow
  // seasonal mean is computed as ONE division of integer moments
  // (7·Σy − Σs7)/(7·n) — never a sum of per-row doubles, whose
  // partition order would differ across engines — and trend/residual
  // are fixed expression trees over those exact inputs. dow = day
  // number % 7 (engine-neutral; no locale weekday).
  //
  // Shape: one event-side hash agg, the gapfill spine idiom (broadcast
  // bounds row, |days| explode), ONE unpartitioned ordered window over
  // the calendar-sized daily frame (cardinality-bounded — the registry
  // window rule), one |dow| join back.
  //
  // POSITIVE-EPOCH ASSUMPTION (suite-wide, for every `unix_micros(ts)
  // div 86400000000` day-bucket site): Spark's `div` truncates toward
  // zero while DuckDB's `//` floors, so the two engines would assign
  // pre-1970 timestamps (negative epoch micros) to DIFFERENT day
  // numbers. All event fixtures carry post-epoch timestamps — pinned by
  // Round9Spec's non-negative-epoch guard — so truncation and floor
  // coincide at every site.
  private def qSeasonal(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.eventsCached(s, dir).filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("y"))
    val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
    val dense = spine.join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("y"), lit(0L)).as("y"))
    val w = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val interior = dense
      .withColumn("s7", sum(col("y")).over(w))
      .withColumn("nwin", count(lit(1)).over(w))
      .filter(col("nwin") === 7)
      .select(col("d"), col("y"), col("s7"), (col("d") % 7).as("dow"))
    val seas = interior.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_dow"), sum(col("y")).as("sy"),
        sum(col("s7")).as("ss"))
    val trend = col("s7").cast("double") / lit(7L).cast("double")
    val seasonal = (lit(7L) * col("sy") - col("ss")).cast("double") /
      (lit(7L) * col("n_dow")).cast("double")
    interior.join(seas, Seq("dow"))
      .select(col("d").as("day_num"), col("y"), trend.as("trend"),
        seasonal.as("seasonal"),
        (col("y").cast("double") - trend - seasonal).as("resid"))
      .orderBy(col("day_num"))
  }

  private val sqlSeasonal: String =
    """WITH daily AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1
      |), b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
      |spine AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM b),
      |dense AS (
      |  SELECT s.d, COALESCE(dd.y, 0) AS y
      |  FROM spine s LEFT JOIN daily dd ON s.d = dd.d
      |), win AS (
      |  SELECT d, y,
      |    CAST(SUM(y) OVER (ORDER BY d
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
      |    CAST(COUNT(*) OVER (ORDER BY d
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS nwin
      |  FROM dense
      |), interior AS (
      |  SELECT d, y, s7, d % 7 AS dow FROM win WHERE nwin = 7
      |), seas AS (
      |  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_dow,
      |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(s7) AS BIGINT) AS ss
      |  FROM interior GROUP BY dow
      |)
      |SELECT i.d AS day_num, i.y,
      |  CAST(i.s7 AS DOUBLE) / CAST(7 AS DOUBLE) AS trend,
      |  CAST(7 * s.sy - s.ss AS DOUBLE)
      |    / CAST(7 * s.n_dow AS DOUBLE) AS seasonal,
      |  CAST(i.y AS DOUBLE) - CAST(i.s7 AS DOUBLE) / CAST(7 AS DOUBLE)
      |    - CAST(7 * s.sy - s.ss AS DOUBLE)
      |      / CAST(7 * s.n_dow AS DOUBLE) AS resid
      |FROM interior i JOIN seas s USING (dow)
      |ORDER BY day_num""".stripMargin

  // ------------------------------------------------- events_ewma
  // One-step-ahead EWMA forecast + deviation over the daily count spine
  // (Roberts 1959's EWMA control chart, the standard ops anomaly
  // baseline) with α = 1/2 and the window truncated at 14 lags: the
  // smoothing weights become 2^-i, so the normalized forecast is the
  // EXACT integer expression (Σ 2^(14−i)·y_{t−i}) / (2^14 − 1) — one
  // BIGINT dot product with power-of-two literals and ONE division, no
  // pow(), no per-row double accumulation, bit-identical cross-engine.
  // deviation = y − forecast is the control-chart residual.
  //
  // Shape: the gapfill spine, then 14 lag() reads inside ONE ordered
  // window pass over the calendar-sized frame (unpartitioned window
  // above the daily aggregate — the registry rule); rows without a full
  // history are dropped via the 14th lag's null.
  private val EwmaLags = 14

  private def qEwma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir).filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("y"))
    val spine = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
    val dense = spine.join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("y"), lit(0L)).as("y"))
    val w = Window.orderBy(col("d"))
    val lagged = (1 to EwmaLags).foldLeft(dense) { (df, i) =>
      df.withColumn(s"l$i", lag(col("y"), i).over(w))
    }
    val num = (1 to EwmaLags)
      .map(i => lit(1L << (EwmaLags - i)) * col(s"l$i"))
      .reduce(_ + _)
    val den = lit(((1L << EwmaLags) - 1).toDouble)
    lagged.filter(col(s"l$EwmaLags").isNotNull)
      .select(col("d").as("day_num"), col("y"),
        (num.cast("double") / den).as("ewma"),
        (col("y").cast("double") - num.cast("double") / den)
          .as("deviation"))
      .orderBy(col("day_num"))
  }

  private val sqlEwma: String = {
    val lagDefs = (1 to EwmaLags).map(i =>
      s"lag(y, $i) OVER (ORDER BY d) AS l$i").mkString(",\n      |    ")
    val num = (1 to EwmaLags)
      .map(i => s"${1L << (EwmaLags - i)} * l$i").mkString(" + ")
    val den = ((1L << EwmaLags) - 1).toDouble
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
       |    CAST(COUNT(*) AS BIGINT) AS y
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |), b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM b),
       |dense AS (
       |  SELECT s.d, COALESCE(dd.y, 0) AS y
       |  FROM spine s LEFT JOIN daily dd ON s.d = dd.d
       |), lagged AS (
       |  SELECT d, y,
       |    $lagDefs
       |  FROM dense
       |)
       |SELECT d AS day_num, y,
       |  CAST($num AS DOUBLE) / $den AS ewma,
       |  CAST(y AS DOUBLE) - CAST($num AS DOUBLE) / $den AS deviation
       |FROM lagged WHERE l$EwmaLags IS NOT NULL
       |ORDER BY day_num""".stripMargin
  }

  // ------------------------------------------------- events_cuped
  // CUPED variance-reduced experiment readout (Deng, Xu, Kohavi & Walker,
  // "Improving the Sensitivity of Online Controlled Experiments by
  // Utilizing Pre-Experiment Data", WSDM 2013): the post-period revenue
  // metric is adjusted by each user's PRE-period revenue — the covariate
  // that soaks up between-user variance the treatment can't explain —
  // shrinking the confidence interval by 1−ρ² without touching the
  // point-estimate's validity. θ is the pooled OLS slope cov(x,y)/var(x).
  // Shape: ONE user-keyed aggregate builds (variant, x, y) — pre/post
  // split rides as a CASE on the day index against a broadcast min-day
  // row — then ONE global conditional-sum aggregate produces every
  // moment; θ, lifts and the variance-reduction factor are a fixed
  // closed-form double expression over exact inputs. Per-user sums are
  // cents-exact through the decimal detour; the product/square moments
  // are exact at scale 4 (per-user totals ≪ 3·10⁵, so x·y·10⁴ < 2⁵³);
  // every engine then runs the identical IEEE expression tree.
  private val CupedPreDays = 15L
  private def qCuped(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val ev = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(ts) div 86400000000").as("d"))
    val mn = ev.agg(min(col("d")).as("d0"))
    val u = ev.crossJoin(broadcast(mn))
      .withColumn("pre", col("d") - col("d0") < CupedPreDays)
      .groupBy(col("user_id"))
      .agg(
        Exact.xsum(when(col("pre") && col("event_type") === "purchase",
          col("value")).otherwise(lit(0.0)), 2).as("x"),
        Exact.xsum(when(!col("pre") && col("event_type") === "purchase",
          col("value")).otherwise(lit(0.0)), 2).as("y"))
      .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
    val m = u.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_t"),
      Exact.xsum(when(col("variant") === 0, col("x"))
        .otherwise(lit(0.0)), 2).as("sx_c"),
      Exact.xsum(when(col("variant") === 1, col("x"))
        .otherwise(lit(0.0)), 2).as("sx_t"),
      Exact.xsum(when(col("variant") === 0, col("y"))
        .otherwise(lit(0.0)), 2).as("sy_c"),
      Exact.xsum(when(col("variant") === 1, col("y"))
        .otherwise(lit(0.0)), 2).as("sy_t"),
      Exact.xsum(col("x") * col("y"), 4).as("sxy"),
      Exact.xsum(col("x") * col("x"), 4).as("sxx"),
      Exact.xsum(col("y") * col("y"), 4).as("syy"))
    val n = (col("n_c") + col("n_t")).cast("double")
    val sx = col("sx_c") + col("sx_t")
    val sy = col("sy_c") + col("sy_t")
    val covN = n * col("sxy") - sx * sy
    val varxN = n * col("sxx") - sx * sx
    val varyN = n * col("syy") - sy * sy
    val theta = covN / varxN
    val liftRaw = col("sy_t") / col("n_t").cast("double") -
      col("sy_c") / col("n_c").cast("double")
    val liftCuped = liftRaw - theta *
      (col("sx_t") / col("n_t").cast("double") -
        col("sx_c") / col("n_c").cast("double"))
    m.select(col("n_c"), col("n_t"), theta.as("theta"),
      liftRaw.as("lift_raw"), liftCuped.as("lift_cuped"),
      ((covN * covN) / (varxN * varyN)).as("var_reduction"))
  }

  private val sqlCuped: String = {
    import graft.functions.Exact
    s"""WITH ev AS (
       |  SELECT user_id, event_type, value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), mn AS (SELECT MIN(d) AS d0 FROM ev),
       |u AS (
       |  SELECT user_id % 2 AS variant,
       |    ${Exact.sqlSum(
      s"CASE WHEN d - d0 < $CupedPreDays AND event_type = 'purchase' " +
        "THEN value ELSE 0 END", 2)} AS x,
       |    ${Exact.sqlSum(
      s"CASE WHEN d - d0 >= $CupedPreDays AND event_type = 'purchase' " +
        "THEN value ELSE 0 END", 2)} AS y
       |  FROM ev, mn GROUP BY user_id
       |), m AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_c,
       |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_t,
       |    ${Exact.sqlSum("CASE WHEN variant = 0 THEN x ELSE 0 END", 2)}
       |      AS sx_c,
       |    ${Exact.sqlSum("CASE WHEN variant = 1 THEN x ELSE 0 END", 2)}
       |      AS sx_t,
       |    ${Exact.sqlSum("CASE WHEN variant = 0 THEN y ELSE 0 END", 2)}
       |      AS sy_c,
       |    ${Exact.sqlSum("CASE WHEN variant = 1 THEN y ELSE 0 END", 2)}
       |      AS sy_t,
       |    ${Exact.sqlSum("x * y", 4)} AS sxy,
       |    ${Exact.sqlSum("x * x", 4)} AS sxx,
       |    ${Exact.sqlSum("y * y", 4)} AS syy
       |  FROM u
       |)
       |SELECT n_c, n_t,
       |  (CAST(n_c + n_t AS DOUBLE) * sxy - (sx_c + sx_t) * (sy_c + sy_t))
       |    / (CAST(n_c + n_t AS DOUBLE) * sxx - (sx_c + sx_t) * (sx_c + sx_t))
       |    AS theta,
       |  sy_t / CAST(n_t AS DOUBLE) - sy_c / CAST(n_c AS DOUBLE) AS lift_raw,
       |  (sy_t / CAST(n_t AS DOUBLE) - sy_c / CAST(n_c AS DOUBLE))
       |    - ((CAST(n_c + n_t AS DOUBLE) * sxy
       |          - (sx_c + sx_t) * (sy_c + sy_t))
       |        / (CAST(n_c + n_t AS DOUBLE) * sxx
       |          - (sx_c + sx_t) * (sx_c + sx_t)))
       |      * (sx_t / CAST(n_t AS DOUBLE) - sx_c / CAST(n_c AS DOUBLE))
       |    AS lift_cuped,
       |  ((CAST(n_c + n_t AS DOUBLE) * sxy - (sx_c + sx_t) * (sy_c + sy_t))
       |    * (CAST(n_c + n_t AS DOUBLE) * sxy - (sx_c + sx_t) * (sy_c + sy_t)))
       |  / ((CAST(n_c + n_t AS DOUBLE) * sxx - (sx_c + sx_t) * (sx_c + sx_t))
       |    * (CAST(n_c + n_t AS DOUBLE) * syy - (sy_c + sy_t) * (sy_c + sy_t)))
       |    AS var_reduction
       |FROM m""".stripMargin
  }

  // ------------------------------------------- events_forecast_interval
  // Seasonal-naive forecast with an EMPIRICAL prediction interval: the
  // point forecast for each of the next 7 days is the count 7 days back
  // (events_forecast_naive's model), and the band around it is the
  // 10th/90th percentile of the model's OWN in-sample residuals — the
  // distribution-free conformal-style band every forecast dashboard
  // draws. Shape: one |days|-row dense daily series (zero-filled from a
  // broadcast bounds row), residuals via one self-join on d−7, the two
  // percentile picks via row_number over the |days|-row residual frame
  // (type-1 / discontinuous — pure integer arithmetic, no interpolated
  // doubles), and the 7 future rows explode from the bounds row. All
  // integers end to end — bit-identical cross-engine by construction.
  private val FiLag = 7
  private val FiHorizon = 7
  private def qForecastInterval(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir).filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val bounds = daily.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val spine = bounds.select(explode(sequence(col("d0"), col("d1"))).as("d"))
    val dense = graft.operators.Iterate.pin(
      spine.join(daily, Seq("d"), "left")
        .select(col("d"), coalesce(col("n"), lit(0L)).as("n")))
    val resid = dense.as("a")
      .join(dense.as("b"), col("a.d") === col("b.d") + FiLag)
      .select((col("a.n") - col("b.n")).as("r"))
    val nres = resid.agg(count(lit(1)).as("nr"))
    val ranked = resid.crossJoin(broadcast(nres))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("r"))))
    val qs = ranked.agg(
      max(when(col("rk") === floor(lit(0.1) * (col("nr") - 1)) + 1,
        col("r"))).as("q10"),
      max(when(col("rk") === floor(lit(0.9) * (col("nr") - 1)) + 1,
        col("r"))).as("q90"))
    val future = bounds
      .select(col("d1"), explode(sequence(col("d1") + 1,
        col("d1") + FiHorizon)).as("d"))
    future.join(dense.select((col("d") + FiLag).as("d"),
        col("n").as("point")), Seq("d"))
      .crossJoin(broadcast(qs))
      .select(col("d"), col("point"),
        greatest(col("point") + col("q10"), lit(0L)).as("lo"),
        (col("point") + col("q90")).as("hi"))
      .orderBy(col("d"))
  }

  private val sqlForecastInterval: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |), b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
       |spine AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM b),
       |dense AS (
       |  SELECT s.d, COALESCE(daily.n, 0) AS n
       |  FROM spine s LEFT JOIN daily ON s.d = daily.d
       |), resid AS (
       |  SELECT a.n - bb.n AS r
       |  FROM dense a JOIN dense bb ON a.d = bb.d + $FiLag
       |), nres AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM resid),
       |ranked AS (
       |  SELECT r, nr, ROW_NUMBER() OVER (ORDER BY r) AS rk
       |  FROM resid, nres
       |), qs AS (
       |  SELECT
       |    MAX(CASE WHEN rk = CAST(floor(0.1 * (nr - 1)) AS BIGINT) + 1
       |      THEN r END) AS q10,
       |    MAX(CASE WHEN rk = CAST(floor(0.9 * (nr - 1)) AS BIGINT) + 1
       |      THEN r END) AS q90
       |  FROM ranked
       |), future AS (
       |  SELECT unnest(range(d1 + 1, d1 + ${FiHorizon + 1})) AS d FROM b
       |)
       |SELECT f.d, dn.n AS point,
       |  GREATEST(dn.n + qs.q10, 0) AS lo,
       |  dn.n + qs.q90 AS hi
       |FROM future f JOIN dense dn ON f.d = dn.d + $FiLag, qs
       |ORDER BY f.d""".stripMargin

  // ------------------------------------------------- events_seasonality
  // Weekly-seasonality strength of the daily volume series: the R² of
  // the day-of-week means — 1 − SS_resid/SS_tot, the variance share the
  // weekly cycle explains (Hyndman's STL-based strength measure in its
  // single-period closed form). events_acf DIAGNOSES the lag-7 cycle;
  // this prices it — the number that justifies a seasonal forecast
  // baseline over a flat one. Shape: one |days|-row count aggregate,
  // one ≤7-group aggregate; both sums of squares collapse to integer
  // moments (SS = ΣQ − S²/D), so the only doubles are the per-group
  // S²/D rationals summed through the exact-decimal detour and two
  // closing divisions.
  private def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val daily = Tables.eventsCached(s, dir).filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val dow = daily.select((col("d") % 7).as("w"), col("n"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("dw"), sum(col("n")).as("sw"),
        sum(col("n") * col("n")).as("qw"))
    val m = dow.agg(
      sum(col("dw")).as("dd"), sum(col("sw")).as("ss"),
      sum(col("qw")).as("qq"),
      Exact.xsum(col("sw").cast("double") * col("sw").cast("double")
        / col("dw").cast("double"), 6).as("swsq"))
    val ssTot = col("qq").cast("double") -
      col("ss").cast("double") * col("ss").cast("double") /
        col("dd").cast("double")
    val ssResid = col("qq").cast("double") - col("swsq")
    m.select(col("dd").as("n_days"),
      (col("ss").cast("double") / col("dd").cast("double"))
        .as("grand_mean"),
      ssTot.as("ss_tot"), ssResid.as("ss_resid"),
      (lit(1.0) - ssResid / ssTot).as("seasonality_strength"))
  }

  private val sqlSeasonality: String = {
    import graft.functions.Exact
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |), dow AS (
       |  SELECT d % 7 AS w, CAST(COUNT(*) AS BIGINT) AS dw,
       |    CAST(SUM(n) AS BIGINT) AS sw,
       |    CAST(SUM(n * n) AS BIGINT) AS qw
       |  FROM daily GROUP BY 1
       |), m AS (
       |  SELECT CAST(SUM(dw) AS BIGINT) AS dd,
       |    CAST(SUM(sw) AS BIGINT) AS ss,
       |    CAST(SUM(qw) AS BIGINT) AS qq,
       |    ${Exact.sqlSum(
      "CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(dw AS DOUBLE)", 6)}
       |      AS swsq
       |  FROM dow
       |)
       |SELECT dd AS n_days,
       |  CAST(ss AS DOUBLE) / CAST(dd AS DOUBLE) AS grand_mean,
       |  CAST(qq AS DOUBLE)
       |    - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(dd AS DOUBLE)
       |    AS ss_tot,
       |  CAST(qq AS DOUBLE) - swsq AS ss_resid,
       |  CAST(1 AS DOUBLE)
       |    - (CAST(qq AS DOUBLE) - swsq)
       |      / (CAST(qq AS DOUBLE)
       |        - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
       |          / CAST(dd AS DOUBLE)) AS seasonality_strength
       |FROM m""".stripMargin
  }

  // -------------------------------------------- events_markov_stationary
  // Stationary distribution of the first-order behavior chain
  // (events_transitions' matrix): π·P power iteration from uniform — the
  // long-run share of time a user's next-event process spends in each
  // state, the summary number behind "what does steady-state engagement
  // look like". Shape: the transition frame is |types|²-bounded (≤ 25
  // rows), so after the ONE corpus-wide lead-window pass every round is
  // a tiny broadcastable join + one exact-decimal aggregate — the
  // pagerank round discipline on a micro frame. p = n/n_from divides
  // exact BIGINTs; each round's mass sums through the scale-12 decimal
  // detour in engine-independent order.
  private val MsIters = 3
  /** Index of dispersion of hourly arrivals per event type (Cox-Lewis,
    * "The Statistical Analysis of Series of Events", 1966 §4: the
    * variance-to-mean ratio of counts in equal windows — 1 under
    * Poisson, >1 overdispersed/bursty, <1 regular). Complements
    * `events_burstiness` (inter-arrival CV) with the COUNT-side test on
    * a shared observation window.
    *
    * Exactness: D = Var/Mean over hourly counts folds entirely to
    * integer moments — D = (H·ΣQ − S²)/(H·S) with S = Σc, ΣQ = Σc²,
    * H = the GLOBAL hour span (so empty hours count as zeros without
    * materializing them) — one IEEE division of exact BIGINTs.
    * Scale shape: one (type, hour) hash aggregate, one thin re-aggregate,
    * a broadcast 1-row span.
    */
  private def qDispersion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
    val span = ev.agg(min(col("hr")).as("hmin"), max(col("hr")).as("hmax"))
    ev.groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sum_sq"))
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        (col("hmax") - col("hmin") + lit(1L)).as("n_hours"),
        col("n_events"), col("sum_sq"))
      .withColumn("dispersion",
        (col("n_hours") * col("sum_sq") - col("n_events") * col("n_events"))
          .cast("double")
          / (col("n_hours") * col("n_events")).cast("double"))
      .orderBy(col("event_type"))
  }

  private val sqlDispersion: String =
    """WITH ev AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |), span AS (
      |  SELECT MIN(hr) AS hmin, MAX(hr) AS hmax FROM ev
      |), hc AS (
      |  SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM ev GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_events,
      |    CAST(SUM(c * c) AS BIGINT) AS sum_sq
      |  FROM hc GROUP BY 1
      |)
      |SELECT event_type, hmax - hmin + 1 AS n_hours, n_events, sum_sq,
      |  CAST((hmax - hmin + 1) * sum_sq - n_events * n_events AS DOUBLE)
      |    / CAST((hmax - hmin + 1) * n_events AS DOUBLE) AS dispersion
      |FROM m, span
      |ORDER BY event_type""".stripMargin

  /** Entropy rate of the event-type Markov chain (Shannon 1948 §7 /
    * Cover-Thomas ch.4): the plug-in conditional entropy of the next
    * type given the current one, H = −Σ_ij (n_ij/N)·ln(n_ij/n_i·), over
    * the SAME per-user transition frame as `events_markov_stationary` —
    * with the marginal type entropy H₀ beside it, the H/H₀ ratio reads
    * as how much sequence structure the chain captures (1 = memoryless).
    * Uses the EMPIRICAL origin distribution n_i·/N (the MLE plug-in), not
    * the power-iterated π, so the estimate carries no iteration error.
    *
    * Exactness: each term is single IEEE ops on exact-integer ratios;
    * both sums go through the scale-12 exact detour; negation and the
    * final ratio are single ops — the `events_user_entropy` discipline.
    * Scale shape: one keyed lead window + one (i,j) hash aggregate
    * (|types|² rows), everything after is |types|²-bounded.
    */
  private def qEntropyRate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.operators.Iterate.pin)
    val ft = t.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    val tot = t.agg(sum(col("n")).as("n_tot"),
      countDistinct(col("from_type")).as("n_states"))
    val hRate = t.join(broadcast(ft), Seq("from_type"))
      .crossJoin(broadcast(tot))
      .select(((col("n").cast("double") / col("n_tot").cast("double"))
        * log(col("n").cast("double") / col("n_from").cast("double")))
        .as("term"))
      .agg((-Exact.xsum(col("term"), 12)).as("h_rate"))
    val hMarg = t.groupBy(col("to_type")).agg(sum(col("n")).as("n_to"))
      .crossJoin(broadcast(tot))
      .select(((col("n_to").cast("double") / col("n_tot").cast("double"))
        * log(col("n_to").cast("double") / col("n_tot").cast("double")))
        .as("term"))
      .agg((-Exact.xsum(col("term"), 12)).as("h_marginal"))
    tot.crossJoin(broadcast(hRate)).crossJoin(broadcast(hMarg))
      .select(col("n_tot").as("n_transitions"), col("n_states"),
        col("h_rate"), col("h_marginal"),
        (col("h_rate") / col("h_marginal")).as("structure_ratio"))
  }

  private val sqlEntropyRate: String = {
    import graft.functions.Exact
    s"""WITH seq AS (
       |  SELECT user_id, event_type AS from_type,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
       |  FROM events WHERE ts IS NOT NULL
       |), t AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
       |), ft AS (
       |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
       |  FROM t GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
       |    CAST(COUNT(DISTINCT from_type) AS BIGINT) AS n_states
       |  FROM t
       |), hr AS (
       |  SELECT -(${Exact.sqlSum(
                "(CAST(t.n AS DOUBLE) / CAST(tot.n_tot AS DOUBLE)) * " +
                "ln(CAST(t.n AS DOUBLE) / CAST(ft.n_from AS DOUBLE))", 12)})
       |    AS h_rate
       |  FROM t JOIN ft ON t.from_type = ft.from_type, tot
       |), mg AS (
       |  SELECT to_type, CAST(SUM(n) AS BIGINT) AS n_to FROM t GROUP BY 1
       |), hm AS (
       |  SELECT -(${Exact.sqlSum(
                "(CAST(n_to AS DOUBLE) / CAST(tot.n_tot AS DOUBLE)) * " +
                "ln(CAST(n_to AS DOUBLE) / CAST(tot.n_tot AS DOUBLE))", 12)})
       |    AS h_marginal
       |  FROM mg, tot
       |)
       |SELECT tot.n_tot AS n_transitions, tot.n_states,
       |  hr.h_rate, hm.h_marginal,
       |  hr.h_rate / hm.h_marginal AS structure_ratio
       |FROM tot, hr, hm""".stripMargin
  }

  private def qMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val t = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = t.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    val trans = graft.operators.Iterate.pin(
      t.join(broadcast(fromTotals), Seq("from_type"))
        .select(col("from_type"), col("to_type"),
          (col("n").cast("double") / col("n_from").cast("double")).as("p")))
    val states = trans.select(col("from_type").as("state")).distinct()
    val nn = states.agg(count(lit(1)).as("n"))
    var pi = states.crossJoin(broadcast(nn))
      .select(col("state"), (lit(1.0) / col("n")).as("pi"))
    for (_ <- 1 to MsIters) {
      pi = trans.join(pi, trans("from_type") === pi("state"))
        .groupBy(col("to_type"))
        .agg(Exact.xsum(col("pi") * col("p"), 12).as("pi2"))
        .select(col("to_type").as("state"), col("pi2").as("pi"))
    }
    pi.orderBy(col("state"))
  }

  private val sqlMarkovStationary: String = {
    import graft.functions.Exact
    val rounds = (1 to MsIters).map { k =>
      s"""p$k AS (
         |  SELECT tr.to_type AS state,
         |    ${Exact.sqlSum("r.pi * tr.p", 12)} AS pi
         |  FROM trans tr JOIN p${k - 1} r ON tr.from_type = r.state
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, event_type AS from_type,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
       |  FROM events WHERE ts IS NOT NULL
       |), t AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
       |), ft AS (
       |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
       |  FROM t GROUP BY from_type
       |), trans AS (
       |  SELECT t.from_type, t.to_type,
       |    CAST(t.n AS DOUBLE) / CAST(ft.n_from AS DOUBLE) AS p
       |  FROM t JOIN ft USING (from_type)
       |), states AS (SELECT DISTINCT from_type AS state FROM trans),
       |nn AS (SELECT COUNT(*) AS n FROM states),
       |p0 AS (SELECT state, CAST(1 AS DOUBLE) / n AS pi FROM states, nn),
       |$rounds
       |SELECT state, pi FROM p$MsIters ORDER BY state""".stripMargin
  }

  // ------------------------------------------------- events_mad
  // Robust location/spread per event type: median + MAD (median absolute
  // deviation) and the robust-z outlier count at the standard 3σ cut
  // (Hampel identifier; 1.4826·MAD is the Gaussian-consistent σ
  // estimate). The robust twin of events_winsorize's trimming: a single
  // 10 000× value corrupts a mean/stddev monitor but moves MAD not at
  // all. Shape: exact interpolated percentile per type (the q23 idiom —
  // Spark `percentile` ↔ DuckDB `quantile_cont`), the median broadcast
  // back for ONE deviation pass + second percentile, then one
  // conditional count. At 100 TB the exact group percentile swaps for
  // the KLL sketch (sketch_percentile) with the identical frame.
  private def qMad(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"), col("value"))
    // both percentiles are ROUNDED (q23's interpolation-absorbing idiom)
    // BEFORE any reuse, so the deviation and threshold arithmetic runs on
    // bit-identical inputs in both engines
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("med")).as("median"),
        round(expr("percentile(adev, 0.5)"), 4).as("mad"))
    dev.join(broadcast(mad.select(col("event_type"), col("mad"))),
        Seq("event_type"))
      .groupBy(col("event_type"))
      // single literal 4.4478 = 3·1.4826, NOT the product of two lits:
      // Spark's IEEE product could differ by an ulp from the oracle's
      // decimal-parsed constant and flip a boundary row
      .agg(sum(when(col("adev") > lit(4.4478) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .join(mad, Seq("event_type"))
      .select(col("event_type"), col("n"), col("median"), col("mad"),
        col("n_outliers"))
      .orderBy(col("event_type"))
  }

  private val sqlMad: String =
    """WITH ev AS (
      |  SELECT event_type, value FROM events
      |  WHERE ts IS NOT NULL AND value IS NOT NULL
      |), med AS (
      |  SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS med
      |  FROM ev GROUP BY event_type
      |), dev AS (
      |  SELECT ev.event_type, ev.value, med.med,
      |    abs(ev.value - med.med) AS adev
      |  FROM ev JOIN med USING (event_type)
      |), mad AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    MIN(med) AS median,
      |    ROUND(quantile_cont(adev, 0.5), 4) AS mad
      |  FROM dev GROUP BY event_type
      |)
      |SELECT d.event_type, m.n, m.median, m.mad,
      |  CAST(SUM(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * m.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type, m.n, m.median, m.mad
      |ORDER BY d.event_type""".stripMargin

  // ------------------------------------------------- events_srm
  // Sample-ratio mismatch check (Fabijan et al., "Diagnosing Sample
  // Ratio Mismatch in Online Controlled Experiments", KDD 2019): is the
  // observed variant split consistent with the designed 50/50? SRM is
  // the first gate of any experiment readout — a skewed assignment
  // invalidates events_abtest/events_cuped before any metric is read.
  // Shape: ONE distinct-user aggregate; χ² (df=1) is a closed-form
  // double over two exact BIGINTs, compared against the fixed 95 %
  // critical value. Flagging rides in the row, not in control flow.
  private val SrmCrit = 3.841
  private def qSrm(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n_t"))
    val e = (col("n_c") + col("n_t")).cast("double") / lit(2.0)
    val chi2 = (col("n_c").cast("double") - e) * (col("n_c").cast("double") - e) / e +
      (col("n_t").cast("double") - e) * (col("n_t").cast("double") - e) / e
    m.select(col("n_c"), col("n_t"), chi2.as("chi2"),
      (chi2 < lit(SrmCrit)).as("ratio_ok"))
  }

  private val sqlSrm: String =
    s"""WITH u AS (
       |  SELECT DISTINCT user_id FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), m AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_c,
       |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_t
       |  FROM u
       |)
       |SELECT n_c, n_t,
       |  (CAST(n_c AS DOUBLE) - CAST(n_c + n_t AS DOUBLE) / 2)
       |    * (CAST(n_c AS DOUBLE) - CAST(n_c + n_t AS DOUBLE) / 2)
       |    / (CAST(n_c + n_t AS DOUBLE) / 2)
       |  + (CAST(n_t AS DOUBLE) - CAST(n_c + n_t AS DOUBLE) / 2)
       |    * (CAST(n_t AS DOUBLE) - CAST(n_c + n_t AS DOUBLE) / 2)
       |    / (CAST(n_c + n_t AS DOUBLE) / 2) AS chi2,
       |  ((CAST(n_c AS DOUBLE) - CAST(n_c + n_t AS DOUBLE) / 2)
       |    * (CAST(n_c AS DOUBLE) - CAST(n_c + n_t AS DOUBLE) / 2)
       |    / (CAST(n_c + n_t AS DOUBLE) / 2)
       |  + (CAST(n_t AS DOUBLE) - CAST(n_c + n_t AS DOUBLE) / 2)
       |    * (CAST(n_t AS DOUBLE) - CAST(n_c + n_t AS DOUBLE) / 2)
       |    / (CAST(n_c + n_t AS DOUBLE) / 2)) < $SrmCrit AS ratio_ok
       |FROM m""".stripMargin

  // ------------------------------------------------- events_did
  // Difference-in-differences panel readout (Card & Krueger 1994 made
  // the design canonical): per-user purchase revenue in the four
  // (variant × pre/post) cells; the DiD estimate is the interaction —
  // treatment's post−pre shift minus control's, the causal readout
  // when assignment correlates with time-invariant user traits. Uses
  // the SAME 15-day split and variant hash as events_cuped, so the two
  // estimates are directly comparable. Shape: ONE scan tags cells
  // against the broadcast min-day row, ONE aggregate builds all four
  // cell sums + distinct-user counts; cell means and the estimate are
  // a fixed closed-form double expression over exact decimal sums.
  private def qDid(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val ev = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(ts) div 86400000000").as("d"))
    val mn = ev.agg(min(col("d")).as("d0"))
    val tagged = ev.crossJoin(broadcast(mn))
      .withColumn("t", (col("user_id") % 2 === 1))
      .withColumn("post", col("d") - col("d0") >= CupedPreDays)
    def cellSum(t: Boolean, post: Boolean) =
      Exact.xsum(when(col("t") === t && col("post") === post &&
        col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0)), 2)
    def cellUsers(t: Boolean) =
      countDistinct(when(col("t") === t, col("user_id")))
    val m = tagged.agg(
      cellSum(t = false, post = false).as("s_c_pre"),
      cellSum(t = false, post = true).as("s_c_post"),
      cellSum(t = true, post = false).as("s_t_pre"),
      cellSum(t = true, post = true).as("s_t_post"),
      cellUsers(t = false).as("n_c"),
      cellUsers(t = true).as("n_t"))
    def mean(sc: Column, n: Column) = sc / n.cast("double")
    val mCPre = mean(col("s_c_pre"), col("n_c"))
    val mCPost = mean(col("s_c_post"), col("n_c"))
    val mTPre = mean(col("s_t_pre"), col("n_t"))
    val mTPost = mean(col("s_t_post"), col("n_t"))
    m.select(col("n_c"), col("n_t"),
      mCPre.as("mean_c_pre"), mCPost.as("mean_c_post"),
      mTPre.as("mean_t_pre"), mTPost.as("mean_t_post"),
      ((mTPost - mTPre) - (mCPost - mCPre)).as("did_estimate"))
  }

  private val sqlDid: String = {
    import graft.functions.Exact
    def cell(t: Int, post: Boolean) = Exact.sqlSum(
      s"CASE WHEN user_id % 2 = $t AND " +
        (if (post) s"d - d0 >= $CupedPreDays" else s"d - d0 < $CupedPreDays") +
        " AND event_type = 'purchase' THEN value ELSE 0 END", 2)
    s"""WITH ev AS (
       |  SELECT user_id, event_type, value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |), mn AS (SELECT MIN(d) AS d0 FROM ev),
       |m AS (
       |  SELECT
       |    ${cell(0, post = false)} AS s_c_pre,
       |    ${cell(0, post = true)} AS s_c_post,
       |    ${cell(1, post = false)} AS s_t_pre,
       |    ${cell(1, post = true)} AS s_t_post,
       |    CAST(COUNT(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END)
       |      AS BIGINT) AS n_c,
       |    CAST(COUNT(DISTINCT CASE WHEN user_id % 2 = 1 THEN user_id END)
       |      AS BIGINT) AS n_t
       |  FROM ev, mn
       |)
       |SELECT n_c, n_t,
       |  s_c_pre / CAST(n_c AS DOUBLE) AS mean_c_pre,
       |  s_c_post / CAST(n_c AS DOUBLE) AS mean_c_post,
       |  s_t_pre / CAST(n_t AS DOUBLE) AS mean_t_pre,
       |  s_t_post / CAST(n_t AS DOUBLE) AS mean_t_post,
       |  (s_t_post / CAST(n_t AS DOUBLE) - s_t_pre / CAST(n_t AS DOUBLE))
       |    - (s_c_post / CAST(n_c AS DOUBLE)
       |      - s_c_pre / CAST(n_c AS DOUBLE)) AS did_estimate
       |FROM m""".stripMargin
  }

  // ------------------------------------------------- events_mde
  // Minimum detectable effect at the CURRENT sample size (the design
  // half of the experimentation suite: events_srm checks assignment,
  // events_abtest reads the result, this says what the experiment COULD
  // have detected): MDE = (z_{α/2} + z_β)·√(2·p(1−p)/n) at α=5 %,
  // power 80 % — the two z constants are fixed literals, p is the
  // control conversion rate from the SAME user frame as events_abtest,
  // n the smaller arm. One user-keyed aggregate + one 1-row closed-form
  // projection over exact integers.
  private val MdeZ = 1.96 + 0.8416
  private def qMde(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purch"))
      .select((col("user_id") % 2).as("variant"),
        when(col("n_purch") >= AbConvThreshold, 1L).otherwise(0L)
          .as("conv"))
    val m = u.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("variant") === 0, col("conv")).otherwise(0L))
        .as("conv_c"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_t"))
    val p = col("conv_c").cast("double") / col("n_c").cast("double")
    val n = least(col("n_c"), col("n_t")).cast("double")
    val mde = lit(MdeZ) * sqrt(lit(2.0) * p * (lit(1.0) - p) / n)
    m.select(col("n_c"), col("n_t"), p.as("p_base"),
      mde.as("mde_abs"), (mde / p).as("mde_rel"))
  }

  // lazy: interpolates AbConvThreshold, declared LATER in the object —
  // an eager val here would capture the uninitialized 0
  private lazy val sqlMde: String =
    s"""WITH u AS (
       |  SELECT user_id % 2 AS variant,
       |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |      END) >= $AbConvThreshold THEN 1 ELSE 0 END AS conv
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY user_id
       |), m AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_c,
       |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT)
       |      AS conv_c,
       |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_t
       |  FROM u
       |)
       |SELECT n_c, n_t,
       |  CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS p_base,
       |  $MdeZ * sqrt(2 * (CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
       |      * (1 - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
       |      / CAST(least(n_c, n_t) AS DOUBLE)) AS mde_abs,
       |  ($MdeZ * sqrt(2 * (CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
       |      * (1 - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
       |      / CAST(least(n_c, n_t) AS DOUBLE)))
       |    / (CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) AS mde_rel
       |FROM m""".stripMargin

  // ------------------------------------------------- events_burstiness
  // Burstiness index of each event type's arrival process (Goh &
  // Barabási, "Burstiness and memory in complex systems", EPL 2008):
  // B = (σ−μ)/(σ+μ) over the inter-arrival gaps — −1 for a metronome,
  // 0 for Poisson, →1 for heavy bursts. The number that says whether
  // `error` arrivals cluster (incident-driven) or drip (background
  // noise), read before alert-threshold tuning. Shape: ONE type-keyed
  // lag window + ONE aggregate; gaps are exact BIGINT micros, g² is
  // squared and summed in DECIMAL(38,0) (multi-hour gaps overflow an
  // INT64 square — both engines raise, so the detour is mandatory,
  // not defensive), and σ/B are a fixed
  // closed-form double expression — single rounding per engine, same
  // everywhere.
  private def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("t"), col("event_id"))
    val g = Tables.eventsCached(s, dir).filter(col("ts").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts)").as("t"))
      .withColumn("g", col("t") - lag(col("t"), 1).over(w))
      .filter(col("g").isNotNull)
    val m = g.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"),
        sum(col("g").cast("decimal(19,0)") * col("g").cast("decimal(19,0)"))
          .cast("double").as("sgg"))
    val n = col("n_gaps").cast("double")
    val mean = col("sg").cast("double") / n
    val sigma = sqrt(col("sgg") / n - mean * mean)
    m.select(col("event_type"), col("n_gaps"),
      mean.as("mean_gap_us"),
      ((sigma - mean) / (sigma + mean)).as("b_index"))
      .orderBy(col("event_type"))
  }

  private val sqlBurstiness: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP))
      |      - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      |          PARTITION BY event_type
      |          ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS gp
      |  FROM events WHERE ts IS NOT NULL
      |), m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |    CAST(SUM(gp) AS BIGINT) AS sg,
      |    CAST(SUM(CAST(gp AS DECIMAL(19,0)) * CAST(gp AS DECIMAL(19,0)))
      |      AS DOUBLE) AS sgg
      |  FROM g WHERE gp IS NOT NULL GROUP BY event_type
      |)
      |SELECT event_type, n_gaps,
      |  CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_us,
      |  (sqrt(sgg / CAST(n_gaps AS DOUBLE)
      |      - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |        * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
      |    - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |  / (sqrt(sgg / CAST(n_gaps AS DOUBLE)
      |      - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
      |        * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
      |    + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS b_index
      |FROM m ORDER BY event_type""".stripMargin

  // ------------------------------------------------- events_acf
  // Autocorrelation function of the daily event-count series at lags
  // 1..AcfMaxLag — the periodicity diagnostic (weekly cycle shows as a
  // lag-7 peak) read before picking a seasonal forecast baseline
  // (events_forecast_naive) or an anomaly window (events_anomaly).
  // Shape: ONE exchange builds the |days|-row daily series (map-side
  // partial counts do the heavy lifting); the lag alignment is a
  // calendar self-join of that tiny frame against a broadcast 7-row lag
  // dimension — day+lag equi-keys, so absent days drop out of the pair
  // set exactly as the oracle's inner join drops them. Determinism: all
  // six moments per lag are exact BIGINT sums (the qCorr pattern); each
  // ACF value is a fixed handful of IEEE double ops over them. At
  // extreme daily volumes (≳10⁹ events/day for years) the BIGINT moment
  // products would need the DECIMAL(38) detour; the day-count frame
  // itself stays |days| rows at any corpus size.
  private val AcfMaxLag = 7
  private def qAcf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val lags = s.range(1, AcfMaxLag + 1L).select(col("id").as("lg"))
    val b = daily.select(col("day").as("day2"), col("n").as("y"))
    daily.select(col("day"), col("n").as("x"))
      .crossJoin(broadcast(lags))
      .join(b, col("day2") === col("day") + col("lg"))
      .groupBy(col("lg"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lg").as("lag"), col("n_pairs"),
        ((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("n_pairs") * col("syy") - col("sy") * col("sy"))
              .cast("double")))
          .as("acf"))
      .orderBy(col("lag"))
  }

  private val sqlAcf: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |), pairs AS (
       |  SELECT t.lg, a.n AS x, b.n AS y
       |  FROM daily a
       |  CROSS JOIN range(1, ${AcfMaxLag + 1}) t(lg)
       |  JOIN daily b ON b.day = a.day + t.lg
       |), m AS (
       |  SELECT lg, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |    CAST(SUM(x * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM pairs GROUP BY lg
       |)
       |SELECT lg AS lag, n_pairs,
       |  CAST(n_pairs * sxy - sx * sy AS DOUBLE)
       |    / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
       |           * CAST(n_pairs * syy - sy * sy AS DOUBLE)) AS acf
       |FROM m ORDER BY lag""".stripMargin

  // ------------------------------------------------- events_abtest
  // A/B experiment readout: users split by id parity into control/
  // treatment, conversion = a heavy purchaser (≥ AbConvThreshold
  // purchase events — "any purchase" converts EVERY fixture user and
  // the pooled variance degenerates to 0/0), and the report is the
  // two-proportion z-statistic an experimentation platform prints.
  // Shape: ONE user-keyed exchange (per-user conversion flag via max),
  // then a single-row conditional-sum aggregate — at any corpus size
  // the statistic derives from four exact BIGINTs; the CVRs, lift, and
  // z are a fixed closed-form double expression over them (IEEE sqrt is
  // correctly rounded, so cross-engine exact — the qCorr discipline).
  private val AbConvThreshold = 14L
  private def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("n_purch"))
      .select((col("user_id") % 2).as("variant"),
        when(col("n_purch") >= AbConvThreshold, 1L).otherwise(0L)
          .as("conv"))
    val m = u.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("variant") === 0, col("conv")).otherwise(0L))
        .as("conv_c"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_t"),
      sum(when(col("variant") === 1, col("conv")).otherwise(0L))
        .as("conv_t"))
    val pc = col("conv_c").cast("double") / col("n_c").cast("double")
    val pt = col("conv_t").cast("double") / col("n_t").cast("double")
    val pooled = (col("conv_c") + col("conv_t")).cast("double") /
      (col("n_c") + col("n_t")).cast("double")
    m.select(col("n_c"), col("conv_c"), col("n_t"), col("conv_t"),
      pc.as("cvr_control"), pt.as("cvr_treatment"),
      (pt - pc).as("abs_lift"),
      ((pt - pc) / sqrt(pooled * (lit(1.0) - pooled) *
        (lit(1.0) / col("n_c").cast("double")
          + lit(1.0) / col("n_t").cast("double")))).as("z_score"))
  }

  private val sqlAbTest: String =
    s"""WITH u AS (
      |  SELECT user_id % 2 AS variant,
      |    CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END) >= $AbConvThreshold THEN 1 ELSE 0 END AS conv
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id
      |), m AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_c,
      |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT)
      |      AS conv_c,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_t,
      |    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT)
      |      AS conv_t
      |  FROM u
      |), p AS (
      |  SELECT *,
      |    CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS pc,
      |    CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS pt,
      |    CAST(conv_c + conv_t AS DOUBLE) / CAST(n_c + n_t AS DOUBLE)
      |      AS pooled
      |  FROM m
      |)
      |SELECT n_c, conv_c, n_t, conv_t,
      |  pc AS cvr_control, pt AS cvr_treatment,
      |  pt - pc AS abs_lift,
      |  (pt - pc) / sqrt(pooled * (CAST(1 AS DOUBLE) - pooled)
      |    * (CAST(1 AS DOUBLE) / CAST(n_c AS DOUBLE)
      |       + CAST(1 AS DOUBLE) / CAST(n_t AS DOUBLE))) AS z_score
      |FROM p""".stripMargin

  // ------------------------------------------- events_cumulative_users
  // User-acquisition curve: new users per day (day of each user's FIRST
  // event) and the running total — the growth chart every analytics
  // deployment draws. Shape: one user-keyed exchange for first_day (a
  // thin min aggregate), one |days|-group count, then a running sum
  // over the |days|-row frame — the single-partition window is over a
  // calendar-bounded frame, never over users. Day index is epoch
  // arithmetic, exact everywhere.
  private def qCumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val w = Window.orderBy(col("first_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    first.groupBy(col("first_day")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .orderBy(col("first_day"))
  }

  private val sqlCumulativeUsers: String =
    """WITH f AS (
      |  SELECT user_id,
      |    MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS first_day
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id
      |), d AS (
      |  SELECT first_day, CAST(COUNT(*) AS BIGINT) AS new_users
      |  FROM f GROUP BY first_day
      |)
      |SELECT first_day, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY first_day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM d ORDER BY first_day""".stripMargin

  // ------------------------------------------------- events_stickiness
  // DAU/WAU stickiness: distinct daily actives over distinct 7-day
  // actives, per day — the engagement ratio a product dashboard leads
  // with. Rolling DISTINCT counts don't decompose like sums, so WAU is
  // computed exactly from the distinct (day, user) frame: each pair
  // feeds the 7 calendar days whose trailing window contains it (a
  // broadcast 7-row offset expansion — bounded fanout of an already
  // user-deduplicated frame, never of the raw stream), then one
  // count-distinct per day. Shape at scale: one exchange dedups
  // (day, user); the 7× expansion and both counts partial-aggregate
  // map-side; output is |days| rows. Ratio = one division of exact
  // counts. Days with no prior week still divide cleanly (wau ≥ dau).
  private def qStickiness(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id"))
      .distinct()
    val dau = du.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val offs = s.range(0, 7).select(col("id").as("off"))
    val wau = du.crossJoin(broadcast(offs))
      .select((col("day") + col("off")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    // only days that actually occurred report (the expansion invents
    // trailing ghost days past the horizon)
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy(col("day"))
  }

  private val sqlStickiness: String =
    """WITH du AS (
      |  SELECT DISTINCT
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    user_id
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |), dau AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
      |), wau AS (
      |  SELECT du.day + t.off AS day,
      |    CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
      |  FROM du CROSS JOIN range(0, 7) t(off)
      |  GROUP BY 1
      |)
      |SELECT day, dau, wau,
      |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau USING (day)
      |ORDER BY day""".stripMargin

  // --------------------------------------------- events_pseudonymize
  // Pseudonymization collision audit: before shipping a dataset keyed by
  // hashed ids, measure how narrow the pseudonym space can be. Users map
  // through a salted md5 truncated to 16 bits — deliberately tight so
  // the birthday effect is VISIBLE (expected collisions ≈ n²/2·65536) —
  // and the report counts distinct ids, distinct pseudonyms, collided
  // ids, and the largest pseudonym bucket. Shape: one distinct-user
  // exchange, map-side hashing, one |pseudonyms|-group count, one-row
  // reduce. The hash is the suite's md5 discipline, so the oracle
  // reproduces every pseudonym bit for bit.
  private def qPseudonymize(s: SparkSession, dir: String): DataFrame = {
    val pid = conv(substring(md5(concat(lit("p:"),
      col("user_id").cast("string"))), 1, 4), 16, 10).cast("long")
    Tables.eventsCached(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct()
      .select(pid.as("pid"))
      .groupBy(col("pid")).agg(count(lit(1)).as("k"))
      .agg(sum(col("k")).as("n_ids"),
        count(lit(1)).as("n_pseudonyms"),
        max(col("k")).as("max_bucket"))
      .select(col("n_ids"), col("n_pseudonyms"),
        (col("n_ids") - col("n_pseudonyms")).as("n_collided"),
        col("max_bucket"),
        ((col("n_ids") - col("n_pseudonyms")).cast("double") /
          col("n_ids").cast("double")).as("collision_rate"))
  }

  // ------------------------------------------------ events_bootstrap
  // Poisson bootstrap confidence intervals (Chamandy et al., "Estimating
  // Uncertainty for Massive Data Streams", Google TR 2012; Kleiner et al.
  // BLB is the heavier cousin): per replicate j, each row's resample
  // multiplicity is an independent Poisson(1) draw — at n→∞ this matches
  // the multinomial bootstrap, and UNLIKE it needs no global n or
  // coordination, so it runs as ONE map-side pass per replicate. The
  // draw inverts the Poisson(1) CDF on a md5-uniform u(event_id, j):
  // deterministic, engine-agnostic literals, so the oracle reproduces
  // every weight bit for bit. 100 TB shape: the ×REPS explode is map-side
  // fanout feeding a partial agg on (type, j) — no corpus-sized shuffle;
  // the CI percentile runs over REPS means per type.
  private val BootReps = 20
  // cumulative Poisson(1) CDF at k=0..4 (shared literals, both engines)
  private val BootCdf = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563)

  private def qBootstrap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsCached(s, dir).filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
    val u = conv(substring(md5(concat(lit("b:"),
      col("event_id").cast("string"), lit("#"), col("j").cast("string"))),
      1, 13), 16, 10).cast("long").cast("double") / lit(4503599627370496.0)
    val w = BootCdf.zipWithIndex.foldRight(lit(BootCdf.size): Column) {
      case ((t, k), acc) => when(u < t, lit(k)).otherwise(acc)
    }
    val perRep = ev
      .withColumn("j", explode(sequence(lit(1), lit(BootReps))))
      .withColumn("w", w.cast("long"))
      .groupBy(col("event_type"), col("j"))
      .agg(xsum(col("w").cast("double") * col("value"), 6).as("sv"),
        sum(col("w")).as("sw"))
      .select(col("event_type"), col("j"),
        (col("sv") / col("sw").cast("double")).as("m"))
    val full = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), xavg(col("value")).as("mean_full"))
    perRep.groupBy(col("event_type"))
      .agg(round(expr("percentile(m, 0.05)"), 6).as("ci_lo"),
        round(expr("percentile(m, 0.5)"), 6).as("ci_mid"),
        round(expr("percentile(m, 0.95)"), 6).as("ci_hi"))
      .join(full, Seq("event_type"))
      .select(col("event_type"), col("n"), col("mean_full"),
        col("ci_lo"), col("ci_mid"), col("ci_hi"))
      .orderBy(col("event_type"))
  }

  private val sqlBootstrap: String = {
    val cases = BootCdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
    s"""WITH ev AS (
       |  SELECT event_id, event_type, value FROM events
       |  WHERE value IS NOT NULL
       |), reps AS (
       |  SELECT event_type, value, j,
       |    CAST(('0x' || substr(md5('b:' || CAST(event_id AS VARCHAR)
       |      || '#' || CAST(j AS VARCHAR)), 1, 13)) AS BIGINT)
       |      / 4503599627370496.0 AS u
       |  FROM ev CROSS JOIN (SELECT unnest(range(1, ${BootReps + 1})) AS j)
       |), wtd AS (
       |  SELECT event_type, j, value,
       |    CASE $cases ELSE ${BootCdf.size} END AS w
       |  FROM reps
       |), pr AS (
       |  SELECT event_type, j,
       |    ${graft.functions.Exact.sqlSum("CAST(w AS DOUBLE) * value", 6)}
       |      / CAST(SUM(w) AS DOUBLE) AS m
       |  FROM wtd GROUP BY event_type, j
       |), fl AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    ${graft.functions.Exact.sqlAvg("value")} AS mean_full
       |  FROM ev GROUP BY event_type
       |), ci AS (
       |  SELECT event_type,
       |    ROUND(quantile_cont(m, 0.05), 6) AS ci_lo,
       |    ROUND(quantile_cont(m, 0.5), 6) AS ci_mid,
       |    ROUND(quantile_cont(m, 0.95), 6) AS ci_hi
       |  FROM pr GROUP BY event_type
       |)
       |SELECT fl.event_type, fl.n, fl.mean_full, ci.ci_lo, ci.ci_mid,
       |  ci.ci_hi
       |FROM ci JOIN fl USING (event_type)
       |ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------ events_rolling_mau
  // Rolling 7-day active users per day — the DAU/MAU-style engagement
  // series. Distinct-over-a-sliding-window is the classic scale trap
  // (a window frame cannot dedup): the scalable shape is a MAP-SIDE
  // fanout — each active (user, day) feeds the 7 windows ending on
  // day..day+6 — then ONE distinct and ONE count per window end. The
  // fanout is a bounded ×7 on the (user, day)-deduped frame (not raw
  // events), windows are reported only for days with activity, and the
  // whole plan is two hash aggregates; no range join, no per-window
  // re-scan. stickiness = dau/mau7 is the exact-int division idiom.
  private val MauWindowDays = 7

  private def qRollingMau(s: SparkSession, dir: String): DataFrame = {
    // pinned: the deduped (user, day) frame feeds the window fanout, the
    // active-day list, AND the DAU aggregate — one events scan + distinct
    val ud = graft.operators.Iterate.pin(
      Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct())
    val wins = ud
      .withColumn("i", explode(sequence(lit(0), lit(MauWindowDays - 1))))
      .select(col("user_id"), date_add(col("d"), col("i")).as("wd"))
      .distinct()
    val days = ud.select(col("d").as("wd")).distinct()
    val mau = wins.join(days, Seq("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("mau7"))
    val dau = ud.groupBy(col("d").as("wd")).agg(count(lit(1)).as("dau"))
    mau.join(dau, Seq("wd"))
      .select(col("wd").as("day"), col("dau"), col("mau7"),
        (col("dau").cast("double") / col("mau7").cast("double"))
          .as("stickiness"))
      .orderBy(col("day"))
  }

  private val sqlRollingMau: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |), wins AS (
       |  SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS wd
       |  FROM ud CROSS JOIN (SELECT unnest(range(0, $MauWindowDays)) AS i)
       |), days AS (
       |  SELECT DISTINCT d AS wd FROM ud
       |), mau AS (
       |  SELECT wd, CAST(COUNT(*) AS BIGINT) AS mau7
       |  FROM wins JOIN days USING (wd) GROUP BY wd
       |), dau AS (
       |  SELECT d AS wd, CAST(COUNT(*) AS BIGINT) AS dau
       |  FROM ud GROUP BY d
       |)
       |SELECT wd AS day, dau, mau7,
       |  CAST(dau AS DOUBLE) / CAST(mau7 AS DOUBLE) AS stickiness
       |FROM mau JOIN dau USING (wd) ORDER BY day""".stripMargin

  private val sqlPseudonymize: String =
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
      |), p AS (
      |  SELECT CAST(('0x' || substr(md5('p:' || CAST(user_id AS VARCHAR)),
      |    1, 4)) AS BIGINT) AS pid
      |  FROM u
      |), b AS (
      |  SELECT pid, CAST(COUNT(*) AS BIGINT) AS k FROM p GROUP BY pid
      |), m AS (
      |  SELECT CAST(SUM(k) AS BIGINT) AS n_ids,
      |    CAST(COUNT(*) AS BIGINT) AS n_pseudonyms,
      |    CAST(MAX(k) AS BIGINT) AS max_bucket
      |  FROM b
      |)
      |SELECT n_ids, n_pseudonyms, n_ids - n_pseudonyms AS n_collided,
      |  max_bucket,
      |  CAST(n_ids - n_pseudonyms AS DOUBLE) / CAST(n_ids AS DOUBLE)
      |    AS collision_rate
      |FROM m""".stripMargin

  // ------------------------------------------------- events_debounce
  // Telemetry debounce: within each (user, type) stream, keep only the
  // FIRST event of every burst (new burst = gap from the previous event
  // exceeds DebounceMicros). First-of-burst IS the new-burst lag flag,
  // so the operator is one lag window + filter — ONE exchange, one
  // in-partition sort (see Sessionize.debounce).
  private val DebounceMicros = 600000000L // 10 min
  private def qDebounce(s: SparkSession, dir: String): DataFrame =
    Sessionize.debounce(Tables.eventsCached(s, dir), DebounceMicros)

  private val sqlDebounce: String =
    s"""WITH e AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE ts IS NOT NULL
      |), s AS (
      |  SELECT *, lag(ts) OVER (PARTITION BY user_id, event_type
      |                          ORDER BY ts, event_id) AS prev_ts
      |  FROM e
      |)
      |SELECT event_id, user_id, event_type, ts
      |FROM s
      |WHERE prev_ts IS NULL
      |   OR epoch_us(ts) - epoch_us(prev_ts) > $DebounceMicros
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------- events_trend_ols
  // Least-squares trend of the daily revenue series (slope, intercept,
  // R²) — the "is this metric growing" readout behind every dashboard
  // sparkline, and the exact-form complement to the seasonal-naive
  // forecast (events_forecast_naive reports errors, this reports the
  // direction). Shape: ONE exchange to the |days|-row daily frame — and
  // ONE scan of events: x is the raw epoch day (a rebase against
  // min(day) would cost a second full pass for nothing — epoch-day
  // moments over a calendar-bounded |days| frame stay exact: every
  // intermediate is an integer < 2^53, so the double closed form loses
  // nothing). The y moments go through the Exact decimal detour (y is a
  // double) and slope/intercept/R² are a fixed closed-form double
  // expression — the qCorr/qAcf discipline. At any corpus size the
  // per-day partial sums collapse map-side; only |days| rows cross the
  // wire.
  private def qTrendOls(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val daily = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("value"))
      .groupBy(col("day"))
      .agg(Exact.xsum(col("value")).as("y"))
    val m = daily
      .select(col("day").as("x"), col("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        Exact.xsum(col("y")).as("sy"),
        Exact.xsum(col("x") * col("y")).as("sxy"),
        Exact.xsum(col("y") * col("y")).as("syy"))
    val nD  = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val covN  = nD * col("sxy") - sxD * col("sy")
    val varxN = nD * col("sxx").cast("double") - sxD * sxD
    val varyN = nD * col("syy") - col("sy") * col("sy")
    m.select(col("n").as("n_days"),
      (covN / varxN).as("slope"),
      ((col("sy") - (covN / varxN) * sxD) / nD).as("intercept"),
      (covN * covN / (varxN * varyN)).as("r2"))
  }

  private val sqlTrendOls: String = {
    import graft.functions.Exact
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    ${Exact.sqlSum("value")} AS y
       |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
       |  GROUP BY 1
       |), m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(day) AS BIGINT) AS sx,
       |    CAST(SUM(day * day) AS BIGINT) AS sxx,
       |    ${Exact.sqlSum("y")} AS sy,
       |    ${Exact.sqlSum("day * y")} AS sxy,
       |    ${Exact.sqlSum("y * y")} AS syy
       |  FROM daily
       |)
       |SELECT n AS n_days,
       |  (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
       |  (sy - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
       |    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
       |  ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |   * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
       |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |       * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
       |FROM m""".stripMargin
  }

  // ------------------------------------------------- events_gini
  // Gini coefficient of revenue concentration across users — the
  // single-number inequality complement to events_value_pareto's top-
  // decile share. Exact grouped-rank form: users collapse to their
  // exact per-user total (the bit-identical Exact sum), equal totals
  // collapse to (tv, count) groups, and the rank-weighted sum uses
  // Σ_j v_j·(c_j·C_j + c_j(c_j+1)/2) where C_j is the count of users
  // strictly below group j. C_j comes from a TWO-LEVEL prefix sum (the
  // corpus_pad_audit discipline): a global running sum over the tiny
  // |buckets| frame gives each value-bucket's offset, and a window
  // PARTITIONED by bucket gives the within-bucket part — there is never
  // a global sort/window over the user frame. All rank inputs are exact
  // BIGINTs; Gini = 2·S/(n·T) − (n+1)/n is a fixed double expression.
  // Scale note: S ~ mean_tv·n²/2, so beyond ~10⁸ users the srx sum
  // needs scale 0 (9·10¹⁵ decimal headroom) — at the fixture SFs
  // scale 2 is exact.
  private val GiniBucketWidth = 100.0
  private def qGini(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    import org.apache.spark.sql.expressions.Window
    val totals = Tables.eventsCached(s, dir)
      .filter(col("value").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(Exact.xsum(col("value")).as("tv"))
    val g = totals.groupBy(col("tv")).agg(count(lit(1)).as("c"))
      .withColumn("bucket", floor(col("tv") / lit(GiniBucketWidth)))
    val bstats = g.groupBy(col("bucket")).agg(sum(col("c")).as("cb"))
    val wb = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boff = bstats
      .withColumn("coff", coalesce(sum(col("cb")).over(wb), lit(0L)))
      .select(col("bucket"), col("coff"))
    val ww = Window.partitionBy(col("bucket")).orderBy(col("tv"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.join(broadcast(boff), Seq("bucket"))
      .withColumn("cwithin", coalesce(sum(col("c")).over(ww), lit(0L)))
      .select(col("tv"), col("c"), (col("coff") + col("cwithin")).as("cbefore"))
    val m = ranked.agg(
      sum(col("c")).as("n"),
      Exact.xsum(col("tv") * col("c")).as("total_value"),
      Exact.xsum(col("tv") *
        expr("cast(c * cbefore + (c * (c + 1)) div 2 as double)")).as("srx"))
    m.select(col("n").as("n_users"), col("total_value"),
      (lit(2.0) * col("srx")
        / (col("n").cast("double") * col("total_value"))
        - (col("n") + lit(1)).cast("double") / col("n").cast("double"))
        .as("gini"))
  }

  private val sqlGini: String = {
    import graft.functions.Exact
    s"""WITH totals AS (
       |  SELECT user_id, ${Exact.sqlSum("value")} AS tv
       |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY user_id
       |), g AS (
       |  SELECT tv, CAST(COUNT(*) AS BIGINT) AS c,
       |    FLOOR(tv / $GiniBucketWidth) AS bucket
       |  FROM totals GROUP BY tv
       |), b AS (
       |  SELECT bucket, CAST(SUM(c) AS BIGINT) AS cb FROM g GROUP BY bucket
       |), boff AS (
       |  SELECT bucket, COALESCE(CAST(SUM(cb) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |    0) AS coff
       |  FROM b
       |), r AS (
       |  SELECT g.tv, g.c,
       |    boff.coff + COALESCE(CAST(SUM(g.c) OVER (PARTITION BY g.bucket
       |      ORDER BY g.tv
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
       |      0) AS cbefore
       |  FROM g JOIN boff USING (bucket)
       |), m AS (
       |  SELECT CAST(SUM(c) AS BIGINT) AS n,
       |    ${Exact.sqlSum("tv * c")} AS total_value,
       |    ${Exact.sqlSum(
                "tv * CAST(c * cbefore + (c * (c + 1)) // 2 AS DOUBLE)")}
       |      AS srx
       |  FROM r
       |)
       |SELECT n AS n_users, total_value,
       |  2.0 * srx / (CAST(n AS DOUBLE) * total_value)
       |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini
       |FROM m""".stripMargin
  }

  // ------------------------------------------------- events_survival
  // Empirical user-lifetime survival curve: for each horizon day d,
  // the share of users whose observed lifetime (last event − first
  // event) reaches d — the churn diagnostic read before setting a
  // retention window. With every user observed over the full fixture
  // window there is no censoring, so the Kaplan–Meier estimator
  // REDUCES to this empirical curve — count(lifetime ≥ d)/n — which is
  // one exact division per horizon instead of an ordered cumulative
  // product of doubles (cross-engine-fragile). Shape: one user-keyed
  // exchange for (first, last), then a broadcast |horizons|-row dim
  // expands each user to its surviving horizons; partial counts
  // collapse map-side, so the expansion never materializes.
  private val SurvMaxDay = 14
  private def qSurvival(s: SparkSession, dir: String): DataFrame = {
    val lt = Tables.eventsCached(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(expr("(max(unix_micros(ts)) - min(unix_micros(ts)))" +
        " div 86400000000").as("lifetime_days"))
    val n = lt.agg(count(lit(1)).as("n_users"))
    val days = s.range(0, SurvMaxDay + 1L).select(col("id").as("day"))
    lt.crossJoin(broadcast(days))
      .filter(col("lifetime_days") >= col("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_surviving"))
      .crossJoin(broadcast(n))
      .select(col("day"), col("n_surviving"),
        (col("n_surviving").cast("double") / col("n_users").cast("double"))
          .as("surviving_share"))
      .orderBy(col("day"))
  }

  private val sqlSurvival: String =
    s"""WITH lt AS (
       |  SELECT user_id,
       |    (MAX(epoch_us(CAST(ts AS TIMESTAMP)))
       |     - MIN(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000
       |      AS lifetime_days
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |  GROUP BY user_id
       |), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM lt),
       |s AS (
       |  SELECT d.day, CAST(COUNT(*) AS BIGINT) AS n_surviving
       |  FROM lt, range(0, ${SurvMaxDay + 1}) d(day)
       |  WHERE lt.lifetime_days >= d.day GROUP BY d.day
       |)
       |SELECT day, n_surviving,
       |  CAST(n_surviving AS DOUBLE) / CAST(n_users AS DOUBLE)
       |    AS surviving_share
       |FROM s, n ORDER BY day""".stripMargin

  // ------------------------------------------------- events_changepoint
  // Binary-segmentation first split over the daily event-count series:
  // for every candidate split k the CUSUM-style statistic
  // |n·S_k − k·S_n| / sqrt(k(n−k)) scores how far the prefix mean
  // diverges from the global mean — the level-shift detector run before
  // trusting a trend fit (events_trend_ols) across a regime change. The
  // numerator stays an exact BIGINT (never a mean subtraction in
  // double); only the final normalization is IEEE. Shape: one exchange
  // to the |days| frame, one ordered window for the prefix sums (the
  // qAcf |days|-frame idiom — at any corpus size this frame is
  // calendar-bounded), top-k via TakeOrderedAndProject.
  private val ChangepointTopK = 3
  private def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .filter(col("ts").isNotNull)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("cnt"))
    val tot = daily.agg(count(lit(1)).as("nd"), sum(col("cnt")).as("tot"))
    val wk = Window.orderBy(col("day"))
    val ws = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("k", row_number().over(wk).cast("long"))
      .withColumn("sk", sum(col("cnt")).over(ws))
      .crossJoin(broadcast(tot))
      .filter(col("k") < col("nd"))
      .select(col("day"), col("k"),
        (abs(col("nd") * col("sk") - col("k") * col("tot")).cast("double")
          / sqrt((col("k") * (col("nd") - col("k"))).cast("double")))
          .as("score"))
      .orderBy(col("score").desc, col("day"))
      .limit(ChangepointTopK)
  }

  private val sqlChangepoint: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1
       |), t AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
       |    CAST(SUM(cnt) AS BIGINT) AS tot
       |  FROM daily
       |), c AS (
       |  SELECT day,
       |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k,
       |    CAST(SUM(cnt) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS sk
       |  FROM daily
       |)
       |SELECT day, k,
       |  CAST(ABS(nd * sk - k * tot) AS DOUBLE)
       |    / sqrt(CAST(k * (nd - k) AS DOUBLE)) AS score
       |FROM c, t WHERE k < nd
       |ORDER BY score DESC, day LIMIT $ChangepointTopK""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_bursts", (s, d) => Sessionize.bursts(Tables.events(s, d)),
      Sessionize.sqlBursts),
    QuerySpec("events_dow_profile", (s, d) => Sessionize.dowProfile(Tables.events(s, d)),
      Sessionize.sqlDowProfile),
    QuerySpec("events_redact", (s, d) => TrainingData.redact(Tables.eventsCached(s, d)),
      TrainingData.sqlRedact),
    QuerySpec("events_bootstrap", qBootstrap _, sqlBootstrap),
    QuerySpec("events_rolling_mau", qRollingMau _, sqlRollingMau),
    QuerySpec("events_psi", qPsi _, sqlPsi),
    QuerySpec("events_seasonal", qSeasonal _, sqlSeasonal),
    QuerySpec("events_ewma", qEwma _, sqlEwma),
    QuerySpec("events_locf", qLocf _, sqlLocf),
    QuerySpec("events_compact", qCompact _, sqlCompact),
    QuerySpec("events_user_entropy", qUserEntropy _, sqlUserEntropy),
    QuerySpec("events_hill_tail", qHillTail _, sqlHillTail),
    QuerySpec("events_time_to_convert", qTimeToConvert _, sqlTimeToConvert),
    QuerySpec("events_bot_score", qBotScore _, sqlBotScore),
    QuerySpec("events_threshold_cross", qThresholdCross _, sqlThresholdCross),
    QuerySpec("events_streak", qStreak _, sqlStreak),
    QuerySpec("events_wow_change", qWowChange _, sqlWowChange),
    QuerySpec("events_rolling_median", qRollingMedian _, sqlRollingMedian),
    QuerySpec("events_new_returning", qNewReturning _, sqlNewReturning),
    QuerySpec("events_winsorize", qWinsorize _, sqlWinsorize),
    QuerySpec("events_anomaly", qAnomaly _, sqlAnomaly),
    QuerySpec("events_cooccur", qCooccur _, sqlCooccur),
    QuerySpec("events_transitions", qTransitions _, sqlTransitions),
    QuerySpec("events_top_paths", qTopPaths _, sqlTopPaths),
    QuerySpec("events_forecast_naive", qForecastNaive _, sqlForecastNaive),
    QuerySpec("events_active_users", qActiveUsers _, sqlActiveUsers),
    QuerySpec("events_cohort_ltv", qCohortLtv _, sqlCohortLtv),
    QuerySpec("events_benford", qBenford _, sqlBenford),
    QuerySpec("events_value_pareto", qValuePareto _, sqlValuePareto),
    QuerySpec("events_debounce", qDebounce _, sqlDebounce),
    QuerySpec("events_sequences", qSequences _, sqlSequences),
    QuerySpec("events_ema", qEma _, sqlEma),
    QuerySpec("events_corr", qCorr _, sqlCorr),
    QuerySpec("events_acf", qAcf _, sqlAcf),
    QuerySpec("events_abtest", qAbTest _, sqlAbTest),
    QuerySpec("events_cumulative_users", qCumulativeUsers _, sqlCumulativeUsers),
    QuerySpec("events_stickiness", qStickiness _, sqlStickiness),
    QuerySpec("events_pseudonymize", qPseudonymize _, sqlPseudonymize),
    QuerySpec("events_chi2", qChi2 _, sqlChi2),
    // the incremental merge must equal the full hourly recompute —
    // its oracle IS the from-scratch rollup
    QuerySpec("events_cramer", qCramer _, sqlCramer),
    QuerySpec("events_kanon", qKAnon _, sqlKAnon),
    QuerySpec("events_tcloseness", qTCloseness _, sqlTCloseness),
    QuerySpec("events_dispersion", qDispersion _, sqlDispersion),
    QuerySpec("events_entropy_rate", qEntropyRate _, sqlEntropyRate),
    QuerySpec("events_ldiversity", qLDiversity _, sqlLDiversity),
    QuerySpec("events_late_arrivals", qLateArrivals _, sqlLateArrivals),
    QuerySpec("events_drift", qDrift _, sqlDrift),
    QuerySpec("events_gapfill", qGapfill _, sqlGapfill),
    QuerySpec("events_cuped", qCuped _, sqlCuped),
    QuerySpec("events_forecast_interval", qForecastInterval _, sqlForecastInterval),
    QuerySpec("events_markov_stationary", qMarkovStationary _, sqlMarkovStationary),
    QuerySpec("events_burstiness", qBurstiness _, sqlBurstiness),
    QuerySpec("events_srm", qSrm _, sqlSrm),
    QuerySpec("events_did", qDid _, sqlDid),
    QuerySpec("events_mde", qMde _, sqlMde),
    QuerySpec("events_mad", qMad _, sqlMad),
    QuerySpec("events_seasonality", qSeasonality _, sqlSeasonality),
    QuerySpec("events_attribution", qAttribution _, sqlAttribution),
    QuerySpec("events_agg_merge", qAggMerge _, sqlAggMerge),
    QuerySpec("events_rfm", qRfm _, sqlRfm),
    QuerySpec("events_gap_stats", qGapStats _, sqlGapStats),
    QuerySpec("events_trend_ols", qTrendOls _, sqlTrendOls),
    QuerySpec("events_gini", qGini _, sqlGini),
    QuerySpec("events_survival", qSurvival _, sqlSurvival),
    QuerySpec("events_changepoint", qChangepoint _, sqlChangepoint),
    QuerySpec("events_multitouch", qMultiTouch _, sqlMultiTouch),
  )
}
