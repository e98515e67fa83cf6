package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Sketch, TextOps}

/** The `sketch_*` queries: approximate aggregates and their exact twins. */
object SketchQueries extends QueryFamily("sketch") {

  // --------------------------------------------------- sketch_distinct
  // Distinct-count sketch (HLL++) + approximate-percentile sketch,
  // oracled by CONTRACT instead of by value: HLL register layouts and
  // KLL compaction schedules differ across engines, so the raw estimates
  // can never hash-match — what IS cross-engine checkable is the error
  // BOUND each sketch promises. The query emits the exact answers (which
  // DuckDB reproduces) plus one boolean per sketch asserting the
  // estimate honors its bound (rsd 0.01 HLL given 5× headroom; the
  // approx p50 must land within the exact p45..p55 value band). The
  // DuckDB side asserts TRUE — so a sketch drifting out of contract
  // fails the hash gate. The value-exact twin is sketch_kmv (same
  // distinct-count task, cross-engine-identical KMV estimator); the
  // exact companion is q19_distinct_topn.
  private def qSketch(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.01).as("hll"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("ap50"),
        expr("percentile(l_extendedprice, 0.45)").as("p45"),
        expr("percentile(l_extendedprice, 0.55)").as("p55"))
      .select(col("l_returnflag"), col("n"), col("exact_parts"),
        (abs(col("hll") - col("exact_parts")).cast("double") <=
          col("exact_parts").cast("double") * 0.05)
          .as("hll_within_bound"),
        (col("ap50") >= col("p45") && col("ap50") <= col("p55"))
          .as("p50_within_bound"))
      .orderBy(col("l_returnflag"))

  private val sqlSketch: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS hll_within_bound,
      |  TRUE AS p50_within_bound
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------- sketch_kmv
  // KMV distinct sketch (operators.Sketch) — the VALUE-exact companion
  // to sketch_distinct's contract-oracled HLL: same shared md5 hash on
  // both engines, so the ESTIMATE itself hash-matches.
  private def qKmv(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketch.kmvDistinct(
      Tables.lineitem(s, dir), "l_returnflag", "l_partkey")

  private val sqlKmv: String =
    graft.operators.Sketch.sqlKmvDistinct("lineitem", "l_returnflag", "l_partkey")

  // ------------------------------------------------- sketch_percentile
  // Bounded-state quantile sketch (functions.QuantileSketch): exact under
  // capacity — the sf0.01 oracle regime, where it reproduces quantile_cont
  // interpolation bit for bit — and KLL-style compacted beyond (the sf0.1
  // bench regime exercises the approximate path).
  private def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(call_function(graft.functions.VectorExprs.QuantileName,
        col("l_extendedprice"), array(lit(0.5), lit(0.9)), lit(16384))
        .as("qs"))
      // RAW interpolated doubles, no ROUND: rounding an IEEE quotient at a
      // fixed decimal scale diverges across engines exactly at decimal
      // ties (Spark HALF_UPs the shortest-decimal repr, DuckDB rounds in
      // binary) — the suite's no-round-after-division convention.
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).as("p50"),
        element_at(col("qs"), 2).as("p90"))
      .orderBy(col("l_returnflag"))
  }

  private val sqlQuantileSketch: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50,
      |  quantile_cont(l_extendedprice, 0.9) AS p90
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------- sketch_heavy_hitters
  // Misra–Gries heavy hitters (TypedImperativeAggregate) over document
  // tokens. The fixture vocabulary (31 tokens) is under the sketch capacity,
  // so estimates are exact and the top-k hash-matches a plain
  // count-group-sort oracle. At real scale the same plan holds with bounded
  // state where the oracle's full groupBy would not.
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    Tables.documents(s, dir)
      // _outer: split() never yields an empty/null array, so this is
      // explode minus the inferred size(...)>0 filter (which would
      // re-evaluate split once more below the Generate).
      .select(explode_outer(TextOps.words(col("text"))).as("token"))
      .agg(call_function(graft.functions.VectorExprs.HeavyName,
        col("token"), lit(10), lit(256)).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.token").as("token"), col("h.est_count").as("est_count"))
      .orderBy(col("est_count").desc, col("token"))
  }

  private[queries] val sqlHeavyHitters: String =
    """SELECT token, COUNT(*) AS est_count
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token
      |ORDER BY est_count DESC, token
      |LIMIT 10""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sketch_distinct", qSketch _, sqlSketch),
    QuerySpec("sketch_kmv", qKmv _, sqlKmv),
    QuerySpec("sketch_heavy_hitters", qHeavyHitters _, sqlHeavyHitters),
    QuerySpec("sketch_percentile", qQuantileSketch _, sqlQuantileSketch),
    QuerySpec("sketch_countmin", (s, d) => Sketch.countMin(Tables.eventsCached(s, d), "user_id"),
      Sketch.sqlCountMin("events", "user_id")),
    QuerySpec("sketch_f2_ams", (s, d) => Sketch.amsF2(Tables.eventsCached(s, d), "user_id"),
      Sketch.sqlAmsF2("events", "user_id")),
    QuerySpec("sketch_join_est", (s, d) =>
      Sketch.kmvJoinEstimate(Tables.customer(s, d), "c_custkey", Tables.orders(s, d), "o_custkey"),
      Sketch.sqlKmvJoinEstimate("customer", "c_custkey", "orders", "o_custkey")),
  )
}
