package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.operators.Profile
import Shared.docs

/** The `profile_*` queries: column profiling, dependency and reference
  * checks, histograms. */
object ProfileQueries extends QueryFamily("profile") {

  // ------------------------------------------------- profile_eqdepth
  // Equi-depth (quantile-bucketed) histogram of the event values — the
  // profiling complement to profile_histogram's fixed-width buckets:
  // edges adapt to the distribution so each bucket carries comparable
  // mass. Edges are the q23 rounded-percentile idiom (bit-identical
  // cross-engine BEFORE any comparison); assignment is one broadcast
  // scalar row + a map-side CASE.
  private def qEqdepth(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("value").isNotNull)
    val cuts = ev.agg(
      round(expr("percentile(value, 0.25)"), 4).as("q1"),
      round(expr("percentile(value, 0.5)"), 4).as("q2"),
      round(expr("percentile(value, 0.75)"), 4).as("q3"))
    ev.crossJoin(broadcast(cuts))
      .select(
        when(col("value") <= col("q1"), 0L)
          .when(col("value") <= col("q2"), 1L)
          .when(col("value") <= col("q3"), 2L)
          .otherwise(3L).as("bucket"),
        col("value"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_values"),
        xsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("bucket"))
  }

  private val sqlEqdepth: String =
    s"""WITH cuts AS (
       |  SELECT ROUND(quantile_cont(value, 0.25), 4) AS q1,
       |    ROUND(quantile_cont(value, 0.5), 4) AS q2,
       |    ROUND(quantile_cont(value, 0.75), 4) AS q3
       |  FROM events WHERE value IS NOT NULL
       |)
       |SELECT CASE WHEN value <= q1 THEN 0 WHEN value <= q2 THEN 1
       |    WHEN value <= q3 THEN 2 ELSE 3 END AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_values,
       |  ${sqlSum("value")} AS sum_value,
       |  MIN(value) AS min_value, MAX(value) AS max_value
       |FROM events CROSS JOIN cuts
       |WHERE value IS NOT NULL
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Referential-integrity audit across the star schema's six FK edges —
    * the dbt-style `relationships` test a lake pipeline runs before
    * trusting joins (an orphaned fact row silently vanishes from every
    * inner join downstream). Parents are thinned by `pk % 97 <> 0`
    * (the `scd_overlap_audit` convention: the fixture is
    * integrity-clean by construction, so the audit synthesizes the
    * defect class to prove both verdicts fire; run with the filter off
    * in production).
    *
    * Orphans are counted with a LEFT JOIN + IS NULL (anti join) — never
    * NOT IN, whose three-valued NULL semantics silently un-orphans
    * NULL FKs. Scale shape per edge: dimension keysets broadcast into
    * the anti probe; the one fact-sized parent (orders) anti-joins on
    * its shuffle key. Six thin scalar aggregates union into the report.
    */
  private val riEdges = Seq(
    ("cust_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("li_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("li_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("li_supp", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("ord_cust", "orders", "o_custkey", "customer", "c_custkey"),
    ("supp_nation", "supplier", "s_nationkey", "nation", "n_nationkey"))

  private def qRefIntegrity(s: SparkSession, dir: String): DataFrame = {
    def tbl(n: String): DataFrame = n match {
      case "lineitem" => Tables.lineitem(s, dir)
      case "orders"   => Tables.orders(s, dir)
      case "customer" => Tables.customer(s, dir)
      case "supplier" => Tables.supplier(s, dir)
      case "part"     => Tables.part(s, dir)
      case "nation"   => Tables.nation(s, dir)
    }
    riEdges.map { case (e, ct, fk, pt, pk) =>
      val par = tbl(pt).select(col(pk).as("pk"))
        .filter(col("pk") % 97 =!= 0).distinct()
      val ch = tbl(ct).select(col(fk).as("fk"))
      ch.agg(count(lit(1)).as("n_child"))
        .crossJoin(broadcast(par.agg(count(lit(1)).as("n_parents"))))
        .crossJoin(broadcast(ch.join(par, col("fk") === col("pk"),
            "left_anti")
          .agg(count(lit(1)).as("n_orphans"))))
        .select(lit(e).as("edge"), col("n_child"), col("n_parents"),
          col("n_orphans"))
    }.reduce(_ unionByName _).orderBy(col("edge"))
  }

  private val sqlRefIntegrity: String = riEdges.map {
    case (e, ct, fk, pt, pk) =>
      s"""SELECT '$e' AS edge,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ct) AS n_child,
         |  (SELECT CAST(COUNT(DISTINCT $pk) AS BIGINT) FROM $pt
         |   WHERE $pk % 97 <> 0) AS n_parents,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ct c
         |   LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $pt
         |              WHERE $pk % 97 <> 0) p
         |   ON c.$fk = p.pk WHERE p.pk IS NULL) AS n_orphans""".stripMargin
  }.mkString("\nUNION ALL\n") + "\nORDER BY edge"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("profile_skew", (s, d) => Profile.keySkew(Tables.lineitem(s, d), "l_partkey"),
      Profile.sqlKeySkew("lineitem", "l_partkey")),
    QuerySpec("profile_checks", (s, d) =>
      Profile.expectations(Tables.lineitem(s, d), Tables.orders(s, d)),
      Profile.sqlExpectations),
    QuerySpec("profile_fd", (s, d) =>
      Profile.fdAudit(Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d)),
      Profile.sqlFdAudit),
    QuerySpec("profile_corr_matrix", (s, d) => Profile.corrMatrix(Tables.lineitem(s, d)),
      Profile.sqlCorrMatrix),
    QuerySpec("profile_mi", (s, d) => Profile.mutualInfo(docs(s, d)), Profile.sqlMutualInfo),
    QuerySpec("profile_ref_integrity", qRefIntegrity _, sqlRefIntegrity),
    QuerySpec("profile_histogram", (s, d) => Profile.histogram(Tables.lineitem(s, d)),
      Profile.sqlHistogram),
    QuerySpec("profile_eqdepth", qEqdepth _, sqlEqdepth),
    QuerySpec("profile_top_values", (s, d) =>
      Profile.topValues(Tables.lineitem(s, d), Tables.orders(s, d)),
      Profile.sqlTopValues),
  )
}
