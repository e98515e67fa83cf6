package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Bucketed co-located joins — the storage-layout half of the shuffle
  * story. Every other join in this library either broadcasts a small
  * side or pays one exchange per side; bucketing is Spark's answer when
  * BOTH sides are fact-scale and the join repeats: write each table
  * pre-hash-partitioned (and sorted) on the join key into N buckets, and
  * every future join on that key reads matching buckets side by side —
  * zero exchange, zero sort, forever. At 100 TB this is the difference
  * between re-shuffling two fact tables per query and an embarrassingly
  * parallel per-bucket merge: the shuffle is paid ONCE at write time and
  * amortized over every consumer (the same trade Hive bucketing and
  * Iceberg/Delta clustered layouts make).
  *
  * The demo keeps the written projection thin (join key + the consumed
  * columns) — bucketing does not excuse reading columns a query never
  * touches — and `PlanShapeSpec` pins the plan: a SortMergeJoin whose
  * children carry NO Exchange; the only exchanges in the query belong
  * to the aggregation above the join. (Spark ≥ 3 still re-sorts each
  * bucket in-partition unless the legacy
  * `bucketedTableScan.outputOrdering` flag is on — a local, network-free
  * sort; the eliminated exchange is the cost that matters at 100 TB.)
  */
object Bucketing {

  val NBuckets = 8

  /** (orders table, lineitem table) names, written once per
    * (session, dir) through [[graft.Memo.owned]]. External-path tables
    * under a run-local scratch dir keep the repository tree clean; the
    * names carry that dir's own name, so no two entries (sessions share
    * one catalog) ever write the same table. Dropping the entry drops
    * both tables and deletes the dir.
    */
  def tables(spark: SparkSession, dir: String): (String, String) = {
    val (oT, lT, _) = graft.Memo.owned(spark, s"bucket.tables:$dir") {
      val base = graft.Scratch.dir("graft_bkt")
      val Seq(oT, lT) =
        Seq("orders", "lineitem").map(t => s"${base.getFileName}_$t")
      // repartition on the bucket key FIRST: task hash partitioning and
      // bucket assignment use the same murmur3 hash, so each bucket lands
      // in exactly one file — the one-file-per-bucket layout Spark
      // requires to reuse the written sort order (multi-file buckets
      // would re-insert a Sort above the scan)
      graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .repartition(NBuckets, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(NBuckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(oT)
      graft.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"),
          col("l_discount"))
        .repartition(NBuckets, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(NBuckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(lT)
      (oT, lT, base)
    } { case (oT, lT, base) =>
      Seq(oT, lT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.Scratch.deleteTree(base)
    }
    (oT, lT)
  }

  /** Per-orderstatus revenue through the bucketed join: the classic
    * fact⋈fact rollup, its join running exchange-free over the
    * co-located buckets. Results are identical to the plain parquet
    * join — bucketing is a LAYOUT choice, not a semantics change —
    * which is exactly what the oracle asserts.
    */
  def bucketJoin(spark: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = tables(spark, dir)
    spark.table(lT)
      .join(spark.table(oT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
        Exact.xsum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  def sqlBucketJoin: String =
    s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items,
       |  ${Exact.sqlSum(
           "l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin
}
