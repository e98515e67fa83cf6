package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-check dump for the Louvain level-chain oracles in the ONE
  * regime the test fixtures mask: accepted merges with UNEVEN group
  * sizes. The round-9 ADVICE found `sqlLouvainLevels`' contraction
  * joining the accumulated map (one row per FINE community) instead of
  * the per-label step map — an inflation of SUM(w)/SUM(k) by
  * non-uniform group-size products that the fixtures hid because their
  * level 3 stalls either way. This main writes a merge-accepting uneven
  * toy graph plus the ENGINE results and oracle SQL texts in the layout
  * `tools/check.py` (the local mirror of the driver's DuckDB gate)
  * consumes:
  *
  * {{{
  * sbt "runMain graft.LouvainOracleDump target/louvain_oracle_toy"
  * CHECK_OUT=tools/check_louvain_r10.json \
  *   python3 tools/check.py target/louvain_oracle_toy/tables \
  *                          target/louvain_oracle_toy/out
  * }}}
  *
  * The committed `tools/check_louvain_r10.json` is that run's evidence,
  * and `tools/louvain_ab.py` (evidence
  * `tools/check_louvain_r10_ab.json`) proves the net is POTENT: it
  * textually regenerates the pre-round-10 map-join contraction from the
  * dumped clean oracle and shows DuckDB produce a DIFFERENT level-3 row
  * on this very toy (the buggy text even reports a NEGATIVE level-3
  * gain — a merge the engine's monotone-Q guard forbids).
  * `Round10Spec` pins the toy's regime (level 1 must accept merges
  * with unequal member counts) so the evidence can't silently stop
  * exercising it.
  */
object LouvainOracleDump {

  /** A 6×6 bipartite graph (custs 1..6 × supps 1..6, 20 edges) found
    * by random search (`seed=1, trial=29` of the A/B sweep) to be the
    * full divergence witness: local moving leaves 7 fine communities,
    * the level chain then accepts merges at ALL three levels
    * (7 → 4 → 3 → 2) with level-1 group sizes [3, 2, 1, 1] — and under
    * the pre-round-10 map-join contraction the level-3 step flips to a
    * different merge with NEGATIVE gain (clean q3 0.1200 / within 28 vs
    * buggy q3 0.09875 / within 30). */
  def toy(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val orders = (1L to 6L).map(c => (c * 100, c))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L),
      (200L, 2L), (200L, 4L), (200L, 5L), (200L, 6L),
      (300L, 2L), (300L, 3L), (300L, 5L), (300L, 6L),
      (400L, 1L), (400L, 2L), (400L, 4L),
      (500L, 1L), (500L, 4L), (500L, 5L),
      (600L, 1L), (600L, 6L)
    ).toDF("l_orderkey", "l_suppkey")
    (orders, lineitem)
  }

  /** Write `df` as the single parquet FILE `dst` (check.py registers
    * one DuckDB view per file, the fixture layout). */
  private def writeOne(df: DataFrame, dst: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staging = Scratch.dir("graft_dump")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val listing = Files.list(staging)
    val src =
      try {
        val it = listing.iterator()
        var found: java.nio.file.Path = null
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet")) found = p
        }
        found
      } finally listing.close()
    require(src != null, s"no parquet part under $staging")
    val tgt = Paths.get(dst)
    Files.createDirectories(tgt.getParent)
    Files.move(src, tgt, StandardCopyOption.REPLACE_EXISTING)
    // drop the staging dir and its _SUCCESS/.crc leftovers
    val rest = Files.list(staging)
    try rest.iterator().forEachRemaining(p => Files.delete(p))
    finally rest.close()
    Files.delete(staging)
  }

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("target/louvain_oracle_toy")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (orders, lineitem) = toy(spark)
    writeOne(orders, s"$out/tables/orders.parquet")
    writeOne(lineitem, s"$out/tables/lineitem.parquet")
    operators.Graph.louvainLevelsCached(orders, lineitem)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$out/out/graph_louvain_levels")
    operators.Graph.louvainRefineCached(orders, lineitem)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$out/out/graph_louvain_refine")
    val json = Map(
      "graph_louvain_levels" -> operators.Graph.sqlLouvainLevels(),
      "graph_louvain_refine" -> operators.Graph.sqlLouvainRefine())
      .map { case (k, v) => s"${Verify.q(k)}: ${Verify.q(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/out/oracle_sql.json"), json)
    spark.stop()
  }
}
