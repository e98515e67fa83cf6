package graft

/** Ad-hoc planning-vs-execution profiler: times analysis+optimization
  * (executedPlan materialization) separately from the action, per query.
  * Usage: runMain graft.Prof <sfDir> <query> [query…]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { n =>
      (1 to 2).foreach { pass =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analyze + optimize + plan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        println(f"$n pass$pass: build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f")
      }
    }
    spark.stop()
  }
}
