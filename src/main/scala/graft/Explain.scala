package graft

/** Plan-inspection main: dump `.explain("formatted")` for every registered
  * query so scan pushdown (PushedFilters / ReadSchema), join strategies,
  * shuffle counts, and WholeStageCodegen spans can be reviewed.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName…]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
