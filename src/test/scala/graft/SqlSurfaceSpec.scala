package graft

import org.apache.spark.sql.SparkSession

/** The SQL surface: users can run the engine through `spark.sql` — temp
  * views over the fixture tables, and the custom functions both via runtime
  * registration and via `GraftExtensions` on a fresh session.
  */
class SqlSurfaceSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  test("spark.sql over registered views matches the DataFrame API") {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    val viaSql = spark.sql(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)
    val viaApi = SparkEntry.queries("q4_semi_join")(spark, dir)
      .select("c_custkey", "c_name")
    assert(viaSql.exceptAll(viaApi).count() == 0)
    assert(viaApi.exceptAll(viaSql).count() == 0)
  }

  test("custom expressions callable from SQL after registration") {
    graft.functions.VectorExprs.register(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    val r = spark.sql(
      """SELECT vec_id, graft_dot_f(embedding, embedding) AS norm2
        |FROM embeddings WHERE vec_id < 3 ORDER BY vec_id""".stripMargin)
      .collect()
    assert(r.length == 3 && r.forall(_.getDouble(1) > 0))
  }

  test("registering twice keeps every function's first builder") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    graft.functions.VectorExprs.register(spark)
    graft.functions.VectorExprs.register(spark)
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    for ((name, build) <- graft.functions.VectorExprs.builders)
      assert(reg.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq build),
        s"$name was replaced")
  }

  test("graft_dot_l matches the interpreted fold, incl. null and mismatch") {
    graft.functions.VectorExprs.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot_l(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS ok,
        |  graft_dot_l(array(1L, 2L), array(4L)) AS mismatch,
        |  graft_dot_l(array(1L, CAST(NULL AS BIGINT)), array(4L, 5L))
        |    AS withnull""".stripMargin).collect().head
    assert(r.getLong(0) == 4L + 10L + 18L)
    assert(r.isNullAt(1), "length mismatch must yield NULL")
    assert(r.isNullAt(2), "null element must propagate")
  }

  test("GraftExtensions applies cleanly (injection surface)") {
    // a second in-JVM session shares the existing context and ignores new
    // extensions, so exercise the injection calls directly; SQL-callable
    // behavior of the same builders is covered by the registration test
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("quantile sketch and pair expand from SQL") {
    graft.functions.VectorExprs.register(spark)
    val q = spark.sql(
      """SELECT graft_quantile_sketch(v, array(0.5D), 100) AS qs
        |FROM (SELECT explode(sequence(1, 9)) AS v)""".stripMargin)
      .collect().head.getSeq[Double](0)
    assert(q == Seq(5.0))
    val pairs = spark.sql(
      "SELECT graft_pair_expand(array(1L, 2L, 3L)) AS (a, b)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("intersect_count_sorted from SQL") {
    graft.functions.VectorExprs.register(spark)
    val out = spark.sql(
      "SELECT graft_intersect_count_sorted(array(1L,2L,3L), array(2L,3L,4L))")
      .collect().head.getInt(0)
    assert(out == 2)
  }
}
