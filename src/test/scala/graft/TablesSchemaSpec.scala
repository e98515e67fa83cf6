package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The fixture-drift contract: every `Tables` loader yields exactly its
  * declared logical schema over the on-disk fixture, adapts the drift
  * classes that have shipped before (width, NTZ, nanos-as-long), and fails
  * FAST — naming the table and column — on drift it cannot adapt. A
  * failure here names the broken table directly, instead of surfacing as
  * 20 downstream analysis errors in the oracle gate.
  */
class TablesSchemaSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private def shape(s: StructType): Seq[(String, DataType)] =
    s.fields.toIndexedSeq.map(f => f.name -> f.dataType)

  for ((table, load) <- loaders.toSeq.sortBy(_._1))
    test(s"$table: loader output matches the declared logical schema") {
      assert(shape(load(spark, dir).schema) ===
        shape(Tables.logicalSchema(table)),
        s"on-disk fixture: ${spark.read.parquet(s"$dir/$table.parquet").schema.simpleString}")
    }

  test("width drift (int/float narrowing on disk) is adapted by cast") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_drift").toString
    Tables.customer(spark, dir)
      .select(col("c_custkey").cast("int").as("c_custkey"), col("c_name"),
        col("c_nationkey").cast("short").as("c_nationkey"),
        col("c_acctbal").cast("float").as("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val adapted = Tables.customer(spark, tmp)
    assert(shape(adapted.schema) === shape(Tables.logicalSchema("customer")))
    assert(adapted.count() === Tables.customer(spark, dir).count())
  }

  test("predicate pushdown reaches the scan through the drift projection") {
    // normalization is a plain projection, so a filter on an unadapted
    // column must still land in the parquet scan's PushedFilters even
    // when a sibling column is being width-cast — the scale property the
    // adaptive reader must not cost
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_drift_pd").toString
    Tables.customer(spark, dir)
      .select(col("c_custkey").cast("int").as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val q = Tables.customer(spark, tmp)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_mktsegment"))
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
  }

  test("unadaptable drift fails fast, naming the table and column") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_drift2").toString
    Tables.region(spark, dir)
      .select(col("r_regionkey").cast("string").as("r_regionkey"), col("r_name"))
      .write.mode("overwrite").parquet(s"$tmp/region.parquet")
    val e = intercept[IllegalStateException](Tables.region(spark, tmp))
    assert(e.getMessage.contains("region.r_regionkey"), e.getMessage)
  }

  test("missing column fails fast, naming the table and column") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft_drift3").toString
    Tables.region(spark, dir).select(col("r_name"))
      .write.mode("overwrite").parquet(s"$tmp/region.parquet")
    val e = intercept[IllegalStateException](Tables.region(spark, tmp))
    assert(e.getMessage.contains("region.r_regionkey"), e.getMessage)
  }
}
