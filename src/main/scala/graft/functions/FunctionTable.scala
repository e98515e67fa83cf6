package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Session registration for the engine's custom expressions. Each of
  * [[VectorExprs]], [[StringSim]] and [[TextExprs]] declares one table of
  * (SQL name → expression builder); runtime registration and
  * [[graft.GraftExtensions]] both read those tables.
  */
private[graft] object FunctionTable {
  type Builder = Seq[Expression] => Expression

  /** Register every function of `table` the session's registry does not
    * hold yet. A repeated call changes nothing, so the registry keeps the
    * first builder and Spark logs no replacement.
    */
  def registerMissing(spark: SparkSession, table: Seq[(String, Builder)]): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    table.foreach { case (name, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
