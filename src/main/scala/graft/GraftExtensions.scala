package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{StringSim, TextExprs, VectorExprs}

/** `SparkSessionExtensions` entry point: sessions built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.GraftExtensions`) get the engine's custom
  * expressions as SQL functions without any runtime registration call.
  * The functions come from the same tables `VectorExprs.register`,
  * `StringSim.register` and `TextExprs.register` read at runtime.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinPhys.AsOfJoinStrategy)
    (VectorExprs.builders ++ StringSim.builders ++ TextExprs.builders)
      .foreach { case (name, build) =>
        e.injectFunction((FunctionIdentifier(name),
          new ExpressionInfo(build.getClass.getName, name), build))
      }
  }
}
