package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions registration for the engine's native
  * expressions — makes them first-class SQL functions
  * (`SELECT cosine_sim(a, b)`) — and for the planner strategy of
  * [[PrefixPass]], in any session built with
  * `.withExtensions(new GraftExtensions)` (Graft.envSession does this),
  * or via `spark.sql.extensions=graft.functions.GraftExtensions` on a
  * cluster. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => PrefixPassStrategy)
    e.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(arrayA, arrayB) - cosine similarity, 0.0 on zero norm"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(arrayA, arrayB) - double-precision dot product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
  }
}
