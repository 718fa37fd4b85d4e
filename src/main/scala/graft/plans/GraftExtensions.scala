package graft.plans

import graft.functions.VectorFunctions
import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions, the HOF→native optimizer rewrite, the as-of
  * join planner strategy and, under AQE, the in-place tiny sort
  * ([[TinySort]]). Enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    VectorFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => NativeVectorRewrite)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectQueryStagePrepRule(TinySort)
  }
}
