package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session extensions for cluster deployments: injects the whole
  * [[GraftRuntime]] catalog so SQL users get graft's functions,
  * strategies and rewrite without touching the session builder code —
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftRuntime.sqlFunctions.foreach(f =>
      e.injectFunction((f.identifier, f.info, f.builder)))
    GraftRuntime.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
    // operator-optimization batch: fires on the clean Filter-over-
    // Window shape, before Spark's own InferWindowGroupLimit
    GraftRuntime.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
  }
}
