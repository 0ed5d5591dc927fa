package graft

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Session-extension entry point: ship the engine's native expressions and
 * the per-cast kernel planner strategy to every session on a cluster with
 *
 *   spark.sql.extensions=graft.GraftExtensions
 *
 * (For an already-running session, `org.apache.spark.sql.catalyst.expressions.graftgsw.GswExpressions
 * .registerInto(spark)` does the same for the expressions; every kernel op
 * registers the strategy on its own session.)
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.catalyst.expressions.graftgsw.GswExpressions.all.foreach(ext.injectFunction)
    org.apache.spark.sql.catalyst.expressions.graftarray.ArrayMathExpressions.all.foreach(ext.injectFunction)
    org.apache.spark.sql.catalyst.expressions.graftdedup.HashSketchExpressions.all.foreach(ext.injectFunction)
    org.apache.spark.sql.catalyst.expressions.grafttext.TextKernelExpressions.all.foreach(ext.injectFunction)
    org.apache.spark.sql.catalyst.expressions.graftsketch.KllExpressions.all.foreach(ext.injectFunction)
    org.apache.spark.sql.catalyst.expressions.graftsketch.MisraGriesExpressions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graftkernel.GroupKernelStrategy)
  }
}
