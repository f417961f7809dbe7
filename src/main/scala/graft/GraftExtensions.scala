package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expr.GraftFunctions

/** Library integration point: install the engine's SQL function surface
  * through the standard extensions hook —
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`. This
  * is the deployment-grade twin of [[graft.expr.GraftFunctions.register]]
  * (which the query entries call per-session for the driver harness):
  * extension-injected functions exist in EVERY session of the
  * application, including ones the library never sees being created.
  * Both install the one table [[graft.expr.GraftFunctions.Surface]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.Surface.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo("graft", null, f.name, f.usage, "", "", "", "", "", "", "built-in"),
        f.build))
    }
    // whole-operator extension: plans graft.plans.AsOfJoinPlan (the
    // custom AS-OF JOIN logical node) to its merge-based physical exec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
