package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Cluster deployment entry point: registers the vector kernels
  * through the sanctioned extension seam instead of per-session
  * imperative registration —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  *   // or
  *   SparkSession.builder.withExtensions(new GraftExtensions)
  * }}}
  *
  * Every session the cluster creates (including thrift-server /
  * connect sessions the library never sees) then resolves every kernel
  * of `GraftFunctions.kernels` in SQL text as well as the DataFrame
  * API. `GraftFunctions.register` remains as the session-local
  * equivalent for embedded use; both install the builders of that one
  * table, so they build the same expression trees.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Transparent IVF top-k pruning for IvfIndex-registered tables
    // (SURVEY §4's optional ANN rewrite).
    ext.injectOptimizerRule(IvfKnnPruning)
    GraftFunctions.kernels.foreach { k =>
      ext.injectFunction((FunctionIdentifier(k.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, k.name, k.usage, ""),
        k.build))
    }
  }
}
