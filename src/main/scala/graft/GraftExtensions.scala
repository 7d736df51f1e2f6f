package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: injects every native function of
  * [[GraftFunctions.table]] and the [[graft.plans.LevenshteinGuard]]
  * optimizer rule, so SQL users of a session built with it get them from
  * construction on.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions` on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // optimizer rule: O(1) length-difference guard ahead of O(len²)
    // edit-distance filters (see graft.plans.LevenshteinGuard)
    e.injectOptimizerRule(_ => graft.plans.LevenshteinGuard)
    GraftFunctions.table.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftFunctions.getClass.getName, name), build))
    }
  }
}
