package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions injection point (the (c)-tier registration path
  * of SURVEY §7.4 / the north star): lets a session built with
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   // or spark.sql.extensions=graft.functions.GraftExtensions
  *
  * resolve every native function of [[GraftFunctions.sqlFunctions]] from
  * SQL text. DataFrame code needs no session setup: the `GraftFunctions`
  * Column wrappers build their expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // optimizer rewrite: free length-difference gates ahead of bounded
    // levenshtein predicates (see graft.plans.LevenshteinGuard)
    e.injectOptimizerRule(_ => graft.plans.LevenshteinGuard)
    // whole-operator extension: native as-of join (logical node + physical
    // streaming-merge exec — see graft.plans.AsOfJoinPlan)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
