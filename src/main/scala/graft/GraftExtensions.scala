package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension installer — the deployment story for the engine as a
  * library (SURVEY.md §4 conclusion: custom work is registered via
  * `SparkSessionExtensions`):
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   .getOrCreate()
  * }}}
  *
  * Injects every function of [[GraftSession.functions]] into the function
  * registry, plus the AsOfJoin planner strategy and the as-of SQL-pattern
  * rule — after which they are usable from plain SQL text and `expr(...)`
  * like built-ins. [[GraftSession.install]] puts the same set into a session
  * built without the extension; the query builders call it themselves, so
  * direct API use works either way.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftSession.sizeCodegenCache()
    GraftSession.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    // SQL-pattern recognition: ROW_NUMBER-over-versions as-of shape →
    // AsOfJoinPlan (ref LogicalCorrelateToJoinFromTemporalTableRule)
    e.injectOptimizerRule(_ => graft.plans.AsOfPatternRule)
  }
}
