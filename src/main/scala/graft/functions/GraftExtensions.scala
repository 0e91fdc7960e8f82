package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** Session extensions registering graft's native SQL functions
  * ([[NativeFunctions.registrations]]), planner strategies and rules;
  * enable with `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.registrations.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // View SQL bridge: CREATE/DROP/SHOW VIEWS on a graft catalog, plus
    // expand-at-resolution substitution of stored view text (Spark 4.1
    // has no built-in DSv2 view wiring; see GraftViewBridge).
    ext.injectParser((session, parser) =>
      new graft.sources.GraftViewSqlParser(session, parser))
    ext.injectResolutionRule(session =>
      graft.sources.GraftViewSubstitution(session))
    // Streaming reads must not resolve _file/_version: Spark's DSv2
    // metadata-column wiring is batch-only, and an unresolved-at-scan
    // metadata column dies mid-batch with an opaque arity error.
    ext.injectResolutionRule(session =>
      graft.sources.GraftStreamingMetaGuard(session))
    // Materialized-view rewrite: aggregates over a base table re-plan
    // against a FRESH materialization (see MaterializedViews).
    ext.injectOptimizerRule(session =>
      graft.sources.GraftMvRewrite(session))
  }
}
