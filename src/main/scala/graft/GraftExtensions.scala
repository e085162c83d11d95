package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-build-time injection of graft's Catalyst extensions — the
  * standard deployment wiring:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * GraftSession.builder().withExtensions(new GraftExtensions()) ...
  * }}}
  *
  * Injects the SAME singleton objects `GraftSession.configure`
  * adds through `experimental.*` on an already-running session (the
  * driver-owned-session path this repo's gates use): the native as-of
  * planner strategy ([[graft.plans.AsOfJoinStrategy]]) and the as-of
  * filter-pushdown rule ([[graft.plans.PushFilterThroughAsOfJoin]]).
  * Both registration paths are therefore interchangeable; the spec pins
  * that this class wires exactly those objects.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectPlannerStrategy(_ => plans.AsOfJoinStrategy)
    extensions.injectOptimizerRule(_ => plans.PushFilterThroughAsOfJoin)
  }
}
