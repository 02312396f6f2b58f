package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Catalyst extension point: one optimizer rule (as-of join expansion
  * with left-filter pushdown), one planner strategy (the exact top-k
  * scoring kernel, [[graft.plans.ExactTopKStrategy]], which
  * [[graft.sim.Similarity.bruteForceTopK]] plans through) plus the
  * consolidated SQL-function surface
  * ([[graft.functions.GraftFunctions.registerAll]]) — every custom
  * expression/aggregate the Column API exposes is reachable from
  * `spark.sql("SELECT vec_dot(a, b) ...")` through the same codegen
  * path (parity spec'd per function).
  *
  * Install via `spark.sql.extensions=graft.GraftExtensions`, as
  * [[Sessions]] does, or a session builder's
  * `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // as-of join: left-filter pushdown + expansion (operator-optimization
    // batch, so standard pushdown/pruning compose with it — PlanSpec)
    e.injectOptimizerRule(_ => graft.plans.ResolveAsOfJoin)
    e.injectPlannerStrategy(_ => graft.plans.ExactTopKStrategy)
    graft.functions.GraftFunctions.registerAll(e)
  }
}
