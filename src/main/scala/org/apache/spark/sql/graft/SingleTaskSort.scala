package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project,
  Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Sorts a small answer in one partition. A global `Sort` plans a
  * range-partitioned exchange, and its `RangePartitioner` first runs a
  * sampling job over the whole child: on a small answer that job (which
  * recomputes every per-row projection below the sort) costs more than
  * the sort itself. When a batch plan's root is a global `Sort`, alone
  * or under a `Project`, and the child's estimated size is within
  * `spark.sql.autoBroadcastJoinThreshold` — the estimate Spark already
  * trusts to ship a whole side to every task; `-1` disables the rule —
  * the sort runs locally over a single-partition shuffle instead: the
  * same rows in the same order, one job fewer. A sort under a `Limit`
  * is not the root (Spark plans it as a top-k), and streaming plans are
  * left alone. */
object SingleTaskSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _ if plan.isStreaming => plan
    case s: Sort if small(s) => local(s)
    case p @ Project(_, s: Sort) if small(s) => p.copy(child = local(s))
    case _ => plan
  }

  private def small(s: Sort): Boolean = s.global && {
    val threshold = conf.autoBroadcastJoinThreshold
    threshold >= 0 && s.child.stats.sizeInBytes <= threshold
  }

  private def local(s: Sort): Sort =
    s.copy(global = false, child = Repartition(1, shuffle = true, s.child))
}

/** Graft's planner additions: [[SingleTaskSort]] and
  * [[PackedCountAgg.Strategy]]. [[graft.api.GraftExtensions]] injects
  * them when a session is built; [[install]] adds them to a session
  * built without the extensions. */
object GraftPlanner {

  /** Idempotent: appends each addition the session lacks to its
    * `experimental` optimizer rules and planner strategies. */
  def install(session: SparkSession): Unit = {
    val x = session.experimental
    x.synchronized {
      if (!x.extraOptimizations.contains(SingleTaskSort))
        x.extraOptimizations = x.extraOptimizations :+ SingleTaskSort
      if (!x.extraStrategies.contains(PackedCountAgg.Strategy))
        x.extraStrategies = x.extraStrategies :+ PackedCountAgg.Strategy
    }
  }
}
