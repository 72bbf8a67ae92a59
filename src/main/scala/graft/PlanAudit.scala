package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Walkers over the *final* adaptive physical plan, for exchange counts:
  * the `graft.Bench` sweep table and [[graft.PlanBudgetSpec]]. */
object PlanAudit {

  private[graft] def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case other => other
  }

  /** Collect across AQE stage boundaries (collect() stops at QueryStageExec). */
  private[graft] def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val buf = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(n: SparkPlan): Unit = if (seen.add(n)) {
      buf += n
      n.children.foreach(go)
      n match { case q: QueryStageExec => go(q.plan); case _ => }
    }
    go(p)
    buf.toSeq
  }
}
