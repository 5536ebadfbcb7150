package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Plan-shape specs assert on the EXECUTED (AQE-final) plan. */
object PlanNodes {

  /** All nodes of a final adaptive plan — AQE wraps materialized
    * subtrees in leaf QueryStageExec nodes and reuses exchanges, so a
    * plain children-walk stops at stage boundaries; descend through all
    * of them. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val deeper = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case _ => p.children.flatMap(nodes)
    }
    p +: deeper
  }
}
