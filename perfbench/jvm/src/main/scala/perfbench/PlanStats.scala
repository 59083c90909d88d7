package perfbench

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Node and exchange counts read from plan trees, never from explain text. */
final case class PhysicalCounts(nodes: Int, shuffles: Int, broadcasts: Int) {
  def +(o: PhysicalCounts): PhysicalCounts =
    PhysicalCounts(nodes + o.nodes, shuffles + o.shuffles, broadcasts + o.broadcasts)
}

object PlanStats {
  val empty: PhysicalCounts = PhysicalCounts(0, 0, 0)

  /** Logical nodes, subquery plans included. */
  def logicalNodes(p: LogicalPlan): Int =
    p.collectWithSubqueries { case n => n }.size

  /** Counts on a physical plan as AQE starts it: an adaptive node counts
    * through its current plan, which before execution is AQE's initial plan
    * with every exchange already inserted; subquery plans are walked too. */
  def physical(p: SparkPlan): PhysicalCounts = p match {
    case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
    case s: QueryStageExec => physical(s.plan)
    case _ =>
      val self = p match {
        case _: ShuffleExchangeLike => PhysicalCounts(1, 1, 0)
        case _: BroadcastExchangeLike => PhysicalCounts(1, 0, 1)
        case _ => PhysicalCounts(1, 0, 0)
      }
      (p.children ++ p.subqueries).map(physical).foldLeft(self)(_ + _)
  }
}
