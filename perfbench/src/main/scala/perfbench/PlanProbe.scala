package perfbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec

/** Reads an executed physical plan from outside: which shuffles feed its
  * join. Adaptive plans and their query stages are walked into. */
object PlanProbe {

  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private def joins(p: SparkPlan): Seq[SparkPlan] =
    (p match { case j: BaseJoinExec => Seq(j); case _ => Nil }) ++ children(p).flatMap(joins)

  private def feeding(p: SparkPlan): Set[Int] = p match {
    case s: ShuffleQueryStageExec => Set(s.shuffle.shuffleId)
    case e: ShuffleExchangeLike => Set(e.shuffleId)
    case _: BroadcastQueryStageExec => Set.empty
    case other => children(other).flatMap(feeding).toSet
  }

  /** Ids of the shuffles that feed the plan's topmost join: the join
    * exchange. Empty when the plan has no shuffled join. */
  def joinShuffles(plan: SparkPlan): Set[Int] =
    joins(plan).headOption.map(_.children.flatMap(feeding).toSet).getOrElse(Set.empty)
}
