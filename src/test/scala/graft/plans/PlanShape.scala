package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Node counts of a DataFrame's physical plan (the initial adaptive plan
  * when AQE is on), for checking that a public operator and its optimizer
  * rule build the same plan. */
final case class PlanShape(exchanges: Int, generates: Int, joins: Int, nestedLoops: Int)

object PlanShape {
  def apply(df: DataFrame): PlanShape = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def count(f: PartialFunction[SparkPlan, Unit]): Int = plan.collect(f).size
    PlanShape(
      count { case _: Exchange => },
      count { case _: GenerateExec => },
      count { case _: BaseJoinExec => },
      count { case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => })
  }
}
