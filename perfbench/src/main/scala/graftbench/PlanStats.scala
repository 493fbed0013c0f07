package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** What an executed query read and how long the planner took, from
  * the query's own plan and SQL metrics. */
final case class PlanStats(planningMs: Double, filesRead: Long, rowsScanned: Long)

object PlanStats {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  /** call after the DataFrame has run */
  def of(df: DataFrame): PlanStats = {
    val qe = df.queryExecution
    val scans = nodes(qe.executedPlan).collect { case s: FileSourceScanExec => s }
    def sum(m: String) = scans.flatMap(_.metrics.get(m)).map(_.value).sum
    PlanStats(qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
      sum("numFiles"), sum("numOutputRows"))
  }
}
