package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Post-execution plan metrics: walk the EXECUTED physical plan
  * (through AQE's adaptive wrappers and reused stages) and sum the
  * SQLMetrics that matter for scale audits — shuffle bytes/records
  * written. Execute the frame first (e.g. noop write); metrics are
  * populated by the run, so this is measurement, not estimation. Used
  * by `PlanAuditSpec` to turn "this plan shuffles less" from a claim
  * into a number; whole-run totals (staging jobs included) come from
  * [[BenchMetrics]] instead.
  */
object PlanMetrics {

  /** Every node of the executed plan, descending into adaptive plans,
    * query stages, and subqueries.
    */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: below.flatMap(allNodes)
  }

  /** (shuffle bytes written, shuffle records written) summed over the
    * executed plan. Executes the frame's OWN QueryExecution first — a
    * sink write (noop included) wraps the plan in its own command
    * execution, so metrics populated there never show up on the
    * frame's plan; `toRdd.count()` drives exactly the instance we then
    * walk.
    */
  def shuffleTotals(df: DataFrame): (Long, Long) = {
    df.queryExecution.toRdd.count()
    val nodes = allNodes(df.queryExecution.executedPlan)
    def total(name: String): Long = nodes.flatMap(_.metrics.collect {
      case (_, m) if m.name.contains(name) => m.value
    }).sum
    (total("shuffle bytes written"), total("shuffle records written"))
  }
}
