package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Execution observability: run a query and read the physical plan's
  * accumulated SQL metrics — scanned rows, emitted rows, shuffle volume,
  * exchange count. The Spark-native equivalent of the reference's runtime
  * prints (jobs/materialize_online.py:49,58, serving/pred_logger.py:39),
  * but sourced from the engine's own metric accumulators instead of
  * hand-placed log lines, so every operator is covered for free.
  *
  * At cluster scale the same numbers arrive through a QueryExecutionListener
  * into the metrics store; this pull-based form is used only by MetricsSpec. */
object Metrics {

  case class QueryMetrics(scanRows: Long, outputRows: Long,
                          shuffleBytes: Long, numExchanges: Int)

  /** Execute `df` (without collecting results to the driver) and return its
    * plan metrics. Metrics are read AFTER execution from the final adaptive
    * plan — reading before, or from a write's cloned QueryExecution, yields
    * zeros. */
  def run(df: DataFrame): QueryMetrics = {
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ()) // execute this QueryExecution, not a clone
    val plan = finalPlan(qe.executedPlan)
    val nodes = collectAll(plan)
    val scans = nodes.filter(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    val exchanges = nodes.collect { case e: ShuffleExchangeLike => e }
    QueryMetrics(
      scanRows = scans.flatMap(_.metrics.get("numOutputRows"))
        .map(_.value).sum,
      outputRows = plan.metrics.get("numOutputRows").map(_.value)
        .getOrElse(-1L),
      shuffleBytes = exchanges
        .flatMap(_.metrics.get("dataSize")).map(_.value).sum,
      numExchanges = exchanges.size)
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case other => other
  }

  /** All nodes, descending through nested adaptive plans and query stages
    * (AQE wraps every exchange in a QueryStageExec LEAF whose real subtree
    * hangs off `.plan` — stopping there would hide every scan). */
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
    case s: QueryStageExec => s +: collectAll(s.plan)
    case other => other +: other.children.flatMap(collectAll)
  }
}
