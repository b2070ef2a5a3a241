package graftbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Counts over physical plans, looking inside adaptive plans and
  * subqueries. */
object Plans extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size

  def filesWritten(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles")
        .fold(0L)(_.value)
    }.sum
}
