package graft.core

import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** Eager Spark jobs an operator launches from the Spark driver: every
  * job is named, and independent jobs run concurrently.
  *
  * A driver-side fold over a frame's rows ([[scan]]: the dictionary
  * fits, the approx classification) is one job with no exchange. Only
  * the ColumnStats describes still [[fork]] concurrent jobs.
  */
object DriverJobs {
  private val DescKey = "spark.job.description"

  /** Runs `body` with `desc` as the Spark job description of the jobs
    * it launches from this thread (an event log, the Spark UI or a
    * listener can then attribute them), and restores the caller's
    * description afterwards. */
  def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val caller = sc.getLocalProperty(DescKey)
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty(DescKey, caller)
  }

  /** One [[described]] Spark job over the rows of `df`, run as its own
    * SQL execution named `name` (query listeners see it like any
    * action): `task` folds one partition's rows, and `merge` takes each
    * task's result on the driver as it arrives. The job has as many
    * stages as `df`'s plan has exchanges plus one. */
  def scan[U: ClassTag](df: DataFrame, desc: String, name: String)(
      task: Iterator[InternalRow] => U)(merge: U => Unit): Unit = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    val sc = df.sparkSession.sparkContext
    described(sc, desc) {
      SQLExecution.withNewExecutionId(qe, Some(name)) {
        sc.runJob(qe.toRdd, task, (_: Int, u: U) => merge(u))
      }
    }
  }

  /** Starts `body` on the global pool as a [[described]] step; pair
    * with [[join]]. */
  def fork[T](sc: SparkContext, desc: String)(body: => T): Future[T] =
    onPool(described(sc, desc)(body))

  def join[T](f: Future[T]): T = Await.result(f, Duration.Inf)

  /** A Spark action blocks its pool thread until the job ends. Marked
    * `blocking`, each such thread makes the fork-join pool add one, so
    * more concurrent jobs than cores still overlap instead of queueing
    * behind the first `availableProcessors` of them. */
  private[graft] def onPool[T](body: => T): Future[T] =
    Future(blocking(body))
}
