package graft.core

import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext

/** Eager Spark jobs an operator launches from the Spark driver: every
  * job is named, and independent jobs run concurrently.
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
