package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** A Spark job seen by [[JobFence.during]]: its job description, if it
  * had one, and its stage count. */
final case class SeenJob(description: Option[String], stages: Int)

/** Which Spark jobs a block of test code starts. */
object JobFence {
  private val DescKey = "spark.job.description"

  /** Runs `body` and returns its result with every job started while it
    * ran, in job-id order. Jobs are fenced by id between two sentinel
    * jobs: a late event of an earlier job has a smaller id than the
    * start sentinel, and once the end sentinel is delivered every job of
    * the body has been (one listener queue). Test suites share one
    * session but run one at a time, so no other test's job lies between
    * the sentinels. */
  def during[T](sc: SparkContext)(body: => T): (T, Seq[SeenJob]) = {
    val seen = new ConcurrentLinkedQueue[(Int, Option[String], Int)]()
    val tag = s"graft-job-fence-${System.nanoTime}"
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add((js.jobId,
          Option(js.properties).flatMap(p => Option(p.getProperty(DescKey))),
          js.stageInfos.size))
    }
    def sentinel(name: String): Int = {
      val caller = sc.getLocalProperty(DescKey)
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(DescKey, caller)
      eventually(timeout(60.seconds)) {
        seen.asScala.find(_._2.contains(name)).get._1
      }
    }
    sc.addSparkListener(listener)
    try {
      val start = sentinel(tag + "-start")
      val out = body
      val end = sentinel(tag + "-end")
      (out, seen.asScala.toSeq.filter(j => j._1 > start && j._1 < end)
        .sortBy(_._1).map(j => SeenJob(j._2, j._3)))
    } finally sc.removeSparkListener(listener)
  }
}
