package graftbench

import java.util.Properties

import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

class LayerListenerSpec extends AnyFunSuite {
  private def stage(id: Int, name: String = "save at Harness.scala:1") =
    new StageInfo(id, 0, name, 1, Seq.empty, Seq.empty, "",
      resourceProfileId = 0)

  private def start(l: LayerListener, job: Int, time: Long, stages: StageInfo*)
      : Unit = l.onJobStart(SparkListenerJobStart(job, time, stages, new Properties))

  private def submit(l: LayerListener, s: StageInfo): Unit =
    l.onStageSubmitted(SparkListenerStageSubmitted(s))

  private def end(l: LayerListener, job: Int, time: Long): Unit =
    l.onJobEnd(SparkListenerJobEnd(job, time, JobSucceeded))

  private def task(l: LayerListener, stageId: Int, runMs: Long,
      outputBytes: Long = 0L): Unit =
    l.taskEnded(stageId, TaskSample(runMs, runMs * 1000000L, 0L, 0L, 0L, 0L,
      outputBytes))

  test("overlapping jobs keep their own stages and tasks") {
    val l = new LayerListener
    val Seq(s1, s2, s3, s4) = (1 to 4).map(stage(_))
    start(l, 1, 100L, s1, s2)
    start(l, 2, 110L, s3, s4)
    submit(l, s1)
    submit(l, s3)
    // job 2 is the newest job now; stage 1's tasks still belong to job 1
    task(l, 1, 10L)
    task(l, 3, 20L)
    task(l, 1, 5L)
    submit(l, s2)
    submit(l, s4)
    task(l, 4, 7L)
    task(l, 2, 3L)
    end(l, 2, 150L)
    end(l, 1, 160L)
    val Seq(j1, j2) = l.claim()
    assert((j1.id, j1.tasks, j1.runMs, j1.stagesRun, j1.wallMs) ==
      (1, 3, 18L, 2, 60L))
    assert((j2.id, j2.tasks, j2.runMs, j2.stagesRun, j2.wallMs) ==
      (2, 2, 27L, 2, 40L))
    assert(l.claim().isEmpty)
  }

  test("a stage reused from an earlier job counts as skipped") {
    val l = new LayerListener
    val Seq(s5, s6, s7) = (5 to 7).map(stage(_))
    start(l, 3, 0L, s5, s6)
    submit(l, s5)
    submit(l, s6)
    task(l, 5, 1L)
    task(l, 6, 1L)
    end(l, 3, 10L)
    start(l, 4, 20L, s5, s7)
    submit(l, s7)
    task(l, 7, 4L)
    end(l, 4, 30L)
    val Seq(j3, j4) = l.claim()
    assert((j3.stagesRun, j3.skippedStages, j3.runMs) == (2, 0, 2L))
    assert((j4.stagesRun, j4.skippedStages, j4.runMs) == (1, 1, 4L))
  }

  test("a stage two running jobs share stays with the job that started first") {
    val l = new LayerListener
    val Seq(s10, s11) = (10 to 11).map(stage(_))
    start(l, 7, 0L, s10)
    start(l, 8, 5L, s10, s11)
    submit(l, s10)
    task(l, 10, 6L)
    end(l, 7, 10L)
    submit(l, s11)
    task(l, 11, 2L)
    end(l, 8, 20L)
    val Seq(j7, j8) = l.claim()
    assert((j7.stagesRun, j7.runMs) == (1, 6L))
    assert((j8.stagesRun, j8.skippedStages, j8.runMs) == (1, 1, 2L))
  }

  test("a table open is a parquet job that writes nothing") {
    val l = new LayerListener
    val read = stage(8, "parquet at SparkEntry.scala:23")
    val write = stage(9, "parquet at Io.scala:114")
    start(l, 5, 0L, read)
    start(l, 6, 0L, write)
    task(l, 8, 1L)
    task(l, 9, 1L, outputBytes = 100L)
    end(l, 5, 1L)
    end(l, 6, 1L)
    assert(l.claim().map(_.isOpen) == Seq(true, false))
  }
}
