package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Debug main: runs named queries and prints a per-job
  * wall/stage/task breakdown so the optimization rounds can see WHERE a
  * multi-job operator spends its time (the bench only reports one
  * number per query). Not part of the library surface.
  *
  * Usage: runMain graft.QueryProfile <sfDir> <cpus> <q1,q2,...> [reps]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = args(1)
    val selected = SparkEntry.select(SparkEntry.names(args(2)))
    val reps = if (args.length > 3) args(3).toInt else 2
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("sum(l_quantity)", "count(distinct l_returnflag)")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    case class JobRec(id: Int, t0: Long, var t1: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0,
      var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
      var input: Long = 0L, desc: String)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, JobRec]
    // stage -> the job whose JobStart listed it; when several running
    // jobs list a stage (the concurrent fits share scans), the earliest
    // keeps it
    val owner = scala.collection.mutable.HashMap.empty[Int, JobRec]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val r = JobRec(j.jobId, j.time,
            desc = Option(j.properties)
              .flatMap(p => Option(p.getProperty(
                "spark.job.description"))).getOrElse(""))
          jobs(j.jobId) = r
          j.stageIds.foreach { st =>
            if (!owner.get(st).exists(_.t1 == 0L)) owner(st) = r
          }
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.get(j.jobId).foreach(_.t1 = j.time)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted)
          : Unit = jobs.synchronized {
        val m = s.stageInfo.taskMetrics
        owner.get(s.stageInfo.stageId).foreach { r =>
          r.stages += 1
          r.tasks += s.stageInfo.numTasks
          if (m != null) {
            r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.input += m.inputMetrics.bytesRead
          }
        }
      }
    }
    selected.foreach { q =>
      val (n, fn) = (q.name, q.build)
      (1 to reps).foreach { rep =>
        jobs.synchronized { jobs.clear(); owner.clear() }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(listener)
        println(f"===== $n rep $rep: $wall%.3f s, ${jobs.size} jobs =====")
        jobs.synchronized(jobs.values.foreach { r =>
          val d = (r.t1 - r.t0) / 1e3
          println(f"  job ${r.id}%3d ${d}%8.3f s stages=${r.stages}%2d " +
            f"tasks=${r.tasks}%4d in=${r.input / 1024}%8dK " +
            f"sr=${r.shuffleRead / 1024}%6dK sw=${r.shuffleWrite / 1024}%6dK " +
            r.desc.take(60))
        })
      }
    }
    spark.stop()
  }
}
