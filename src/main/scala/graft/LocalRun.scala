package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one local session of the mains (`Verify`, `Bench`, `Sf1Point`,
  * `ScaleStress`, `KernelBench`, `PlanDump`). Not part of the library
  * surface.
  */
object LocalRun {

  /** The settings every main runs with on `cpus` local cores. Driver
    * and executor share one JVM here, so a heartbeat or RPC timeout can
    * only ever be scheduler starvation, never a lost node: the long
    * timeouts let a host load spike show as slow timings instead of a
    * dead SparkContext (a round-16 bench sweep died to 10 s heartbeat
    * timeouts under oversubscription).
    */
  def settings(cpus: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.network.timeout" -> "600s",
    "spark.executor.heartbeatInterval" -> "60s",
    "spark.rpc.askTimeout" -> "600s")

  /** A session with [[settings]] and WARN logging. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder().config(settings(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else the main's own `default`. */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** Seconds to build `df` and run it through the noop sink. */
  def noopSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
