package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round helper: writes `explain("formatted")` of named
  * (or all) declared queries to one file per query under an output
  * directory — the `plans/rNN/<query>_{before,after}.txt` evidence the
  * optimization rounds commit. Not part of the library surface.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val selected = if (args.length > 3)
      SparkEntry.select(SparkEntry.names(args(3)))
    else SparkEntry.registry.sortBy(_.name)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    selected.foreach { q =>
      val n = q.name
      try {
        val df = q.build(spark, sfDir)
        val qe = df.queryExecution
        val txt = qe.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch {
        case e: Exception =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
