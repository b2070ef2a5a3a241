package graft
import java.nio.file.{Files, Paths}
import graft.sources.Io.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names for a targeted
    // re-dump (the driver always runs the full set)
    val selected =
      if (args.length > 2) SparkEntry.select(SparkEntry.names(args(2)))
      else SparkEntry.registry
    val spark = LocalRun.session(LocalRun.cpus("4"))
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { q =>
      // the name goes first, so a warning in the log can be attributed
      System.err.println(s"[verify] ${q.name}")
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        failed(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape covers ALL control chars (<0x20): a tab or CR
    // in oracle SQL would otherwise make the compare's json.load fail
    // and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that throws must be VISIBLE in the round artifact, not a
    // silent absence: failed.json maps query name -> exception message
    // so the driver (or a human) can surface it as an err row.
    val failedJson = failed
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    spark.stop()
  }
}
