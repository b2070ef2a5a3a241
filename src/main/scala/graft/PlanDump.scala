package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round helper: writes `explain("formatted")` of named
  * (or all) declared queries to one file per query under an output
  * directory — the `plans/rNN/<query>_{before,after}.txt` evidence the
  * optimization rounds commit. Not part of the library surface.
  * Plans are written [[normalize]]d, so two runs on unchanged code
  * write identical files.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  */
object PlanDump {

  private val PerRun = Seq(
    """#\d+""" -> "#N", // expression ids
    """\$\$Lambda(\$\d+)?/0x[0-9a-f]+""" -> "$$Lambda", // lambda classes
    """(?<=[\w$])@[0-9a-f]+\b""" -> "@H", // identity hashes
    """RDD\[\d+\]""" -> "RDD[N]",
    """plan_id=\d+""" -> "plan_id=N"
  ).map { case (re, to) =>
    (re.r, scala.util.matching.Regex.quoteReplacement(to))
  }

  /** `plan` with the tokens that differ between two builds of the
    * same query replaced by fixed ones, and the `warehouse` directory
    * by `<warehouse>`. Call sites such as `localCheckpoint at
    * File.scala:line` stay: they change only with the code.
    */
  private[graft] def normalize(plan: String, warehouse: String): String =
    PerRun.foldLeft(plan.replace(warehouse, "<warehouse>")) {
      case (txt, (re, to)) => re.replaceAllIn(txt, to)
    }

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
        val txt = normalize(qe.explainString(
          org.apache.spark.sql.execution.FormattedMode),
          spark.conf.get("spark.sql.warehouse.dir"))
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
