package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Schema-drift hardening: the round-8 break happened because the
  * driver regenerated events.parquet with TIMESTAMP(MICROS) where the
  * reader assumed TIMESTAMP(NANOS), and nothing in `sbt test` touched
  * the real files — every event spec ran on synthesized frames. This
  * spec closes that gap two ways:
  *
  *  1. every SparkEntry query must ANALYZE (resolve) against the real
  *     /root/testdata/sf0.001 tables, so the next type drift fails at
  *     test time instead of at the driver's correctness gate;
  *  2. readEvents is pinned on BOTH physical encodings of `ts` — a
  *     micros timestamp column and a raw int64 nanos column — and must
  *     produce the identical TimestampType wall-clock either way.
  */
class SchemaDriftSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(sfDir).isDirectory

  test("every SparkEntry query analyzes against the live testdata") {
    assume(haveData, s"$sfDir missing")
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sfDir).queryExecution.analyzed; None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator
              .take(1).mkString)
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("readEvents adapts to micros-timestamp and nanos-long ts") {
    assume(haveData, s"$sfDir missing")
    val real = queries.Tables.readEvents(spark, sfDir)
    assert(real.schema("ts").dataType == TimestampType)

    // Re-encode the same rows under the other physical layout: ts as
    // raw int64 nanoseconds (what the pre-refresh driver shipped, and
    // what readNanosAsLong surfaces for TIMESTAMP(NANOS) files).
    val dir = Files.createTempDirectory("drift").toFile
    dir.deleteOnExit()
    val nanosDir = s"${dir.getAbsolutePath}/nanos"
    new java.io.File(nanosDir).mkdirs()
    real.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")
    val viaNanos = queries.Tables.readEvents(spark, nanosDir)
    assert(viaNanos.schema("ts").dataType == TimestampType)

    // Identical wall-clock through either path.
    val a = real.select(col("event_id"), col("ts")).orderBy("event_id")
      .limit(200).collect().toSeq
    val b = viaNanos.select(col("event_id"), col("ts"))
      .orderBy("event_id").limit(200).collect().toSeq
    assert(a == b)
  }
}
