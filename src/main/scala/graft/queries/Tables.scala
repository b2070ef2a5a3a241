package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Io

/** The table readers every query area shares. */
object Tables {

  /** Opens table `name` of a test-data directory through
    * [[Io.readParquet]]: the schema comes from the table's footer, read
    * on the driver, so the open runs no Spark job.
    */
  private[queries] def t(s: SparkSession, dir: String,
      name: String): DataFrame =
    Io.readParquet(s, s"$dir/$name.parquet")

  /** [[t]] plus a fan-out for queries whose cost is a per-row KERNEL
    * (synth+decode, signatures, text scoring), not the scan itself.
    *
    * The bench tables are single-row-group parquet files — ONE scan
    * split — so a map-only kernel tier would otherwise run on one core
    * regardless of the master's core count (measured: q_pdf_encrypted
    * spent 13.8 s in a single task on local[32]; with the fan-out the
    * same work runs as 32 tasks in 1.2 s). Guarded by input size so it
    * is scale-adaptive, not a local-mode constant: when the file is
    * large enough that the scan itself yields at least
    * defaultParallelism splits (any real at-scale input), this is a
    * plain [[t]] — the exchange exists exactly when the input
    * under-fills the cluster. The round-robin exchange carries only
    * the narrow columns the query projects (Catalyst prunes through
    * it), never synthesized payloads — the guide-§8 discipline of
    * shuffling light rows and fanning the heavy kernel out.
    */
  private[queries] def tp(s: SparkSession, dir: String,
      name: String): DataFrame = {
    val base = t(s, dir, name)
    val p = s.sparkContext.defaultParallelism
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getFileStatus(path).getLen
    val maxSplit = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(s.conf.get(
        "spark.sql.files.maxPartitionBytes", "128m"))
    if (bytes / maxSplit >= p) base else base.repartition(p)
  }

  /** Schema-adaptive events reader. The test data has shipped
    * events.parquet with `ts` as both TIMESTAMP(NANOS) — unreadable by
    * vanilla Spark, so routed through Io.readNanosAsLong which yields a
    * raw int64 nanos column — and TIMESTAMP(MICROS), which Spark reads
    * natively (as TIMESTAMP_NTZ under the default NTZ inference).
    * Branch on the actual `ts` type: a long gets the nanos → micros
    * conversion; any timestamp flavor is cast to session-local
    * TimestampType (identity wall-clock under the UTC session tz all
    * entry points pin) so every downstream event operator sees one
    * stable type regardless of how the data was generated.
    */
  private[graft] def readEvents(s: SparkSession, dir: String): DataFrame = {
    val df = Io.readNanosAsLong(s, s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
