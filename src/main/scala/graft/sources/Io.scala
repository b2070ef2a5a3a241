package graft.sources

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{ColumnKind, GraftDataset, Inference}

/** Sources/sinks (reference: src/trousse/dataset.py:28-49,668-807 and
  * anonymize_database.py:196-204).
  *
  * CSV is read with an ALL-STRING schema — never `inferSchema` — and our
  * own inference pass decides column kinds and casts. This reproduces
  * the reference's dynamic-typing semantics, including "mixed" columns
  * that Spark's schema inference would silently destroy (SURVEY.md §1.3,
  * §7.4 risk 1).
  */
object Io {

  /** S1: CSV scan; missing file → Failure, like the reference's
    * None-with-log (dataset.py:28-49) but typed.
    */
  def readCsv(spark: SparkSession, path: String): Try[DataFrame] = Try {
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path)
    // empty-string cells are pandas NaN
    df.select(df.columns.map(c =>
      when(col(c) === "", lit(null).cast(StringType)).otherwise(col(c))
        .as(c)).toIndexedSeq: _*)
  }

  /** Inference-driven casts shared by every text source: numeric-
    * classified string columns → double, bool → boolean; mixed columns
    * stay string (their mixed-ness is classification metadata).
    * Approximate distinct counts on purpose — the kind/categorical
    * heuristics only need cardinality ORDER, and exact per-column jobs
    * would re-scan a text source once per column (no column pruning).
    */
  private def inferAndCast(raw: DataFrame,
      metadataCols: Set[String]): GraftDataset = {
    val cls = Inference.classify(raw)
    val typed = raw.select(raw.columns.map { c =>
      cls.kinds(c) match {
        case ColumnKind.Numerical =>
          graft.functions.SafeCast.tryCastDouble(col(c)).as(c)
        case ColumnKind.Bool      => col(c).cast("boolean").as(c)
        case _                    => col(c)
      }
    }.toIndexedSeq: _*)
    GraftDataset(typed, metadataCols)
  }

  /** S2: CSV → classified, typed GraftDataset. */
  def datasetFromCsv(spark: SparkSession, path: String,
      metadataCols: Set[String] = Set.empty): Try[GraftDataset] =
    readCsv(spark, path).map(inferAndCast(_, metadataCols))

  /** JSON-lines source with the same dynamic-typing posture as CSV:
    * `primitivesAsString` keeps every scalar a string so a column
    * mixing numbers and text survives as a MIXED column for the repair
    * cascade, then the classification decides the casts. Empty-string →
    * null normalization applies only to STRING columns — nested
    * object/array columns pass through unchanged (a `=== ""` comparison
    * on a struct column would fail analysis).
    */
  def readJson(spark: SparkSession, path: String): Try[DataFrame] = Try {
    val df = spark.read
      .option("primitivesAsString", "true")
      .json(path)
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType)
        when(col(f.name) === "", lit(null).cast(StringType))
          .otherwise(col(f.name)).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
  }

  def datasetFromJson(spark: SparkSession, path: String,
      metadataCols: Set[String] = Set.empty): Try[GraftDataset] =
    readJson(spark, path).map(inferAndCast(_, metadataCols))

  /** Minimal JSON escaping for the lineage sidecar. */
  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  /** S3: persist a dataset as parquet + a JSON lineage/metadata sidecar
    * (the reference shelve-pickles the whole object, dataset.py:668-704).
    * The sidecar carries BOTH a human/engine-readable descriptor per op
    * AND a JVM-serialized copy of the op vector (`ops_jvm`, base64) —
    * the exact analog of the reference's pickle — so [[readDataset]]
    * restores the real operation objects, value-equal to the originals.
    * Refuses to overwrite unless asked, like the reference.
    */
  def writeDataset(ds: GraftDataset, path: String,
      overwrite: Boolean = false,
      partitionBy: Seq[String] = Seq.empty): Unit = {
    val dir = new java.io.File(path)
    require(overwrite || !dir.exists(), s"$path already exists")
    val writer = ds.data.write
      .mode(if (overwrite) "overwrite" else "errorifexists")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
     else writer).parquet(s"$path/data.parquet")
    val ops = ds.history.ops.map { op =>
      s"""{"op":${jstr(op.getClass.getSimpleName)},"columns":[${
        op.columns.map(jstr).mkString(",")}],"derived":[${
        op.derivedColumns.map(jstr).mkString(",")}],"repr":${
        jstr(op.toString)}}"""
    }.mkString("[", ",", "]")
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(ds.history.ops)
    oos.close()
    val opsJvm = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    val json =
      s"""{"metadata_cols":[${ds.metadataCols.toSeq.sorted.map(jstr)
        .mkString(",")}],"derived_cols":[${ds.derivedCols.toSeq.sorted
        .map(jstr).mkString(",")}],"operations":$ops,"ops_jvm":${
        jstr(opsJvm)}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/lineage.json"), json)
  }

  /** Deserialization allowlist for the `ops_jvm` payload: only graft's
    * own op classes and the JDK/Scala types they are built from. Any
    * other class in the stream — i.e. any gadget-chain attempt — is
    * rejected before instantiation.
    */
  private val OpsJvmFilter: java.io.ObjectInputFilter =
    java.io.ObjectInputFilter.Config.createFilter(
      "graft.**;scala.**;java.lang.*;java.util.*;!*")

  /** S4: load a persisted dataset — data, metadata columns, and the
    * REAL operation objects (deserialized from the sidecar's `ops_jvm`
    * payload; reference dataset.py:756-807 restores pickled objects the
    * same way). Sidecars written by other engines can omit `ops_jvm`,
    * in which case history is empty and only the readable descriptors
    * remain.
    *
    * Safety: the sidecar is parsed with a real JSON parser (malformed →
    * typed [[graft.core.MalformedSidecarException]]); `ops_jvm`
    * deserialization runs under a strict [[java.io.ObjectInputFilter]]
    * allowlist AND only when `trusted = true` — set it false for
    * sidecars that did not come from your own [[writeDataset]] (the
    * data and readable descriptors still load; only the executable op
    * objects are skipped). The reference's pickle round-trip has the
    * same trust model but no mitigation at all.
    */
  def readDataset(spark: SparkSession, path: String,
      trusted: Boolean = true): GraftDataset = {
    val p = java.nio.file.Paths.get(s"$path/lineage.json")
    if (!java.nio.file.Files.exists(p))
      throw new graft.core.NotGraftDatasetException(
        s"$path is not a graft dataset (no lineage.json)")
    val df   = spark.read.parquet(s"$path/data.parquet")
    val side = MiniJson.parseObject(java.nio.file.Files.readString(p))
    def strSet(field: String): Set[String] = side.get(field) match {
      case Some(v: Vector[_]) => v.collect { case s: String => s }.toSet
      case _                  => Set.empty
    }
    val history = side.get("ops_jvm") match {
      case Some(b64: String) if b64.nonEmpty && trusted =>
        val bytes = try java.util.Base64.getDecoder.decode(b64)
          catch { case e: IllegalArgumentException =>
            throw new graft.core.MalformedSidecarException(
              s"ops_jvm is not valid base64: ${e.getMessage}") }
        val ois = new java.io.ObjectInputStream(
          new java.io.ByteArrayInputStream(bytes))
        ois.setObjectInputFilter(OpsJvmFilter)
        val ops = try {
          try ois.readObject()
            .asInstanceOf[Vector[graft.operators.FeatureOperation]]
          catch { case e: java.io.InvalidClassException =>
            throw new graft.core.MalformedSidecarException(
              s"ops_jvm contains a class outside the graft/scala/JDK " +
              s"allowlist (possible tampering): ${e.getMessage}") }
        } finally ois.close()
        ops.foldLeft(graft.core.OperationsList())(_ :+ _)
      case _ => graft.core.OperationsList()
    }
    new GraftDataset(df, strSet("metadata_cols"), strSet("derived_cols"),
      history)
  }

  /** Read a parquet table containing TIMESTAMP(NANOS) columns, which
    * Spark's reader rejects by default. The legacy `nanosAsLong` flag
    * is set ONLY for the eager schema-inference read and restored
    * immediately; the returned frame carries an explicit schema (nanos
    * as BIGINT), so execution never depends on session conf — queries
    * built on it cannot leak the flag to later reads in the session.
    *
    * The set/read/restore window mutates SHARED session conf, so it is
    * guarded by a monitor on the session: concurrent `readNanosAsLong`
    * calls on the same session serialize instead of leaking the legacy
    * flag into each other's unrelated reads. Callers running OTHER
    * readers concurrently on the same session during this call can
    * still observe the flag — schedule nanos reads before fanning out,
    * or use a separate session.
    */
  def readNanosAsLong(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.synchronized {
      val key  = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try spark.read.parquet(path).schema
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
    spark.read.schema(schema).parquet(path)
  }

  /** S5: CSV sink (anonymize_database.py:196-204). `single=true` mirrors
    * the reference's one-file output for small frames; large frames
    * should keep the default multi-part layout.
    */
  def writeCsv(df: DataFrame, path: String, single: Boolean = false)
      : Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Bucketed table write — the layout that makes repeated big-to-big
    * joins and aggregations on `keyCol` SHUFFLE-FREE: both sides
    * bucketed into the same `buckets` on the same key join with zero
    * Exchange (Spark trusts the on-disk hash layout), which at 100 TB
    * converts every pipeline run's largest shuffle into a one-time
    * write cost. Parquet + saveAsTable because bucket metadata lives in
    * the catalog, not the files.
    */
  def writeBucketed(df: DataFrame, table: String, keyCol: String,
      buckets: Int, sortCol: Option[String] = None): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    // overwrite-mode saveAsTable can't clear an orphaned warehouse dir
    // left by a previous PROCESS (fresh catalog doesn't know the
    // table) — drop both catalog entry and location first
    graft.operators.Warehouse.dropManaged(df.sparkSession, table)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, keyCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }
}
