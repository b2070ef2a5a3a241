package graft.sources

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.ParquetFileWriter.{
  PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{ColumnKind, DriverJobs, GraftDataset, Inference}

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
    * remain. The data opens through [[readParquet]], so a flat
    * `data.parquet` directory is opened from its first footer with no
    * Spark job; a `partitionBy` layout is inferred by Spark.
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
    val df   = readParquet(spark, s"$path/data.parquet")
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

  /** Opens a parquet table as `spark.read.parquet(path)` does, minus
    * the Spark job its schema inference launches. That inference reads
    * one footer: `_common_metadata`, else `_metadata`, else the first
    * data file in path order. Here the same footer is read on the
    * driver and converted by Spark's own `readSchemaFromFooter`, and
    * the table is opened with that schema, so the open runs no job.
    * Nothing is cached: a file rewritten a moment ago is read afresh.
    *
    * Where that rule does not decide the schema, the read is Spark's
    * own, with its errors, under a named job description:
    * `spark.sql.parquet.mergeSchema` on, a glob or a Hadoop input path
    * filter, a directory with subdirectories (a nested or partitioned
    * layout), no data file, or any error on the way.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path,
        spark.sessionState.conf.legacyParquetNanosAsLong)
      .flatMap(s => Try(spark.read.schema(s).parquet(path)).toOption)
      .getOrElse(DriverJobs.described(spark.sparkContext,
        s"Io.readParquet: infer schema $path")(spark.read.parquet(path)))

  /** The schema Spark's inference would give `path`, from the footer it
    * would read, or None where that rule does not apply (see
    * [[readParquet]]). The converter flags are the ones Spark's
    * inference passes (`ParquetFileFormat.mergeSchemasInParallel`);
    * `nanosAsLong` is a parameter so that a caller can set it without
    * touching session conf.
    */
  private def footerSchema(spark: SparkSession, path: String,
      nanosAsLong: Boolean): Option[StructType] = try {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled ||
        path.exists("{}[]*?\\".contains(_)) ||
        hadoopConf.get("mapreduce.input.pathFilter.class") != null) None
    else {
      val fs = root.getFileSystem(hadoopConf)
      val st = fs.getFileStatus(root)
      val leaves = (if (st.isDirectory) fs.listStatus(root) else Array(st))
        .filterNot(f => Bridge.hiddenFromListing(f.getPath.getName))
        .sortBy(_.getPath.toString)
      def named(n: String): Option[FileStatus] =
        leaves.find(_.getPath.getName == n)
      val summaries = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
      if (leaves.exists(_.isDirectory)) None
      else named(PARQUET_COMMON_METADATA_FILE)
        .orElse(named(PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !summaries(f.getPath.getName)))
        .map { f =>
          val footer = scala.util.Using.resource(ParquetFileReader.open(
              HadoopInputFile.fromStatus(f, hadoopConf),
              HadoopReadOptions.builder(hadoopConf).withMetadataFilter(
                ParquetMetadataConverter.SKIP_ROW_GROUPS).build()))(
            _.getFooter)
          ParquetFileFormat.readSchemaFromFooter(
            new Footer(f.getPath, footer),
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = nanosAsLong,
              respectUnknownTypeAnnotation =
                conf.parquetReaderRespectUnknownTypeAnnotation))
        }
    }
  } catch { case NonFatal(_) => None }

  /** Read a parquet table containing TIMESTAMP(NANOS) columns, which
    * Spark's reader rejects by default, with those columns as BIGINT
    * nanoseconds (Spark's legacy `nanosAsLong` reading). The flag goes
    * to the footer conversion only; session conf is never touched, and
    * the returned frame carries an explicit schema, so execution does
    * not depend on the flag either. Where [[readParquet]]'s footer rule
    * does not apply, Spark infers the schema on a clone of the session
    * with the flag set.
    */
  def readNanosAsLong(spark: SparkSession, path: String): DataFrame = {
    val schema = footerSchema(spark, path, nanosAsLong = true).getOrElse {
      val clone = Bridge.cloneSession(spark)
      clone.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      DriverJobs.described(spark.sparkContext,
        s"Io.readNanosAsLong: infer schema $path")(
        clone.read.parquet(path).schema)
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
