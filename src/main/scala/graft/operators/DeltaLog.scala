package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.{Io, MiniJson}

/** Delta Lake commit-log census (C236) — lakehouse tables are the
  * thing a 100 TB corpus LIVES in, and the JSON commits under
  * `_delta_log/` are the metadata a lake census reads without
  * touching a data file. The action grammar is public (the Delta transaction
  * protocol): one JSON object per line, each wrapping exactly one
  * action — `commitInfo`, `protocol` (reader/writer versions),
  * `metaData` (schema, partition columns, format provider), `add`
  * (path, size, partitionValues), `remove`, `txn`, and the newer
  * side-car actions which an old reader must tolerate.
  *
  * Surfaced: action counts by kind (unknown kinds counted, not
  * guessed at — the protocol's forward-compat rule), summed added
  * bytes, partition-column count, protocol versions, provider.
  * A line that is not a JSON object REFUSES the blob — Delta
  * readers cannot skip corrupt commit lines.
  *
  * Totality: None on damage. Scale: per-value map-only text work.
  */
object DeltaLog {

  private val MaxLines = 100000

  final case class DeltaFacts(nActions: Int, nAdd: Int,
      nRemove: Int, nOther: Int, addBytes: Long,
      nPartitionCols: Int, minReader: Int, minWriter: Int,
      provider: String)

  /** Census one commit file's text. None on damage. */
  def deltaFacts(log: String): Option[DeltaFacts] = {
    if (log == null) return None
    val lines = log.split('\n').filter(_.trim.nonEmpty)
    if (lines.isEmpty || lines.length > MaxLines) return None
    var nAdd = 0
    var nRemove = 0
    var nOther = 0
    var addBytes = 0L
    var nPartCols = -1
    var minReader = -1
    var minWriter = -1
    var provider = ""
    lines.foreach { line =>
      val obj =
        try MiniJson.parse(line) match {
          case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
          case _ => return None
        } catch { case _: Exception => return None }
      if (obj.size != 1) return None // exactly one action per line
      val (kind, body0) = obj.head
      val body = body0 match {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case _ => return None
      }
      kind match {
        case "add" =>
          nAdd += 1
          body.get("size") match {
            case Some(d: Double) if d >= 0 && d == math.floor(d) =>
              addBytes += d.toLong
            case _ => return None
          }
        case "remove" => nRemove += 1
        case "protocol" =>
          body.get("minReaderVersion") match {
            case Some(d: Double) => minReader = d.toInt
            case _ => ()
          }
          body.get("minWriterVersion") match {
            case Some(d: Double) => minWriter = d.toInt
            case _ => ()
          }
        case "metaData" =>
          body.get("partitionColumns") match {
            case Some(xs: Vector[_]) => nPartCols = xs.length
            case _ => ()
          }
          body.get("format") match {
            case Some(f: Map[_, _]) =>
              f.asInstanceOf[Map[String, Any]].get("provider") match {
                case Some(p: String) => provider = p
                case _ => ()
              }
            case _ => ()
          }
        case "commitInfo" | "txn" => nOther += 1
        case _ => nOther += 1 // forward-compat: count, don't guess
      }
    }
    Some(DeltaFacts(lines.length, nAdd, nRemove, nOther, addBytes,
      nPartCols, minReader, minWriter, provider))
  }

  /** Serialize a planted commit (writer for synth + spec). */
  def deltaWrite(adds: Seq[Long], removes: Int,
      partCols: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("""{"commitInfo":{"operation":"WRITE",""")
      .append(""""timestamp":1700000000000}}""").append('\n')
    sb.append("""{"protocol":{"minReaderVersion":1,""")
      .append(""""minWriterVersion":2}}""").append('\n')
    sb.append("""{"metaData":{"id":"fixed-id",""")
      .append(""""format":{"provider":"parquet","options":{}},""")
      .append(""""schemaString":"{}","partitionColumns":[""")
      .append(partCols.map(c => s""""$c"""").mkString(","))
      .append("""],"configuration":{}}}""").append('\n')
    adds.zipWithIndex.foreach { case (size, i) =>
      sb.append(s"""{"add":{"path":"part-$i.parquet",""")
        .append(s""""partitionValues":{},"size":$size,""")
        .append(s""""modificationTime":1700000000000,""")
        .append(s""""dataChange":true}}""").append('\n')
    }
    (0 until removes).foreach { i =>
      sb.append(s"""{"remove":{"path":"old-$i.parquet",""")
        .append(s""""deletionTimestamp":1700000000000,""")
        .append(s""""dataChange":true}}""").append('\n')
    }
    sb.toString
  }

  // ---------------------------------------------------------------
  // Spark plumbing
  // ---------------------------------------------------------------

  val deltaSchema: StructType = StructType(Seq(
    StructField("n_actions", IntegerType),
    StructField("n_add", IntegerType),
    StructField("n_remove", IntegerType),
    StructField("n_other", IntegerType),
    StructField("add_bytes", LongType),
    StructField("n_partition_cols", IntegerType),
    StructField("min_reader", IntegerType),
    StructField("min_writer", IntegerType),
    StructField("provider", StringType)))

  def decodeDelta(bytes: Array[Byte]): Seq[Any] =
    deltaFacts(if (bytes == null) null
      else new String(bytes,
        java.nio.charset.StandardCharsets.UTF_8)) match {
      case Some(f) => Seq[Any](f.nActions, f.nAdd, f.nRemove,
        f.nOther, f.addBytes, f.nPartitionCols, f.minReader,
        f.minWriter, f.provider)
      case None => Seq[Any](null, null, null, null, null, null,
        null, null, null)
    }

  // ---------------------------------------------------------------
  // CHECKPOINT parquet (round 18) — at 100 TB nobody replays
  // thousands of raw JSON commits: a reader starts from
  // `_last_checkpoint` (a tiny JSON pointer), loads the checkpoint
  // PARQUET at that version (a distributed columnar scan of the
  // reconciled action state), and applies only the JSON tail
  // written since. The protocol is public: checkpoint rows carry
  // exactly one non-null action struct (add/remove/metaData/
  // protocol/txn); `_last_checkpoint` holds {version, size}.
  // ---------------------------------------------------------------

  /** The planted table's action arithmetic, shared by the writer
    * and the spec: version v adds files j = 0..(v%4) named
    * `f-v-j.parquet` of size 100*(v+1)+j; from v = 2 on, version v
    * removes `f-(v-2)-0.parquet`. All closed-form, so the DuckDB
    * oracle replays the live set exactly.
    */
  def plantedAdds(v: Int): Seq[(String, Long)] =
    (0 to v % 4).map(j => (s"f-$v-$j.parquet", 100L * (v + 1) + j))
  def plantedRemove(v: Int): Option[String] =
    if (v >= 2) Some(s"f-${v - 2}-0.parquet") else None

  private def commitJson(v: Int): String = {
    val sb = new StringBuilder
    sb.append("""{"commitInfo":{"operation":"WRITE",""")
      .append(s""""timestamp":${1700000000000L + v}}}""").append('\n')
    if (v == 0) {
      sb.append("""{"protocol":{"minReaderVersion":1,""")
        .append(""""minWriterVersion":2}}""").append('\n')
      sb.append("""{"metaData":{"id":"planted-ckpt-table",""")
        .append(""""format":{"provider":"parquet","options":{}},""")
        .append(""""schemaString":"{}","partitionColumns":[],""")
        .append(""""configuration":{}}}""").append('\n')
    }
    plantedAdds(v).foreach { case (p, size) =>
      sb.append(s"""{"add":{"path":"$p","partitionValues":{},""")
        .append(s""""size":$size,"modificationTime":1700000000000,""")
        .append(s""""dataChange":true}}""").append('\n')
    }
    plantedRemove(v).foreach { p =>
      sb.append(s"""{"remove":{"path":"$p",""")
        .append(s""""deletionTimestamp":${1700000000000L + v * 1000},""")
        .append(s""""dataChange":true}}""").append('\n')
    }
    sb.toString
  }

  /** Live (path, size) set of the planted table after `upTo`. */
  def plantedLive(upTo: Int): Seq[(String, Long)] = {
    val removed = (0 to upTo).flatMap(plantedRemove).toSet
    (0 to upTo).flatMap(plantedAdds).filterNot(f => removed(f._1))
  }

  private val CkptSchema = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("size", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType)))),
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("provider", StringType))))))

  /** Write the planted checkpointed table: JSON commits 0..n-1, a
    * checkpoint PARQUET at `ckptVersion` holding the reconciled
    * state (protocol + metaData + one add row per live file), and
    * `_last_checkpoint`. Idempotent (full rewrite).
    */
  def writeCheckpointedTable(spark: org.apache.spark.sql.SparkSession,
      dir: String, nVersions: Int = 10, ckptVersion: Int = 6): Unit = {
    import java.nio.file.{Files, Paths}
    val log = Paths.get(dir, "_delta_log")
    if (Files.exists(log))
      Files.walk(log).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    Files.createDirectories(log)
    (0 until nVersions).foreach { v =>
      Files.writeString(log.resolve(f"$v%020d.json"), commitJson(v))
    }
    val live = plantedLive(ckptVersion)
    val rows = Seq(
      Row(null, null, Row(1, 2), null),
      Row(null, null, null, Row("planted-ckpt-table", "parquet"))) ++
      live.map { case (p, size) =>
        Row(Row(p, size, true), null, null, null)
      } ++
      // removes still inside the retention window ride along in a
      // real checkpoint (tombstones for readers doing vacuum math)
      (0 to ckptVersion).flatMap(plantedRemove).map(p =>
        Row(null, Row(p), null, null))
    val tmp = dir + "/_ckpt_tmp"
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), CkptSchema)
      .write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) src = p
    }
    val ckptName = f"$ckptVersion%020d.checkpoint.parquet"
    Files.move(src, log.resolve(ckptName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.walk(Paths.get(tmp))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    Files.writeString(log.resolve("_last_checkpoint"),
      s"""{"version":$ckptVersion,"size":${rows.size}}""")
  }

  /** The V2-checkpoint twin of [[writeCheckpointedTable]]: same
    * planted commits and arithmetic, but the checkpoint at
    * `ckptVersion` uses the V2 layout — a top
    * `<v>.checkpoint.<uuid>.parquet` holding protocol + metaData +
    * checkpointMetadata + `sidecar` pointers, with the add/remove
    * FILE actions split across two sidecar parquets under
    * `_delta_log/_sidecars/`. A reader that only speaks the
    * classic layout reads zero files from this table.
    */
  def writeCheckpointedTableV2(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      nVersions: Int = 10, ckptVersion: Int = 6): Unit = {
    import java.nio.file.{Files, Paths}
    val log = Paths.get(dir, "_delta_log")
    if (Files.exists(log))
      Files.walk(log).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    Files.createDirectories(log.resolve("_sidecars"))
    (0 until nVersions).foreach { v =>
      Files.writeString(log.resolve(f"$v%020d.json"), commitJson(v))
    }
    val live = plantedLive(ckptVersion)
    val tombs = (0 to ckptVersion).flatMap(plantedRemove)
    def writeOne(df: DataFrame, target: java.nio.file.Path): Unit = {
      val tmp = dir + "/_ckpt_tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.walk(Paths.get(tmp))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    val fileSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("size", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType))))))
    // file actions split across two sidecars (the layout's point:
    // checkpoint writes parallelize per sidecar)
    val (liveA, liveB) = live.splitAt(live.length / 2)
    def fileRows(adds: Seq[(String, Long)],
        removes: Seq[String]): Seq[Row] =
      adds.map { case (p, size) => Row(Row(p, size, true), null) } ++
        removes.map(p => Row(null, Row(p)))
    val sidecarNames = Seq("sc-0001.parquet", "sc-0002.parquet")
    writeOne(spark.createDataFrame(
        spark.sparkContext.parallelize(
          fileRows(liveA, tombs), 1), fileSchema),
      log.resolve("_sidecars").resolve(sidecarNames(0)))
    writeOne(spark.createDataFrame(
        spark.sparkContext.parallelize(
          fileRows(liveB, Nil), 1), fileSchema),
      log.resolve("_sidecars").resolve(sidecarNames(1)))
    val topSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("provider", StringType)))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType))))))
    val topRows = Seq(
      Row(Row(3, 7), null, null, null),
      Row(null, Row("planted-ckpt-table-v2", "parquet"), null,
        null),
      Row(null, null, Row(ckptVersion.toLong), null)) ++
      sidecarNames.map { n =>
        Row(null, null, null, Row(n,
          Files.size(log.resolve("_sidecars").resolve(n))))
      }
    val uuid = "0f0e0d0c-1234-5678-9abc-def012345678"
    writeOne(spark.createDataFrame(
        spark.sparkContext.parallelize(topRows, 1), topSchema),
      log.resolve(f"$ckptVersion%020d.checkpoint.$uuid.parquet"))
    Files.writeString(log.resolve("_last_checkpoint"),
      s"""{"version":$ckptVersion,"size":${topRows.size}}""")
  }

  /** Map-only line kernel for the JSON tail: (kind, path, size).
    * Lines whose action carries no path (commitInfo, protocol,
    * metaData, txn) map to kind-only rows; malformed lines refuse
    * the WHOLE commit the caller-side way (None → the caller
    * filters, keeping the census honest).
    */
  def actionPathSize(line: String): Option[(String, String, Long)] =
    try {
      MiniJson.parse(line) match {
        case m: Map[_, _] =>
          val obj = m.asInstanceOf[Map[String, Any]]
          if (obj.size != 1) return None
          val (kind, body0) = obj.head
          val body = body0 match {
            case b: Map[_, _] => b.asInstanceOf[Map[String, Any]]
            case _ => return None
          }
          val path = body.get("path") match {
            case Some(p: String) => p
            case _ => ""
          }
          val size = body.get("size") match {
            case Some(d: Double) if d >= 0 && d == math.floor(d) =>
              d.toLong
            case _ => -1L
          }
          Some((kind, path, size))
        case _ => None
      }
    } catch { case _: Exception => None }

  private def tailVersionsDf(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      from: Int): DataFrame = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val log = Paths.get(dir, "_delta_log")
    val rx = "(\\d{20})\\.json".r
    val files = scala.util.Using.resource(Files.list(log)) { s =>
      s.iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case rx(v) if v.toLong >= from => Some(p.toString)
          case _ => None
        }
      }.toSeq
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("kind", StringType),
        StructField("path", StringType),
        StructField("size", LongType))))
    if (files.isEmpty) return empty
    import spark.implicits._
    spark.read.textFile(files: _*)
      .flatMap(l => actionPathSize(l))
      .toDF("kind", "path", "size")
  }

  /** Map-only remove-tombstone kernel: (path, deletionTimestamp)
    * from a remove action line; anything else → None.
    */
  def removeTombstone(line: String): Option[(String, Long)] =
    try {
      MiniJson.parse(line) match {
        case m: Map[_, _] =>
          m.asInstanceOf[Map[String, Any]].get("remove") match {
            case Some(b: Map[_, _]) =>
              val body = b.asInstanceOf[Map[String, Any]]
              (body.get("path"), body.get("deletionTimestamp")) match {
                case (Some(p: String), Some(d: Double))
                    if d.isWhole =>
                  Some((p, d.toLong))
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
    } catch { case _: Exception => None }

  /** All commit lines WITH their version (parsed from the
    * zero-padded file name) — the raw material of time travel.
    */
  def versionedActions(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    tailVersionsDfWithVersion(spark, dir, 0)
  }

  private def tailVersionsDfWithVersion(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      from: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    tailVersionsDf(spark, dir, from)
      .withColumn("version",
        regexp_extract(input_file_name(), "(\\d{20})\\.json", 1)
          .cast("bigint"))
  }

  /** TIME TRAVEL: the table state AS OF every version — one row
    * per version with the live file count and bytes after
    * replaying commits 0..v. Removes don't carry sizes in the log;
    * the real reader resolves them against the add records, so
    * this does too (one join). The per-version deltas are collected
    * — one row per commit file, files the Spark driver already lists —
    * and folded into running sums there: a window ordered by version
    * alone would move every row into one partition anyway.
    */
  def timeTravel(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val acts = versionedActions(spark, dir)
    val adds = acts.where(col("kind") === "add")
      .select(col("version"), col("path"), col("size"))
    val removes = acts.where(col("kind") === "remove")
      .select(col("version").as("rv"), col("path"))
      // the log carries no size on a remove: resolve against the
      // LATEST add at or before the removing version (a re-added
      // path has several add sizes — the tombstone cancels the
      // most recent one, not an arbitrary one)
      .join(adds.select(col("path"), col("version").as("av"),
        col("size")), Seq("path"))
      .where(col("av") <= col("rv"))
      .groupBy(col("path"), col("rv"))
      .agg(max_by(col("size"), col("av")).as("size"))
    // seed from EVERY parsed commit version — a commit carrying
    // only commitInfo/metaData/protocol still advances the table
    // version and must appear in the AS OF listing (r18 ADVICE)
    val allVersions = acts.select(col("version")).distinct()
    val perV = allVersions
      .join(adds.groupBy(col("version"))
          .agg(count(lit(1)).as("n_add"), sum(col("size")).as("b_add")),
        Seq("version"), "left_outer")
      .join(removes.groupBy(col("rv").as("version"))
          .agg(count(lit(1)).as("n_rem"),
            sum(col("size")).as("b_rem")),
        Seq("version"), "left_outer")
      .na.fill(0L, Seq("n_add", "b_add", "n_rem", "b_rem"))
    var (nLive, liveBytes) = (0L, 0L)
    val rows = perV.orderBy(col("version")).select(col("version"),
        col("n_add") - col("n_rem"), col("b_add") - col("b_rem"))
      .collect().map { r =>
        nLive += r.getLong(1)
        liveBytes += r.getLong(2)
        Row(r.get(0), nLive, liveBytes)
      }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(perV.schema("version"),
        StructField("n_live", LongType),
        StructField("live_bytes", LongType))))
  }

  /** VACUUM planning: remove tombstones older than the cutoff are
    * physically deletable (their retention window has passed);
    * younger ones must be retained for time travel. Sizes resolve
    * against the add records, same as [[timeTravel]].
    */
  def vacuumPlan(spark: org.apache.spark.sql.SparkSession,
      dir: String, cutoffMs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val log = Paths.get(dir, "_delta_log")
    val rx = "\\d{20}\\.json".r
    val files = scala.util.Using.resource(Files.list(log)) { s =>
      s.iterator().asScala
        .filter(p => rx.matches(p.getFileName.toString))
        .map(_.toString).toSeq
    }
    import spark.implicits._
    val tombs = spark.read.textFile(files: _*)
      .flatMap(l => removeTombstone(l))
      .toDF("path", "del_ts")
    val adds = versionedActions(spark, dir)
      .where(col("kind") === "add")
      .select(col("path"), col("size"))
      .dropDuplicates("path")
    tombs.join(adds, Seq("path"))
      .select(
        (col("del_ts") < cutoffMs).as("deletable"),
        col("size"))
      .groupBy(col("deletable"))
      .agg(count(lit(1)).cast("int").as("n_files"),
        sum(col("size")).as("bytes"))
  }

  /** The checkpoint-rooted snapshot: `_last_checkpoint` → the
    * checkpoint parquet (Spark's own columnar scan — this IS how a
    * lakehouse reader scales past thousands of commits) → the JSON
    * tail applied on top. Returns the live (path, size) census.
    */
  def snapshotFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val lc = MiniJson.parseObject(java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_delta_log", "_last_checkpoint")))
    val v = lc("version") match {
      case d: Double if d.isWhole && d >= 0 => d.toInt
      case _ => throw new IllegalStateException(
        "_last_checkpoint without an integral version")
    }
    val ckpt = checkpointActions(spark, dir, v)
      .where(col("add").isNotNull)
      .select(col("add.path").as("path"), col("add.size").as("size"),
        lit(v.toLong).as("version"), lit("add").as("kind"))
    val tail = tailVersionsDfWithVersion(spark, dir, v + 1)
      .where(col("kind").isin("add", "remove"))
      .select(col("path"), col("size"), col("version"), col("kind"))
    lastActionWins(ckpt.unionByName(tail))
  }

  /** The FILE actions of the checkpoint at version `v`, across
    * both public layouts:
    *  - classic: one `<v>.checkpoint.parquet` holding every action
    *  - V2: `<v>.checkpoint.<uuid>.parquet` holding the non-file
    *    actions plus `sidecar` rows whose paths (resolved under
    *    `_delta_log/_sidecars/`) hold the add/remove actions — the
    *    layout that lets a writer parallelize checkpointing, and a
    *    reader scan file actions without the metadata rows
    * Returns a frame with at least an `add` struct column; sidecar
    * scans stay distributed columnar reads (Spark's own parquet
    * scan — this IS how a reader handles a million-file table).
    */
  def checkpointActions(spark: org.apache.spark.sql.SparkSession,
      dir: String, v: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val log = Paths.get(dir, "_delta_log")
    val classic = log.resolve(f"$v%020d.checkpoint.parquet")
    if (Files.exists(classic))
      return Io.readParquet(spark, classic.toString)
    // V2: <v>.checkpoint.<uuid>.parquet
    val rx = (f"$v%020d" + "\\.checkpoint\\.[0-9a-f-]+\\.parquet").r
    val top = scala.util.Using.resource(Files.list(log)) { s =>
      s.iterator().asScala
        .find(p => rx.matches(p.getFileName.toString))
        .getOrElse(throw new IllegalStateException(
          s"no checkpoint at version $v"))
    }
    val topDf = Io.readParquet(spark, top.toString)
    if (!topDf.columns.contains("sidecar")) return topDf
    // resolve sidecar file names under _delta_log/_sidecars/
    val sidecars = topDf.where(col("sidecar").isNotNull)
      .select(col("sidecar.path")).collect()
      .map(r => log.resolve("_sidecars").resolve(r.getString(0))
        .toString)
    if (sidecars.isEmpty) topDf
    else spark.read.parquet(sidecars.toSeq: _*)
  }

  /** The full raw JSON replay from version 0 — the reconciliation
    * oracle the checkpoint path must agree with exactly.
    */
  def replayFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    lastActionWins(tailVersionsDfWithVersion(spark, dir, 0)
      .where(col("kind").isin("add", "remove"))
      .select(col("path"), col("size"), col("version"), col("kind")))
  }

  /** Versioned last-action-wins reconciliation (the Delta
    * protocol's replay rule): a path is live iff its LATEST action
    * is an add — a remove followed by a later re-add keeps the
    * path, which a bare anti join gets wrong (r18 ADVICE). Within
    * one version, add outranks remove (a same-commit remove+add is
    * a rewrite that leaves the path live). One hash shuffle on
    * path; no window.
    */
  private def lastActionWins(acts: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    acts.groupBy(col("path"))
      .agg(max_by(
        struct(col("kind"), col("size")),
        struct(col("version"),
          when(col("kind") === "add", 1).otherwise(0))).as("last"))
      .where(col("last.kind") === "add")
      .select(col("path"), col("last.size").as("size"))
  }

  /** Per-doc synth: planted commits with closed-form facts. */
  def synthDeltas(df: DataFrame, idCol: String, outCol: String)
      : DataFrame = {
    val ii = df.schema.fieldIndex(idCol)
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val id = r.get(ii) match {
          case l: java.lang.Long => l.longValue()
          case x => x.hashCode().toLong
        }
        val a = (id % 4 + 1).toInt
        val sizes = (0 until a).map(j => 100L + id % 1000 + j)
        val removes = (id % 3).toInt
        val partCols = (0 until (id % 3).toInt).map(j => s"p$j")
        Row.fromSeq(r.toSeq :+ deltaWrite(sizes, removes, partCols)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }(enc)
  }
}
