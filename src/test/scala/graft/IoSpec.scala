package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}

import graft.core.GraftDataset
import graft.operators.FillNA
import graft.sources.Io

class IoSpec extends SparkSpec {
  import spark.implicits._

  test("readCsv: all-string schema, empty cells -> null") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f   = new java.io.File(dir, "in.csv")
    Files.writeString(f.toPath, "a,b\n1,x\n,y\n2,\n")
    val df = Io.readCsv(spark, f.getPath).get
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = df.collect().map(r =>
      (Option(r.getString(0)), Option(r.getString(1))))
    assert(rows.toSet == Set(Some("1") -> Some("x"), None -> Some("y"),
      Some("2") -> None))
  }

  test("readCsv on a missing file is a Failure, not an exception") {
    assert(Io.readCsv(spark, "/tmp/definitely_missing_xyz.csv")
      .isFailure)
  }

  test("datasetFromCsv casts numeric-classified strings") {
    val dir = Files.createTempDirectory("graft_csv2").toFile
    val f   = new java.io.File(dir, "in.csv")
    Files.writeString(f.toPath, "num,mix,s\n1.5,x1,a\n2.5,2,b\n")
    val ds = Io.datasetFromCsv(spark, f.getPath).get
    assert(ds.data.schema("num").dataType.typeName == "double")
    assert(ds.data.schema("mix").dataType.typeName == "string")
  }

  test("dataset round-trip preserves data, metadata cols and history") {
    val dir = Files.createTempDirectory("graft_ds").toFile.getPath + "/out"
    val ds  = FillNA(Seq("c"), "x")(
      GraftDataset(Seq(Some("a"), None).toDF("c"), Set("c")))
    Io.writeDataset(ds, dir)
    val back = Io.readDataset(spark, dir)
    assert(back.data.select("c").as[String].collect().sorted.toSeq ==
      Seq("a", "x"))
    assert(back.metadataCols == Set("c"))
    // the REAL op objects round-trip, value-equal (S4)
    assert(back.history.size == 1)
    assert(back.history(0) == FillNA(Seq("c"), "x"))
    assert(back.history.forColumn("c") == Vector(FillNA(Seq("c"), "x")))
    // refuses to overwrite unless asked
    intercept[IllegalArgumentException] { Io.writeDataset(ds, dir) }
    Io.writeDataset(ds, dir, overwrite = true)
  }

  test("datasetFromJson: primitives stay strings, mixed survives") {
    val dir = Files.createTempDirectory("graft_json").toFile
    val f   = new java.io.File(dir, "in.json")
    Files.writeString(f.toPath,
      """{"num": 1.5, "mix": "x1", "s": "a"}
        |{"num": 2.5, "mix": 2, "s": "b"}
        |""".stripMargin)
    val ds = Io.datasetFromJson(spark, f.getPath).get
    assert(ds.data.schema("num").dataType.typeName == "double")
    assert(ds.data.schema("mix").dataType.typeName == "string")
    assert(ds.classification.mixedCols == Set("mix"))
  }

  test("writeDataset partitionBy lays out hive-style directories") {
    val dir = Files.createTempDirectory("graft_part").toFile.getPath +
      "/out"
    val ds = GraftDataset(
      Seq(("a", 1), ("b", 2), ("a", 3)).toDF("part", "v"))
    Io.writeDataset(ds, dir, partitionBy = Seq("part"))
    val parts = new java.io.File(s"$dir/data.parquet").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(parts.toSeq == Seq("part=a", "part=b"))
    assert(Io.readDataset(spark, dir).data.count() == 3)
  }

  test("writeCsv single-file mode") {
    val dir = Files.createTempDirectory("graft_out").toFile.getPath + "/csv"
    Io.writeCsv(Seq(("a", 1)).toDF("c", "n"), dir, single = true)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1)
  }

  private val sfDir = "/root/testdata/sf0.01"

  /** Writes `rows` of a parquet schema given in Parquet's message syntax
    * with parquet-hadoop's example writer: a footer with no Spark schema
    * in it, and physical types Spark cannot write (TIMESTAMP(NANOS),
    * BINARY without a string annotation). */
  private def writeRaw(file: String, message: String,
      rows: Seq[Map[String, Any]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(message)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.foreach {
        case (k, v: Long)   => g.append(k, v)
        case (k, v: String) => g.append(k, Binary.fromString(v))
        case (k, v)         => fail(s"unsupported value $v for $k")
      }
      w.write(g)
    } finally w.close()
  }

  private def sameAsSpark(s: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    assert(Io.readParquet(s, path).schema.json ==
      s.read.parquet(path).schema.json, path)

  test("readParquet opens every layout with Spark's inferred schema") {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    val tables = new java.io.File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(tables.nonEmpty)
    tables.foreach(sameAsSpark(spark, _))
    val tmp = Files.createTempDirectory("graft_open").toFile.getPath
    // Spark-written multi-part directory: _SUCCESS and .crc files beside
    // the parts, a Spark schema in each footer, non-null fields stored
    // as required
    val multi = s"$tmp/multi"
    spark.range(0, 300, 1, 3)
      .select(col("id"), lit(1).as("one"), (col("id") % 7).as("m"))
      .write.parquet(multi)
    val names = new java.io.File(multi).list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")))
    sameAsSpark(spark, multi)
    assert(Io.readParquet(spark, multi).collect().toSet ==
      spark.read.parquet(multi).collect().toSet)
    // one part file on its own
    sameAsSpark(spark, new java.io.File(multi).listFiles()
      .find(_.getName.startsWith("part-")).get.getPath)
    // a partitioned dataset
    val ds = s"$tmp/ds"
    Io.writeDataset(GraftDataset(
      Seq(("a", 1), ("b", 2), ("a", 3)).toDF("part", "v")), ds,
      partitionBy = Seq("part"))
    sameAsSpark(spark, s"$ds/data.parquet")
    assert(Io.readDataset(spark, ds).data.schema.json ==
      spark.read.parquet(s"$ds/data.parquet").schema.json)
    // required fields in a footer without a Spark schema
    val required = s"$tmp/required.parquet"
    writeRaw(required, "message m { required int64 k; optional binary b; " +
      "required binary s (STRING); }",
      Seq(Map("k" -> 1L, "b" -> "x", "s" -> "y"), Map("k" -> 2L, "s" -> "z")))
    sameAsSpark(spark, required)
    // a session that reads unannotated BINARY as strings
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    sameAsSpark(asString, required)
    assert(Io.readParquet(asString, required).schema("b").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(Io.readParquet(spark, required).schema("b").dataType ==
      org.apache.spark.sql.types.BinaryType)
  }

  test("readParquet throws Spark's exception for an empty directory " +
      "and a corrupt footer") {
    def sameFailure(path: String): Unit = {
      val theirs = intercept[Throwable](spark.read.parquet(path))
      val ours = intercept[Throwable](Io.readParquet(spark, path))
      assert(ours.getClass == theirs.getClass, path)
    }
    val tmp = Files.createTempDirectory("graft_bad").toFile.getPath
    val empty = s"$tmp/empty"
    new java.io.File(empty).mkdirs()
    sameFailure(empty)
    val onlySuccess = s"$tmp/success"
    new java.io.File(onlySuccess).mkdirs()
    Files.writeString(java.nio.file.Paths.get(onlySuccess, "_SUCCESS"), "")
    sameFailure(onlySuccess)
    val corrupt = s"$tmp/corrupt"
    new java.io.File(corrupt).mkdirs()
    Files.write(java.nio.file.Paths.get(corrupt, "part-0.parquet"),
      ("PAR1" + "x" * 64 + "PAR1").getBytes("UTF-8"))
    sameFailure(corrupt)
    sameFailure(s"$tmp/missing")
  }

  /** The descriptions ("" for none) of the Spark jobs `body` starts. */
  private def jobsOf(body: => Unit): Seq[String] =
    JobFence.during(spark.sparkContext)(body)._2
      .map(_.description.getOrElse(""))

  test("readParquet opens a plain table with no Spark job, and names " +
      "the inference job of a layout it leaves to Spark") {
    val tmp = Files.createTempDirectory("graft_jobs").toFile.getPath
    spark.range(0, 50, 1, 2).write.parquet(s"$tmp/flat")
    Io.writeDataset(GraftDataset(
      Seq(("a", 1), ("b", 2)).toDF("part", "v")), s"$tmp/ds",
      partitionBy = Seq("part"))
    assert(jobsOf(Io.readParquet(spark, s"$tmp/flat")).isEmpty)
    assert(jobsOf(Io.readDataset(spark, s"$tmp/ds")) ==
      Seq(s"Io.readParquet: infer schema $tmp/ds/data.parquet"))
    // the same listener does see Spark's own inference job
    assert(jobsOf(spark.read.parquet(s"$tmp/flat")) == Seq(""))
  }

  test("readNanosAsLong reads TIMESTAMP(NANOS) as longs and never " +
      "touches the session's nanosAsLong entry") {
    import org.apache.spark.sql.types.LongType
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val tmp = Files.createTempDirectory("graft_nanos").toFile.getPath
    val message = "message m { required int64 id; " +
      "required int64 ts (TIMESTAMP(NANOS,true)); }"
    val rows = Seq(Map("id" -> 1L, "ts" -> 1500000000123456789L),
      Map("id" -> 2L, "ts" -> 1500000001000000001L))
    val flat = s"$tmp/events.parquet"
    writeRaw(flat, message, rows)
    // a partitioned layout is inferred by Spark, on a session clone
    new java.io.File(s"$tmp/parted/p=1").mkdirs()
    writeRaw(s"$tmp/parted/p=1/part-0.parquet", message, rows)
    val before = spark.conf.getOption(key)
    @volatile var reading = true
    val seenSet = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() =>
      while (reading)
        if (spark.conf.getOption(key) != before) seenSet.set(true))
    poller.start()
    try (1 to 5).foreach { _ =>
      val df = Io.readNanosAsLong(spark, flat)
      assert(df.schema("ts").dataType == LongType)
      assert(df.orderBy("id").select("ts").as[Long].collect().toSeq ==
        rows.map(_("ts")))
      val parted = Io.readNanosAsLong(spark, s"$tmp/parted")
      assert(parted.schema.fieldNames.toSeq == Seq("id", "ts", "p"))
      assert(parted.schema("ts").dataType == LongType)
      assert(parted.select("ts").as[Long].collect().toSet ==
        rows.map(_("ts")).toSet)
    } finally { reading = false; poller.join() }
    assert(!seenSet.get, s"$key was visible on the session during a read")
    assert(spark.conf.getOption(key) == before)
  }
}

/** Sidecar trust model: lineage.json is parsed with a real JSON parser
  * (malformed input throws typed), and the executable `ops_jvm` payload
  * only deserializes under a strict class allowlist AND when the caller
  * declares the directory trusted.
  */
class SidecarSpec extends SparkSpec {
  import spark.implicits._
  import graft.core.{GraftDataset, MalformedSidecarException}
  import graft.operators.FillNA
  import graft.sources.Io

  private def freshDataset(): (String, GraftDataset) = {
    val dir = Files.createTempDirectory("graft_side").toFile.getPath +
      "/out"
    val ds = FillNA(Seq("c"), "x")(
      GraftDataset(Seq(Some("a"), None).toDF("c")))
    Io.writeDataset(ds, dir)
    (dir, ds)
  }

  private def rewriteSidecar(dir: String, body: String): Unit =
    Files.writeString(
      java.nio.file.Paths.get(s"$dir/lineage.json"), body)

  test("malformed sidecar JSON throws the typed exception") {
    val (dir, _) = freshDataset()
    rewriteSidecar(dir, """{"metadata_cols": [unclosed""")
    intercept[MalformedSidecarException] { Io.readDataset(spark, dir) }
  }

  test("signed \\u escape (\\u+0ab) in sidecar is rejected, valid hex parses") {
    val (dir, _) = freshDataset()
    // Integer.parseInt(hex,16) accepts a leading sign — the parser must
    // require 4 strict hex digits, not just "parseable"
    // "\u" split across concat — the Scala lexer would otherwise treat
    // it as a unicode escape even inside a triple-quoted literal
    rewriteSidecar(dir,
      """{"metadata_cols":["a\""" + """u+0ab"],"derived_cols":[]}""")
    intercept[MalformedSidecarException] { Io.readDataset(spark, dir) }
    rewriteSidecar(dir,
      """{"metadata_cols":["c"],"derived_cols":[]}""")
    assert(Io.readDataset(spark, dir, trusted = false)
      .metadataCols == Set("c"))
  }

  test("non-base64 ops_jvm throws the typed exception") {
    val (dir, _) = freshDataset()
    rewriteSidecar(dir,
      """{"metadata_cols":[],"derived_cols":[],"ops_jvm":"!!!not-b64"}""")
    intercept[MalformedSidecarException] { Io.readDataset(spark, dir) }
  }

  test("ops_jvm with a class outside the allowlist is rejected") {
    val (dir, _) = freshDataset()
    // a serialized java.io.File stands in for a gadget-chain payload:
    // serializable, resolvable, NOT in the graft/scala/java.lang/util
    // allowlist — must be rejected before instantiation
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(new java.io.File("/tmp/gadget")); oos.close()
    val b64 = java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    rewriteSidecar(dir,
      s"""{"metadata_cols":[],"derived_cols":[],"ops_jvm":"$b64"}""")
    val e = intercept[MalformedSidecarException] {
      Io.readDataset(spark, dir)
    }
    assert(e.getMessage.contains("allowlist"))
  }

  test("trusted=false loads data but skips executable history") {
    val (dir, _) = freshDataset()
    val back = Io.readDataset(spark, dir, trusted = false)
    assert(back.data.count() == 2)
    assert(back.history.size == 0)
  }

  test("nested sidecar values parse instead of regex-misparsing") {
    val (dir, _) = freshDataset()
    rewriteSidecar(dir,
      """{"metadata_cols":["mA"],"derived_cols":[],
        |"extra":{"nested":["metadata_cols","decoy"]},"ops_jvm":""}"""
        .stripMargin)
    val back = Io.readDataset(spark, dir)
    assert(back.metadataCols == Set("mA")) // escape decoded, decoy ignored
  }
}
