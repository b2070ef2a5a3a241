package graft

import org.apache.spark.sql.catalyst.expressions.{CaseWhen, IsNull}
import org.apache.spark.sql.functions._
import graft.operators.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zValueColumn interleaves bits, column 0 most significant") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L),
      (0L, 2L), (3L, 3L)).toDF("a", "b")
    val z = df.select(Layout.zValueColumn(
      Seq(col("a"), col("b")), bits = 2)).as[Long].collect().toSeq
    // a=(a1 a0), b=(b1 b0) -> z = a1 b1 a0 b0
    assert(z == Seq(0L, 2L, 1L, 3L, 8L, 4L, 15L))
  }

  test("zValueColumn rejects widths that overflow a long") {
    intercept[IllegalArgumentException] {
      Layout.zValueColumn(Seq(col("a"), col("b")), bits = 32)
    }
  }

  test("z-order write clusters BOTH dimensions; linear sort only one") {
    // a uniform 2-D grid: x and y carry independent information, the
    // adversarial case for a linear layout
    val n = 40000
    val df = spark.range(n.toLong).select(
      (col("id") % 200).cast("double").as("x"),
      (col("id") / 200).cast("double").as("y"))
    val zDir = "/tmp/graft_layout_z"
    val linDir = "/tmp/graft_layout_lin"
    Layout.zorderWrite(df, Seq("x", "y"), zDir, outPartitions = 16)
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linDir)

    // per-FILE spread of each dimension, as a fraction of its range:
    // the number parquet min/max pruning actually sees
    def spreads(dir: String): (Double, Double) = {
      val byFile = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(((max("x") - min("x")) / 199.0).as("sx"),
          ((max("y") - min("y")) / (n / 200.0 - 1.0)).as("sy"))
        .agg(avg("sx"), avg("sy")).head()
      (byFile.getDouble(0), byFile.getDouble(1))
    }
    val (zx, zy) = spreads(zDir)
    val (lx, ly) = spreads(linDir)
    // linear: x razor-sharp, y useless (every file spans ~all of y)
    assert(lx < 0.15, s"linear x spread $lx")
    assert(ly > 0.85, s"linear y spread $ly")
    // z-order: BOTH dimensions prunable — 16 files over a 2-D curve
    // give per-file spreads well under half the range on each axis
    assert(zx < 0.5, s"z x spread $zx")
    assert(zy < 0.5, s"z y spread $zy")
    // and the write is lossless
    assert(spark.read.parquet(zDir).count() == n.toLong)
    // exact integral sums — double-sum order differs across layouts
    assert(spark.read.parquet(zDir)
      .agg(sum(col("x").cast("long")), sum(col("y").cast("long")))
      .head().toSeq ==
      df.agg(sum(col("x").cast("long")), sum(col("y").cast("long")))
        .head().toSeq)
  }

  test("fileAudit counts data files, skips metadata, flags small " +
      "files with the exact milli fraction") {
    val dir = "/tmp/graft_layout_audit"
    spark.range(1000L).repartition(4)
      .write.mode("overwrite").parquet(dir)
    val files = Layout.fileList(spark, dir)
      .as[(String, Long)].collect()
    assert(files.length == 4)
    assert(files.forall(f => f._1.endsWith(".parquet") && f._2 > 0))
    // every file here is far below 32 MiB -> all small
    val a = Layout.fileAudit(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(a._1 == 4 && a._2 == files.map(_._2).sum)
    assert(a._3 == files.map(_._2).min && a._4 == files.map(_._2).max)
    assert(a._5 == a._2 / 4)
    assert(a._6 == 4 && a._7 == 1000L)
    // with a 1-byte threshold nothing is small
    val b = Layout.fileAudit(spark, dir, smallBytes = 1L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(b._6 == 0 && b._7 == 0L)
  }

  test("fileList skips files under HIDDEN ancestor directories " +
      "(uncommitted _temporary writes never ingest)") {
    val dir = "/tmp/graft_layout_hidden"
    spark.range(10L).coalesce(1).write.mode("overwrite").parquet(dir)
    // simulate a crashed writer's leftover: a data-looking leaf under
    // a _temporary ancestor
    val tmp = new java.io.File(s"$dir/_temporary/0/task_1")
    tmp.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_temporary/0/task_1/" +
        "part-00000.parquet"),
      Array.fill(64)(7.toByte))
    val files = Layout.fileList(spark, dir)
      .as[(String, Long)].collect()
    assert(files.length == 1)
    assert(!files.head._1.contains("_temporary"))
    // empty input: compact refuses loudly instead of NPE
    val empty = "/tmp/graft_layout_empty"
    new java.io.File(empty).mkdirs()
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, empty, "/tmp/graft_layout_empty_out")
    }
    assert(e.getMessage.contains("nothing to compact"))
  }

  test("compact rewrites a fragmented table to the computed file " +
      "count, preserving content; sortCols restore clustering") {
    val in = "/tmp/graft_layout_frag"
    val out = "/tmp/graft_layout_compacted"
    spark.range(20000L).select(col("id"),
        (col("id") % 97).as("k"))
      .repartition(50).write.mode("overwrite").parquet(in)
    val total = Layout.fileList(spark, in)
      .agg(sum("bytes")).as[Long].head()
    // target half the table -> exactly 2 output files
    val parts = Layout.compact(spark, in, out,
      targetBytes = (total + 1) / 2)
    assert(parts == 2)
    assert(Layout.fileList(spark, out).count() == 2L)
    assert(spark.read.parquet(out).agg(sum("id")).as[Long].head()
      == spark.read.parquet(in).agg(sum("id")).as[Long].head())
    // sorted compaction: each output file covers a disjoint k-range
    val outS = "/tmp/graft_layout_compacted_sorted"
    Layout.compact(spark, in, outS, (total + 1) / 2, Seq("k"))
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val ranges = spark.read.parquet(outS)
      .select(input_file_name().as("f"), col("k"))
      .groupBy("f").agg(fmin("k").as("lo"), fmax("k").as("hi"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(ranges.length == 2)
    assert(ranges(0)._3 <= ranges(1)._2) // disjoint min/max -> pruning
  }

  test("bucketRank binary-search tree == count of boundaries <= value, " +
      "including duplicates, nulls and NaN") {
    // the r19 optimization replaced the interpreted aggregate-fold
    // with a codegen when-tree; this pins the definitional equality
    // rank(v) = |{ b in boundaries : b <= v }| on the tricky inputs
    val bnds = Array(1.0, 2.0, 2.0, 5.0, 7.5, 7.5, 7.5) // duplicates
    def refRank(v: java.lang.Double): Long =
      if (v == null) 0L
      else if (v.isNaN) bnds.length.toLong // Spark: NaN > any double
      else bnds.count(b => b <= v).toLong
    val vals: Seq[java.lang.Double] =
      Seq(0.0, 1.0, 1.5, 2.0, 2.5, 5.0, 7.5, 99.0, Double.NaN, null)
    val df = vals.toDF("v")
    val got = df.select(Layout.bucketRank(col("v"), bnds).as("r"))
      .as[Long].collect().toSeq
    assert(got == vals.map(refRank),
      s"got $got want ${vals.map(refRank)}")
  }

  test("z-order plan holds one rank tree per column, not one per bit") {
    // nullable inputs keep each bucketRank's null branch, which marks
    // the root of its tree; the z-value reads every rank `bits` times
    val df = spark.range(2000).select(
      when(col("id") % 50 =!= 0, col("id") % 37).as("x"),
      when(col("id") % 70 =!= 0, col("id") / 37).as("y"))
    val plan = Layout.zordered(df, Seq("x", "y"), outPartitions = 4,
      bits = 6, quantileErr = 0.01).queryExecution.optimizedPlan
    val trees = plan.flatMap(_.expressions).map(_.collect {
      case CaseWhen(Seq((IsNull(_), _)), _) => 1
    }.size).sum
    assert(trees == 2, plan)
  }
}
