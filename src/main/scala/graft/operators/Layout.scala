package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Io

/** Data-layout control: Z-order (Morton-curve) clustered writes.
  *
  * At 100 TB the scan is the query plan's biggest line item, and the
  * only leverage over it after predicate pushdown is LAYOUT: parquet
  * keeps per-file and per-row-group min/max stats, and a reader prunes
  * a file when the predicate's range misses the file's range. A linear
  * sort clusters ONE column perfectly and leaves every other column's
  * per-file range at full width; interleaving the bits of several
  * columns' ranks (the Morton curve) gives every interleaved column a
  * per-file range of roughly range/2^(fileBits/k) — multi-dimensional
  * pruning from one write. This is the same layout `OPTIMIZE ZORDER BY`
  * applies in lakehouse engines, built here from plain Spark pieces:
  * approximate per-column quantiles → bucket ranks → bit interleave →
  * `repartitionByRange` + `sortWithinPartitions` → parquet.
  *
  * Rank assignment uses equi-DEPTH buckets (approxQuantile), not
  * equi-width: skewed columns would otherwise collapse most rows into
  * a few buckets and the curve degenerates to a linear sort on the
  * remaining dimensions.
  */
object Layout {

  /** Morton z-value from per-column bucket ranks (each in
    * [0, 2^bits)): bit i of rank j lands at interleaved position
    * i·k + (k−1−j), so `ranks` are interleaved most-significant-first
    * with column 0 owning the highest bit of each group. Pure integer
    * expression — shifts and ORs, codegen-friendly.
    */
  def zValueColumn(ranks: Seq[Column], bits: Int): Column = {
    val k = ranks.size
    require(k >= 1, "zValue needs at least one rank column")
    require(bits * k <= 63, s"$k cols x $bits bits exceeds a long")
    val parts = for {
      i <- 0 until bits
      j <- 0 until k
    } yield shiftleft(
      shiftright(ranks(j).cast("long"), i).bitwiseAND(lit(1L)),
      i * k + (k - 1 - j))
    parts.reduce(_ bitwiseOR _)
  }

  /** Equi-depth bucket rank of `c` against sorted `boundaries`
    * (driver-computed approx quantiles): the count of boundaries ≤
    * value, nulls to bucket 0. 2^bits−1 boundaries → ranks in
    * [0, 2^bits).
    *
    * Compiled as a BINARY-SEARCH `when` tree (depth ⌈log2 |bnds|⌉),
    * not a fold over the boundary array: the higher-order `aggregate`
    * ran as an interpreted 63-step lambda per row per column, and the
    * range shuffle evaluates the rank expression TWICE (once in
    * RangePartitioner's sampling pass, once partitioning the real
    * rows) — measured as the two dominant jobs of q_zorder. The
    * nested CASE WHEN stays inside whole-stage codegen and each row
    * takes only the ~`bits` comparisons on its search path. Result is
    * identical: with `bnds` sorted ascending, the first index whose
    * boundary exceeds the value equals the count of boundaries ≤
    * value (duplicates included on both forms).
    */
  private[graft] def bucketRank(c: Column,
      boundaries: Array[Double]): Column = {
    def tree(lo: Int, hi: Int): Column = // rank within bnds[lo, hi)
      if (lo >= hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(c.cast("double") >= boundaries(mid), tree(mid + 1, hi))
          .otherwise(tree(lo, mid))
      }
    when(c.isNull, lit(0L)).otherwise(tree(0, boundaries.length))
  }

  /** Write `df` as parquet at `path`, clustered on the Morton curve
    * of `cols` (numeric). `outPartitions` bounds the file count (one
    * file per range partition); `quantileErr` is the approxQuantile
    * relative error — rank skew from the approximation costs pruning
    * sharpness, never correctness.
    *
    * Cost shape: ONE fused approxQuantile pass for ALL columns (the
    * multi-column overload — one job, one scan; the driver gets
    * 2^bits−1 doubles per column — bounded, never data-sized), then
    * ONE range shuffle of the full frame. The z column is dropped
    * before the write; the layout, not an extra column, carries the
    * benefit.
    */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
      outPartitions: Int, bits: Int = 6,
      quantileErr: Double = 0.01): Unit =
    zordered(df, cols, outPartitions, bits, quantileErr)
      .write.mode("overwrite").parquet(path)

  /** The frame [[zorderWrite]] writes. Each rank is bound once as a
    * column before the z-value reads it `bits` times: Catalyst's
    * `CollapseProject` does not re-inline a non-cheap expression used
    * more than once, so the plan (serialized into every task) holds one
    * `bucketRank` tree per column instead of `bits` copies of it. */
  private[graft] def zordered(df: DataFrame, cols: Seq[String],
      outPartitions: Int, bits: Int, quantileErr: Double): DataFrame = {
    require(cols.nonEmpty, "zorderWrite needs at least one column")
    val probes = (1 until (1 << bits))
      .map(_.toDouble / (1 << bits)).toArray
    val bounds = df.stat.approxQuantile(cols.toArray, probes,
      quantileErr)
    val names = cols.indices.map(j => s"__rank$j")
    val ranks = cols.zip(bounds).zip(names).map { case ((c, bnds), n) =>
      bucketRank(col(c), bnds).as(n)
    }
    df.select(col("*") +: ranks: _*)
      .withColumn("__z", zValueColumn(names.map(col), bits))
      .drop(names: _*)
      .repartitionByRange(outPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Per-file layout listing of a parquet directory tree: `(file,
    * bytes)` for every data file (hidden/_SUCCESS metadata skipped) —
    * recursive Hadoop-FS walk through whatever partition directories
    * exist. The list is file-count-sized (driver-safe: a healthy
    * 100 TB table is ~10⁵ files, and an UNHEALTHY one is exactly what
    * [[fileAudit]] exists to catch before it grows).
    */
  def fileList(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toString
    // hidden check must cover ANCESTOR components too (Spark's own
    // listing semantics): a crashed/concurrent write leaves
    // _temporary/.../part-*.parquet whose LEAF name looks like data —
    // listing it would let Incremental ingest uncommitted bytes
    def hiddenUnderBase(path: Path): Boolean = {
      var q = path
      while (q != null && q.toString != base) {
        val n = q.getName
        if (n.startsWith("_") || n.startsWith(".")) return true
        q = q.getParent
      }
      false
    }
    val it = fs.listFiles(p, true)
    val rows = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(st => !hiddenUnderBase(st.getPath))
      .map(st => (st.getPath.toString, st.getLen))
      .toSeq
    import spark.implicits._
    rows.toDF("file", "bytes")
  }

  /** Compact a parquet table to ~`targetBytes` files: re-read,
    * repartition to ⌈total/target⌉ output files, rewrite — the
    * remediation [[fileAudit]] triggers. Round-robin repartition
    * (no column) keeps sizes uniform; pass `sortCols` to restore a
    * clustered layout in the same pass (range partition + in-file
    * sort — min/max pruning survives the compaction). Returns the
    * output partition count actually used.
    *
    * Sizing uses the CURRENT on-disk bytes (compressed), so the
    * rewritten files land near `targetBytes` at similar compression —
    * exact file sizes are codec-dependent, the audit is the check.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Seq.empty): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    // overwrite-mode deletes outPath BEFORE the lazy read of inPath
    // runs — an in-place compaction would destroy the source table
    locally {
      import org.apache.hadoop.fs.Path
      val fs = new Path(inPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.makeQualified(new Path(inPath)) !=
          fs.makeQualified(new Path(outPath)),
        s"compact cannot run in place: outPath == inPath ($inPath); " +
          "write to a temp dir and swap")
    }
    val total = fileList(spark, inPath)
      .agg(coalesce(sum("bytes"), lit(0L)))
      .head().getLong(0)
    require(total > 0,
      s"nothing to compact: no data files under $inPath")
    val parts = math.max(1L,
      (total + targetBytes - 1) / targetBytes).toInt
    val df = Io.readParquet(spark, inPath)
    val out =
      if (sortCols.isEmpty) df.repartition(parts)
      else df.repartitionByRange(parts, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    out.write.mode("overwrite").parquet(outPath)
    parts
  }

  /** Small-file audit of a parquet table — the layout pathology that
    * quietly kills 100 TB scans (per-file open cost, starved scan
    * parallelism, NameNode/manifest pressure): one summary row
    * `(n_files, total_bytes, min_bytes, max_bytes, mean_bytes,
    * n_small, small_frac_milli)` where a file is small under
    * `smallBytes` (default 32 MiB; healthy parquet targets 128 MiB–
    * 1 GiB). `small_frac_milli` is the exact integer
    * `n_small·1000 DIV n_files`. Wire it to the snapshot-diff /
    * drift gates: compaction is due when small_frac climbs.
    */
  def fileAudit(spark: org.apache.spark.sql.SparkSession,
      path: String, smallBytes: Long = 32L * 1024 * 1024): DataFrame = {
    require(smallBytes > 0, "smallBytes must be positive")
    fileList(spark, path).agg(
      count(lit(1)).as("n_files"),
      sum("bytes").as("total_bytes"),
      min("bytes").as("min_bytes"),
      max("bytes").as("max_bytes"),
      expr("sum(bytes) DIV greatest(count(1), 1)").as("mean_bytes"),
      count(when(col("bytes") < smallBytes, 1)).as("n_small"),
      expr(s"count(CASE WHEN bytes < $smallBytes THEN 1 END) * 1000" +
        " DIV greatest(count(1), 1)").as("small_frac_milli"))
  }
}
