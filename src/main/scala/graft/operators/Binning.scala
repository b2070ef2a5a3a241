package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.DriverJobs

/** Discretization operators (reference: src/trousse/feature_fix.py and
  * scripts/breed_specific_bin_splitting.py).
  */
object Binning {

  /** Bin-id expression for a sorted threshold list: bin 0 = (−∞, t1],
    * bin i = (t_i, t_{i+1}], last bin = (t_n, +∞). Matches the
    * reference's code (feature_fix.py:76-80 uses `<=` upper — the
    * docstring disagrees; we replicate the code, SURVEY.md §7.4 risk 5).
    * Nulls stay null.
    */
  def binIdExpr(c: Column, thresholds: Seq[Double]): Column = {
    val chain = thresholds.zipWithIndex.foldLeft(
      when(c.isNull, lit(null).cast("int"))) { case (w, (t, i)) =>
      w.when(c <= lit(t), lit(i))
    }
    chain.otherwise(lit(thresholds.size))
  }

  /** Equal-width thresholds over [lo, hi] producing `bins` bins:
    * interior cut points lo + w, lo + 2w, …, lo + (bins−1)·w.
    */
  def equalWidthThresholds(lo: Double, hi: Double, bins: Int)
      : Seq[Double] = {
    val w = (hi - lo) / bins
    (1 until bins).map(i => lo + w * i)
  }

  /** Geometrically widening thresholds (reference:
    * breed_specific_bin_splitting.py:15-82): bin widths grow by ratio r,
    * first width solved from the geometric series so `bins` bins span
    * [lo, hi]: w·(r^bins − 1)/(r − 1) = hi − lo.
    */
  def geometricThresholds(lo: Double, hi: Double, bins: Int, r: Double)
      : Seq[Double] = {
    require(r > 0 && r != 1.0, "ratio must be positive and != 1")
    val w0 = (hi - lo) * (r - 1.0) / (math.pow(r, bins) - 1.0)
    (1 until bins).scanLeft(lo + w0) { (acc, i) =>
      acc + w0 * math.pow(r, i)
    }.take(bins - 1)
  }

  /** Equal-FREQUENCY (quantile) binning: thresholds are the exact
    * interior quantiles p = i/bins of the column itself, so every bin
    * holds ~1/bins of the rows no matter how skewed the distribution
    * — the partner to [[equalWidthThresholds]], which a heavy tail
    * collapses into one giant bin. Thresholds come from the
    * range-partitioned exact quantile path
    * ([[ColumnStats.exactQuantiles]], bins−1 driver rows); the
    * assignment is the same `<=`-upper [[binIdExpr]] chain as every
    * other binning op (map-only, comparisons on bit-identical
    * thresholds — engine-replayable).
    */
  def equalFrequencyBins(df: DataFrame, valueCol: String, bins: Int,
      outCol: String = "bin_id"): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val ps = (1 until bins).map(_.toDouble / bins)
    val ths = ColumnStats.exactQuantiles(df, valueCol, ps)
      .orderBy("p").select("quantile").collect()
      .map(_.getDouble(0)).toSeq
    df.withColumn(outCol,
      binIdExpr(col(valueCol).cast("double"), ths).cast("short"))
  }

  /** Widen each [lo,hi) bin range by `extra` fraction of its neighbors;
    * last bin open-ended (reference breed_specific_bin_splitting.py:
    * 85-135). Input/output: (binId, lo, hi) triples.
    */
  def overlappingRanges(ranges: Seq[(Int, Double, Double)], extra: Double)
      : Seq[(Int, Double, Double)] =
    ranges.map { case (id, lo, hi) =>
      val w = hi - lo
      (id, lo - extra * w, if (id == ranges.size - 1) hi + 1 else hi + extra * w)
    }

  /** Per-group (lo, hi, n) stats AND the global (lo, hi) in ONE scan +
    * ONE driver action: a `rollup` on the group key emits the per-group
    * rows plus a grand-total row, told apart from a genuine null group
    * by `grouping(groupCol)` — the total row aggregates ALL rows
    * (null-group included), exactly the semantics of a separate
    * `df.agg(min, max)`. Collect is |groups|+2 rows — bounded.
    * Null-group rows are dropped from the per-group table (they take
    * the null bin downstream).
    */
  private[operators] def groupAndGlobalStats(df: DataFrame,
      groupCol: String, valueCol: String, opName: String)
      : (Seq[(String, Double, Double, Long)], Double, Double) = {
    val g = col(groupCol).cast("string")
    val rows = df.rollup(g.as("__g"))
      .agg(min(col(valueCol)).cast("double").as("__lo"),
        max(col(valueCol)).cast("double").as("__hi"),
        count(col(valueCol)).as("__n"),
        grouping_id().as("__tot"))
      .collect()
    val (totals, perGroup) = rows.partition(_.getAs[Long]("__tot") == 1L)
    val global = totals.head
    require(!global.isNullAt(1),
      s"$opName: '$valueCol' has no non-null values")
    val stats = perGroup.toSeq
      .filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getAs[Double]("__lo"),
        r.getAs[Double]("__hi"), r.getAs[Long]("__n")))
    (stats, global.getDouble(1), global.getDouble(2))
  }
}

/** Threshold-list binning into `{col}_bin_id` (reference:
  * feature_fix.py:33-97). The id→range map is carried on the op for
  * lineage.
  */
final case class SplitIntoBins(
    columns: Seq[String],
    thresholds: Seq[Double],
    suffix: String = "_bin_id"
) extends FeatureOperation {
  require(columns.size == 1, "SplitIntoBins operates on one column")
  def derivedColumns: Seq[String] = Seq(columns.head + suffix)

  def binRanges(min: Double, max: Double): Seq[(Int, Double, Double)] = {
    val bounds = (min - 1) +: thresholds :+ max
    bounds.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
      (i, lo, hi)
    }.toSeq
  }

  protected def transform(df: DataFrame): DataFrame =
    df.withColumn(derivedColumns.head,
      Binning.binIdExpr(col(columns.head), thresholds))
}

/** Combine N categorical columns into one combo-id column named
  * `{c1}-{c2}-…_enc` (reference: feature_fix.py:100-186).
  *
  * Ids follow `itertools.product` order over the per-column SORTED
  * distinct values (feature_fix.py:155). Rather than the reference's
  * O(combos × rows) boolean-mask loop — or even a join — the id is pure
  * arithmetic: id = Σ ordinal_i(value_i) · stride_i, where stride_i is
  * the product of later columns' cardinalities. Per-column ordinals come
  * from bounded `distinct().collect()` dictionaries turned into literal
  * maps: zero shuffles, zero joins, one codegen'd projection. Rows with
  * a null in any source column get a null id (null propagates through
  * the sum), matching the reference's NaN-combo semantics.
  */
final case class CombineCategoricalColumns(
    columns: Seq[String],
    suffix: String = "_enc"
) extends FeatureOperation {
  require(columns.size >= 2, "combine needs at least two columns")
  def derivedColumns: Seq[String] = Seq(columns.mkString("-") + suffix)

  protected def transform(df: DataFrame): DataFrame = {
    val dicts: Seq[Map[String, Long]] = columns.map { c =>
      DictionaryFit.sortedDistinct(df, col(c))
        .zipWithIndex.map { case (v, i) => (v, i.toLong) }.toMap
    }
    df.withColumn(derivedColumns.head,
      CombineCategoricalColumns.idColumn(columns, dicts))
  }
}

object CombineCategoricalColumns {
  /** The combo-id projection over PRE-FITTED dictionaries:
    * id = Σ ordinal_i(value_i) · stride_i with stride_i the product of
    * later columns' cardinalities — shared by the single-combo
    * transform above and [[MultipleCombinations]], which fits each
    * source column once for ALL prefixes.
    */
  private[operators] def idColumn(columns: Seq[String],
      dicts: Seq[Map[String, Long]]): Column = {
    val strides = dicts.map(_.size.toLong)
      .scanRight(1L)(_ * _).tail // stride_i = Π_{j>i} |dict_j|
    columns.zip(dicts).zip(strides).map {
      case ((c, dict), stride) =>
        element_at(typedlit(dict), col(c).cast("string")) * lit(stride)
    }.reduce(_ + _)
  }
}

/** Run CombineCategoricalColumns on every prefix of `columns`
  * (reference: feature_fix.py:425-455).
  */
final case class MultipleCombinations(columns: Seq[String])
    extends FeatureOperation {
  def derivedColumns: Seq[String] =
    (1 to columns.size).map(k => columns.take(k).mkString("-") + "_enc")
      .filter(_ => columns.size >= 2)
  protected def transform(df: DataFrame): DataFrame = {
    if (columns.size < 2) return df
    // fit each SOURCE column's dictionary exactly once, concurrently —
    // the per-prefix fold re-fit every shared column per prefix (k
    // prefixes over n columns cost n(n+1)/2 − 1 distinct-collect jobs,
    // run sequentially; now n, overlapped). The prefixes' combo ids
    // are pure arithmetic over those shared dictionaries, so the
    // output is bit-identical to folding CombineCategoricalColumns.
    val sc = df.sparkSession.sparkContext
    val dicts: Map[String, Map[String, Long]] = columns.map(c =>
      DriverJobs.fork(sc, s"MultipleCombinations: fit $c")(c ->
        DictionaryFit.sortedDistinct(df, col(c))
          .zipWithIndex.map { case (v, i) => (v, i.toLong) }.toMap))
      .map(DriverJobs.join).toMap
    (2 to columns.size).foldLeft(df) { (d, k) =>
      val cs = columns.take(k)
      d.withColumn(cs.mkString("-") + "_enc",
        CombineCategoricalColumns.idColumn(cs, cs.map(dicts)))
    }
  }
}

/** Per-group binning (reference: breed_specific_bin_splitting.py — the
  * per-BREED bin computation generalized): for each value of `groupCol`,
  * compute that group's [min,max] of `valueCol` and bin into `bins`
  * equal-width bins; groups with fewer than `minGroupSize` rows fall
  * back to the whole-frame range (the reference falls back to the
  * MONGREL breed's bins, :266-300). Null-group rows pass through with a
  * null bin id (reference :384-420 splits them out and re-appends).
  *
  * Scale design: group stats come from one `groupBy().agg()` (map-side
  * partial agg), the per-group threshold table is computed on the driver
  * (|groups| rows — bounded) and applied as a BROADCAST join + arithmetic
  * projection, so the data itself is scanned once and never shuffled.
  */
/** B4+B6 wired together: per-group binning on GEOMETRIC thresholds
  * (reference breed_specific_bin_splitting.py:15-82 + :266-300 — the
  * per-breed flow bins on geometrically widening bins with a fallback
  * for small groups, not equal width). Same scale shape as
  * [[GroupedBinning]]: one groupBy stats job, driver threshold table
  * (|groups| × bins-1 doubles — bounded), broadcast join + a sum of
  * codegen'd comparisons. Bin i covers (t_i, t_{i+1}]; values ≤ t_1 get
  * bin 0, values > t_{bins-1} get bin bins−1.
  */
final case class GroupedGeometricBinning(
    groupCol: String,
    valueCol: String,
    bins: Int,
    ratio: Double = 2.0,
    minGroupSize: Long = 20L
) extends FeatureOperation {
  def columns: Seq[String]        = Seq(groupCol, valueCol)
  def derivedColumns: Seq[String] = Seq(s"${valueCol}_bin_id")

  protected def transform(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val (stats, glo, ghi) = Binning.groupAndGlobalStats(
      df, groupCol, valueCol, "GroupedGeometricBinning")
    val table = stats.map { case (g, slo, shi, n) =>
      val (lo, hi) =
        if (n < minGroupSize) (glo, ghi) else (slo, shi)
      val ts = Binning.geometricThresholds(lo, hi, bins, ratio)
      (g +: ts.map(_.asInstanceOf[Any])).toSeq
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__g",
        org.apache.spark.sql.types.StringType) +:
      (1 until bins).map(i => org.apache.spark.sql.types.StructField(
        s"__t$i", org.apache.spark.sql.types.DoubleType)))
    val tdf = df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(
        table.toSeq.map(org.apache.spark.sql.Row.fromSeq)), schema)
    val joined = df.join(broadcast(tdf),
      col(groupCol).cast("string") === col("__g"), "left")
    val id = when(col(valueCol).isNull || col("__g").isNull,
        lit(null).cast("int"))
      .otherwise((1 until bins).map(i =>
        (col(valueCol) > col(s"__t$i")).cast("int")).reduce(_ + _))
    joined.withColumn(derivedColumns.head, id)
      .drop("__g" +: (1 until bins).map(i => s"__t$i"): _*)
  }
}

/** B5 wired as the row-DUPLICATING overlapped-bins range join
  * (reference breed_specific_bin_splitting.py:225-263,
  * `create_df_with_overlapping_bins_single_breed`): each row lands in
  * EVERY bin whose widened [lo, hi] range covers it — a deliberate
  * explode. The ranges table is tiny and broadcast, so the fact side
  * never shuffles; output size = Σ per-bin matches.
  */
final case class OverlappingBinning(
    columns: Seq[String],
    ranges: Seq[(Int, Double, Double)]
) extends FeatureOperation {
  require(columns.size == 1, "OverlappingBinning operates on one column")
  def derivedColumns: Seq[String] = Seq(s"${columns.head}_bin_id")

  protected def transform(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val c  = columns.head
    val rt = ranges.toDF("__bin", "__lo", "__hi")
    df.join(broadcast(rt),
        col(c) >= col("__lo") && col(c) <= col("__hi"), "inner")
      .withColumn(derivedColumns.head, col("__bin"))
      .drop("__bin", "__lo", "__hi")
  }
}

final case class GroupedBinning(
    groupCol: String,
    valueCol: String,
    bins: Int,
    minGroupSize: Long = 20L
) extends FeatureOperation {
  def columns: Seq[String]        = Seq(groupCol, valueCol)
  def derivedColumns: Seq[String] = Seq(s"${valueCol}_bin_id")

  protected def transform(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val (stats, glo, ghi) = Binning.groupAndGlobalStats(
      df, groupCol, valueCol, "GroupedBinning")
    val table = stats.map { case (g, slo, shi, n) =>
      val (lo, hi) =
        if (n < minGroupSize) (glo, ghi) else (slo, shi)
      (g, lo, (hi - lo) / bins)
    }.toDF("__g", "__lo", "__w")
    val joined = df.join(broadcast(table),
      col(groupCol).cast("string") === col("__g"), "left")
    val raw = floor((col(valueCol) - col("__lo")) / col("__w"))
    val id = when(col(valueCol).isNull || col("__g").isNull,
        lit(null).cast("int"))
      .when(col("__w") === 0.0, lit(0))
      .otherwise(least(greatest(raw, lit(0)), lit(bins - 1)).cast("int"))
    joined.withColumn(derivedColumns.head, id)
      .drop("__g", "__lo", "__w")
  }
}
