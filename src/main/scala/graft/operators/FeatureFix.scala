package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.core.{DriverJobs, GraftDataset}

/** Shared bounded-dictionary fit: the distinct values of an expression,
  * sorted, collected to the driver with a hard cardinality guard.
  *
  * Every encoder-style op needs a driver-side dictionary; on a genuinely
  * categorical column the size is bounded by the classification
  * heuristic (≤ n/300), but nothing used to CHECK — one-hot on a
  * high-cardinality key column would OOM the driver and emit a million
  * columns. The guard costs nothing extra: the fit collects through
  * `limit(max+1)` (TakeOrderedAndProject — a bounded per-partition
  * top-k, never a full sort) and fails fast when the limit is hit.
  */
private[graft] object DictionaryFit {
  val DefaultMaxCategories = 10000

  /** Monotonic fit counter — lets specs pin the single-fit contract
    * (one distinct-collect per encoder application) without depending
    * on AQE-sensitive Spark job counts.
    */
  private[graft] val fitCount = new java.util.concurrent.atomic.AtomicLong

  def sortedDistinct(df: DataFrame, expr: Column,
      max: Int = DefaultMaxCategories): Seq[String] = {
    fitCount.incrementAndGet()
    val vals = df.select(expr.cast("string").as("__v"))
      .filter(col("__v").isNotNull)
      .distinct().orderBy(col("__v"))
      .limit(max + 1)
      .collect().map(_.getString(0)).toSeq
    if (vals.size > max)
      throw new IllegalArgumentException(
        s"dictionary fit exceeded $max distinct values — the column is " +
        "not categorical; refusing to collect an unbounded dictionary " +
        "to the driver (reference only encodes categorical columns, " +
        "dataset.py:493-535)")
    vals
  }
}

/** B7: `encode_single_categorical_column` (reference:
  * src/trousse/feature_fix.py:242-349) — the reference's primary
  * user-facing encoding entry point, re-expressed as one Spark
  * projection:
  *
  *  - skip (return input unchanged) when the column already has an
  *    encoded derivative or is numeric, unless `force`;
  *  - nulls become the `NAN_CATEGORY = "Nan"` placeholder
  *    (feature_fix.py:15) so they participate in the category
  *    dictionary;
  *  - unless `caseSensitive`, values are title-cased first so
  *    different capitalizations collapse — FULL `.str.title()`
  *    semantics via the [[graft.functions.PyTitle]] kernel (titles at
  *    any non-letter boundary: "o'neil" → "O'Neil", where `initcap`
  *    would give "O'neil");
  *  - ordinal: `{col}_enc` = index in the sorted dictionary (which may
  *    include "Nan"); one-hot: one bool column per non-Nan category
  *    (the Nan-derived column is dropped, feature_fix.py:258-262);
  *  - rows that were null originally are RESTORED to null in every
  *    derived column (feature_fix.py:361-363);
  *  - the applied op copy carries `categoriesOut`, from which
  *    [[encodedValuesMap]] reproduces the reference's id→value lineage
  *    map.
  */
final case class EncodeSingleCategorical(
    column: String,
    method: String = "ordinal",
    caseSensitive: Boolean = false,
    force: Boolean = false,
    categoriesOut: Seq[String] = Seq.empty
) extends FeatureOperation {
  require(method == "ordinal" || method == "onehot",
    s"unknown encoding '$method' — expected 'ordinal' or 'onehot'")

  import EncodeSingleCategorical.NanCategory

  def columns: Seq[String] = Seq(column)

  def derivedColumns: Seq[String] = method match {
    case "ordinal" => Seq(s"${column}_enc")
    case _ => categoriesOut.filterNot(_ == NanCategory)
        .map(cat => s"${column}_${cat}_enc")
  }

  /** id → category value, the reference's `encoded_values_map`
    * (feature_fix.py:366-368); available after application.
    */
  def encodedValuesMap: Map[Long, String] =
    categoriesOut.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toMap

  private def normExpr: Column = {
    val base  = col(column).cast("string")
    val cased =
      if (caseSensitive) base
      else graft.functions.NativeHash.pyTitleColumn(base)
    coalesce(cased, lit(NanCategory))
  }

  /** Skip when ANY encoded derivative of the column exists — the
    * ordinal `{col}_enc` or any one-hot `{col}_{cat}_enc` — so a second
    * application of either method is a no-op. (The reference's own skip
    * check misses the one-hot shape, feature_fix.py:286-298; we follow
    * the intended semantics, SURVEY §2.11.)
    */
  private def shouldSkip(df: DataFrame): Boolean =
    !force && (
      df.columns.exists(c =>
        c.startsWith(s"${column}_") && c.endsWith("_enc")) ||
      df.schema(column).dataType.isInstanceOf[NumericType])

  private def fit(df: DataFrame): Seq[String] =
    DictionaryFit.sortedDistinct(df, normExpr)

  protected def transform(df: DataFrame): DataFrame = {
    if (shouldSkip(df)) return df
    val cats = if (categoriesOut.nonEmpty) categoriesOut else fit(df)
    val restoreNull = col(column).isNull
    method match {
      case "ordinal" =>
        val m = typedlit(
          cats.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toMap)
        df.withColumn(s"${column}_enc",
          when(restoreNull, lit(null).cast("long"))
            .otherwise(element_at(m, normExpr)))
      case _ =>
        cats.filterNot(_ == NanCategory).foldLeft(df) { (d, cat) =>
          d.withColumn(s"${column}_${cat}_enc",
            when(restoreNull, lit(null).cast("boolean"))
              .otherwise(normExpr === lit(cat)))
        }
    }
  }

  override protected def applied(df: DataFrame): FeatureOperation =
    if (categoriesOut.nonEmpty || shouldSkip(df)) this
    else copy(categoriesOut = fit(df))

  /** The fit step alone, returning the op with its dictionary
    * attached — lets [[FeatureFix.encodeMultiCategorical]] run the
    * per-column distinct-collect jobs CONCURRENTLY (they are
    * independent job chains the scheduler overlaps) instead of one
    * per sequential apply. Applying the returned op reuses the
    * dictionary (same [[applied]] copy the sequential path records),
    * so history and output are bit-identical to the unprefit flow.
    */
  private[operators] def prefit(df: DataFrame): EncodeSingleCategorical =
    if (categoriesOut.nonEmpty || shouldSkip(df)) this
    else copy(categoriesOut = fit(df))

  /** Skipped encodes return the dataset UNCHANGED — no history entry
    * (the reference returns the input object, feature_fix.py:286-298).
    */
  override def apply(ds: GraftDataset): GraftDataset =
    if (shouldSkip(ds.data)) ds else super.apply(ds)
}

object EncodeSingleCategorical {
  /** reference feature_fix.py:15 (`NAN_CATEGORY.title()` = "Nan") */
  val NanCategory = "Nan"
}

/** B8: `encode_multi_categorical_columns` (reference:
  * feature_fix.py:352-397): B7 looped over the given columns, or over
  * every string-categorical column per the classification when none
  * are given. Non-categorical requested columns are rejected (the
  * reference only logs — we fail loudly, SURVEY.md §2.11 port decision).
  */
object FeatureFix {
  def encodeMultiCategorical(
      ds: GraftDataset,
      columns: Seq[String] = Seq.empty,
      method: String = "ordinal",
      caseSensitive: Boolean = false
  ): GraftDataset = {
    val targets =
      if (columns.isEmpty)
        ds.classification.strCategoricalCols.toSeq.sorted
      else {
        val nonCateg =
          columns.toSet -- ds.classification.categoricalCols
        require(nonCateg.isEmpty,
          s"non-categorical columns requested: ${nonCateg.toSeq.sorted}")
        columns
      }
    // Prefit every column's dictionary CONCURRENTLY: each fit is an
    // independent distinct+collect chain, and the sequential foldLeft
    // ran them back to back (measured: the fits, not the final
    // projection, dominate q_encode_multi). The prefit op carries
    // categoriesOut, so the fold below applies without re-fitting and
    // records the exact op copy the sequential flow recorded.
    val sc = ds.data.sparkSession.sparkContext
    val prefitted = targets.map(c =>
      DriverJobs.fork(sc, s"FeatureFix.encodeMultiCategorical: fit $c")(
        EncodeSingleCategorical(c, method, caseSensitive)
          .prefit(ds.data))).map(DriverJobs.join)
    prefitted.foldLeft(ds)((d, op) => op(d))
  }
}
