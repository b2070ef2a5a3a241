package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StructField}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ColumnClassification, DriverJobs, GraftDataset,
  Inference}

/** Shared bounded-dictionary fit: the sorted distinct non-null values
  * of k expressions (cast to string), collected to the driver with a
  * hard cardinality guard.
  *
  * Every encoder-style op needs a driver-side dictionary; on a genuinely
  * categorical column the size is bounded by the classification
  * heuristic (≤ n/300), but nothing else CHECKS — one-hot on a
  * high-cardinality key column would OOM the driver and emit a million
  * columns. The fit is ONE Spark job with no exchange
  * ([[DriverJobs.scan]]), whatever k is (none when k = 0), named
  * `"<step>: fit <names>"`:
  *
  *  - each task scans its partition once and keeps one hash set per
  *    expression, copying a value only when it is unseen; a set stops
  *    growing at `max + 1` values, so a task ships at most
  *    k·(max + 1) values;
  *  - the driver merges the task results as they arrive, again up to
  *    `max + 1` per expression, and refuses (naming the column) when
  *    one passes `max`. A column with ≤ `max` distinct values never
  *    fills a task's set, so a merged set that does not overflow is
  *    exact;
  *  - the driver sorts each dictionary by [[UTF8String.binaryCompare]]:
  *    the string cast drops any collation, so this is Spark's
  *    `orderBy` on the cast column (Java `String` order is not: it puts
  *    U+1F600 before U+FFFD).
  *
  * [[classifyAndFit]] folds the approx classification of some columns
  * ([[Inference.Counters]]) into the same scan.
  */
private[graft] object DictionaryFit {
  val DefaultMaxCategories = 10000

  /** Monotonic fit-call counter — lets specs pin the single-fit contract
    * (one fit per encoder application, one for all columns of a
    * multi-column op) without depending on Spark job counts.
    */
  private[graft] val fitCount = new java.util.concurrent.atomic.AtomicLong

  /** The dictionary of each `(column name, expression)`, in order. */
  def fit(df: DataFrame, step: String, exprs: Seq[(String, Column)],
      max: Int = DefaultMaxCategories): Seq[Seq[String]] =
    if (exprs.isEmpty) Seq.empty
    else scan(df, s"$step: fit ${names(exprs)}", Nil, exprs, max)._2
      .dictionaries(exprs.map(_._1))

  /** The approx classification of the columns `cols` names
    * ([[Inference.classify]]'s) and a thunk for the dictionaries of
    * `exprs` ([[fit]]'s), from one job named `"<step>: classify
    * <cols>, fit <names>"`. The thunk refuses an overflowing
    * dictionary, so a caller can refuse the classification first. */
  def classifyAndFit(df: DataFrame, step: String, cols: Seq[String],
      exprs: Seq[(String, Column)], max: Int = DefaultMaxCategories)
      : (ColumnClassification, () => Seq[Seq[String]]) = {
    val fields = Inference.fieldsOf(df, cols)
    val fitted = if (exprs.isEmpty) "" else s", fit ${names(exprs)}"
    Inference.distinctJobCount.incrementAndGet()
    val (counters, sets) = scan(df,
      s"$step: classify ${fields.map(_.name).mkString(",")}$fitted",
      fields, exprs, max)
    (Inference.classification(fields, counters),
      () => sets.dictionaries(exprs.map(_._1)))
  }

  private def names(exprs: Seq[(String, Column)]): String =
    exprs.map(_._1).mkString(",")

  /** One job over `df`: the classification counters of `fields` and the
    * distinct values of `exprs`, from one projection. */
  private def scan(df: DataFrame, desc: String, fields: Seq[StructField],
      exprs: Seq[(String, Column)], max: Int): (Inference.Counters, Sets) = {
    if (exprs.nonEmpty) fitCount.incrementAndGet()
    val types = Inference.statsTypes(fields)
    val (at, k) = (3 * fields.size, exprs.size)
    val all = (new Inference.Counters(types), new Sets(at, k, max))
    DriverJobs.scan(df.select(Inference.statsColumns(fields) ++
        exprs.zipWithIndex.map { case ((_, e), i) =>
          e.cast("string").as(s"__v$i") }: _*), desc,
        if (exprs.isEmpty) "classification" else "dictionary fit") { rows =>
      val (counters, sets) = (new Inference.Counters(types),
        new Sets(at, k, max))
      rows.foreach { r => counters.add(r); sets.add(r) }
      (counters, sets)
    } { case (counters, sets) =>
      all._1.merge(counters)
      all._2.merge(sets)
    }
    all
  }

  /** value → index in a fitted dictionary. */
  def ordinals(dict: Seq[String]): Map[String, Long] =
    dict.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toMap

  /** The distinct non-null values of the k string columns at ordinals
    * `at` to `at + k - 1`, at most `max + 1` each: one task's rows
    * ([[add]]) or every task's ([[merge]] on the driver). */
  private final class Sets(at: Int, k: Int, max: Int) extends Serializable {
    private val seen = Array.fill(k)(new java.util.HashSet[UTF8String])

    def add(r: InternalRow): Unit = {
      var i = 0
      while (i < k) {
        if (!r.isNullAt(at + i) && seen(i).size <= max) {
          val v = r.getUTF8String(at + i)
          // the row's bytes are reused: copy only an unseen value
          if (!seen(i).contains(v)) seen(i).add(v.copy())
        }
        i += 1
      }
    }

    def merge(o: Sets): Unit =
      for (i <- 0 until k; v <- o.seen(i).asScala if seen(i).size <= max)
        seen(i).add(v)

    /** Each sorted dictionary, or the refusal of the first column that
      * passed `max`. */
    def dictionaries(names: Seq[String]): Seq[Seq[String]] = {
      names.zip(seen).foreach { case (name, set) =>
        if (set.size > max)
          throw new IllegalArgumentException(
            s"dictionary fit of $name exceeded $max distinct values — " +
            "the column is not categorical; refusing to collect an " +
            "unbounded dictionary to the driver (reference only encodes " +
            "categorical columns, dataset.py:493-535)")
      }
      seen.toSeq.map(_.asScala.toSeq.sortWith(_.binaryCompare(_) < 0)
        .map(_.toString))
    }
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

  private[operators] def normExpr: Column = {
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
  private[operators] def shouldSkip(df: DataFrame): Boolean =
    !force && (
      df.columns.exists(c =>
        c.startsWith(s"${column}_") && c.endsWith("_enc")) ||
      df.schema(column).dataType.isInstanceOf[NumericType])

  private def fit(df: DataFrame): Seq[String] =
    DictionaryFit.fit(df, "EncodeSingleCategorical",
      Seq(column -> normExpr)).head

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
  * reference only logs — we fail loudly, SURVEY.md §2.11 port decision);
  * given columns are classified alone, in the fit's own job
  * ([[DictionaryFit.classifyAndFit]]), unless the dataset's whole
  * classification is already computed.
  */
object FeatureFix {
  def encodeMultiCategorical(
      ds: GraftDataset,
      columns: Seq[String] = Seq.empty,
      method: String = "ordinal",
      caseSensitive: Boolean = false
  ): GraftDataset = {
    val step = "FeatureFix.encodeMultiCategorical"
    // One fit for every column that is not skipped (a skipped encode
    // stays skipped, as the fold only adds columns); each op then
    // carries its categoriesOut, so the fold applies without re-fitting
    // and records the same op copy a one-by-one apply records.
    def encoders(cols: Seq[String]) =
      cols.map(EncodeSingleCategorical(_, method, caseSensitive))
        .filterNot(_.shouldSkip(ds.data))
    def exprs(ops: Seq[EncodeSingleCategorical]) =
      ops.map(op => op.column -> op.normExpr)
    def refuse(categorical: Set[String]): Unit = {
      val nonCateg = columns.toSet -- categorical
      require(nonCateg.isEmpty,
        s"non-categorical columns requested: ${nonCateg.toSeq.sorted}")
    }
    val fitted = ds.computedClassification match {
      case None if columns.nonEmpty =>
        val present = columns.filter(ds.data.columns.contains)
        if (present.isEmpty) refuse(Set.empty)
        val ops = encoders(present)
        val (cls, dicts) = DictionaryFit.classifyAndFit(ds.data, step,
          present, exprs(ops))
        refuse(cls.categoricalCols)
        ops.zip(dicts())
      case _ =>
        val cls = ds.classification
        val targets =
          if (columns.isEmpty) cls.strCategoricalCols.toSeq.sorted
          else {
            refuse(cls.categoricalCols)
            columns
          }
        val ops = encoders(targets)
        ops.zip(DictionaryFit.fit(ds.data, step, exprs(ops)))
    }
    fitted.map { case (op, cats) => op.copy(categoriesOut = cats) }
      .foldLeft(ds)((d, op) => op(d))
  }
}
