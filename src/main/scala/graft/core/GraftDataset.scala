package graft.core

import org.apache.spark.sql.DataFrame
import graft.operators.FeatureOperation

/** Immutable wrapper around a Spark DataFrame plus the metadata the
  * reference's `Dataset` tracks (reference: src/trousse/dataset.py:138-204):
  * a metadata/feature column split, the set of derived columns, and the
  * lineage ledger.
  *
  * Where the reference deep-copies the entire frame per operation
  * (feature_operations.py:200 etc.), this wrapper is free to copy: the
  * underlying DataFrame is a lazy immutable plan, so an operator chain
  * builds ONE Catalyst plan and `CollapseProject` fuses it into a single
  * whole-stage-codegen projection at execution time.
  *
  * Classification is computed lazily (first access) and cached, like the
  * reference's `lazy_property` on `_columns_type` (util.py:7-8), and is
  * invalidated by construction of a new wrapper.
  */
final class GraftDataset(
    val data: DataFrame,
    val metadataCols: Set[String] = Set.empty,
    val derivedCols: Set[String] = Set.empty,
    val history: OperationsList = OperationsList()
) extends Serializable {

  def featureCols: Set[String] =
    data.columns.toSet -- metadataCols

  @transient @volatile private var classified = false
  @transient private lazy val _classification: ColumnClassification = {
    val c = Inference.classify(data)
    classified = true
    c
  }

  def classification: ColumnClassification = _classification

  /** The classification, if it is already computed. */
  private[graft] def computedClassification: Option[ColumnClassification] =
    if (classified) Some(classification) else None

  /** numerical ∪ bool − constant − metadata (reference dataset.py:358-360) */
  def medExamColList: Set[String] = {
    val c = classification
    (c.numericalCols | c.boolCols) -- c.constantCols -- metadataCols
  }

  /** The classification as a queryable frame — the reference's
    * `show_columns_type` (dataset.py:615-640) reified instead of
    * printed: (column, kind, n_total, n_null, n_distinct, is_constant,
    * is_categorical).
    */
  def classificationDf: DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val c = classification
    data.columns.toSeq.sorted.map { name =>
      val s = c.stats(name)
      (name, c.kinds(name).toString, s.nRows, s.nNull, s.nDistinct,
        s.isConstant, c.categoricalCols.contains(name))
    }.toDF("column_name", "kind", "n_total", "n_null", "n_distinct",
      "is_constant", "is_categorical")
  }

  /** P7 (reference dataset.py:576-593): positional ids → names. */
  def columnNames(ids: Seq[Int]): Seq[String] = {
    val cols = data.columns
    ids.map { i =>
      require(i >= 0 && i < cols.length,
        s"column id $i out of range [0, ${cols.length})")
      cols(i)
    }
  }

  /** P8 (reference dataset.py:595-613): duplicated column names (Spark
    * tolerates duplicates until a lookup becomes ambiguous — surface
    * them eagerly).
    */
  def duplicatedColumns: Seq[String] =
    data.columns.groupBy(identity).collect {
      case (c, arr) if arr.length > 1 => c
    }.toSeq.sorted

  def withData(newData: DataFrame): GraftDataset =
    new GraftDataset(newData, metadataCols, derivedCols, history)

  /** Record an applied op: append to history and propagate the
    * metadata-column label to derived columns when every source column
    * was metadata (reference dataset.py:642-666).
    */
  def trackHistory(op: FeatureOperation, newData: DataFrame): GraftDataset = {
    val newMeta =
      if (op.columns.nonEmpty && op.columns.forall(metadataCols.contains))
        metadataCols ++ op.derivedColumns
      else metadataCols
    new GraftDataset(newData, newMeta, derivedCols ++ op.derivedColumns,
      history :+ op)
  }

  /** Re-wrap with a replaced frame, preserving lineage; the reference
    * warns when columns are lost (dataset.py:722-753) — we surface the
    * lost set to the caller instead.
    */
  def replaceData(newData: DataFrame): (GraftDataset, Set[String]) = {
    val lost = data.columns.toSet -- newData.columns.toSet
    (new GraftDataset(newData, metadataCols -- lost, derivedCols -- lost,
      history), lost)
  }
}

object GraftDataset {
  def apply(df: DataFrame, metadataCols: Set[String] = Set.empty)
      : GraftDataset =
    new GraftDataset(df, metadataCols)
}
