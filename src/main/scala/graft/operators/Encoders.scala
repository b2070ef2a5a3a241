package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** One-hot encode one column into N boolean columns named
  * `{col}_{category}{suffix}` (reference:
  * src/trousse/feature_operations.py:511-683). Categories are the
  * lexicographically sorted distinct non-null values (sklearn
  * OneHotEncoder order); rows that are null in the source get null in
  * EVERY derived column (reference :637-656 — nullable boolean dtype).
  *
  * The category dictionary is data-dependent, so applying this op runs
  * one bounded [[DictionaryFit]] job (SURVEY.md §7.4 risk 7);
  * cardinality is bounded by the categorical heuristic (≤ n/300).
  * The discovered derived columns are recorded on the applied op copy.
  */
final case class OneHotEncoder(
    columns: Seq[String],
    derivedColumnSuffix: String = "_enc",
    categoriesOut: Seq[String] = Seq.empty
) extends FeatureOperation {
  require(columns.size == 1, "OneHotEncoder operates on one column")

  def derivedColumns: Seq[String] =
    categoriesOut.map(cat => s"${columns.head}_$cat$derivedColumnSuffix")

  private def fit(df: DataFrame): Seq[String] =
    DictionaryFit.fit(df, "OneHotEncoder",
      Seq(columns.head -> col(columns.head))).head

  protected def transform(df: DataFrame): DataFrame = {
    val src  = columns.head
    val cats = if (categoriesOut.nonEmpty) categoriesOut else fit(df)
    cats.foldLeft(df) { (d, cat) =>
      d.withColumn(
        s"${src}_$cat$derivedColumnSuffix",
        when(col(src).isNull, lit(null).cast(BooleanType))
          .otherwise(col(src).cast("string") === lit(cat))
      )
    }
  }

  override protected def applied(df: DataFrame): FeatureOperation =
    if (categoriesOut.nonEmpty) this else copy(categoriesOut = fit(df))
}

/** Ordinal-encode a column: code = index of the value in the
  * lexicographically sorted distinct values (sklearn OrdinalEncoder
  * semantics — reference feature_operations.py:686-780; order pinned by
  * tests/expectations/csv/generic-ordinal-encoded-col3-inplace.csv:
  * abc→0, abr→1). In-place or derived.
  *
  * Implementation: collect the bounded sorted dictionary (one action),
  * then encode via a literal-map lookup — a single codegen'd expression,
  * no join, no shuffle. The code→value map is recorded on the applied op.
  */
final case class OrdinalEncoder(
    columns: Seq[String],
    derivedColumns: Seq[String] = Seq.empty,
    encodedValuesMap: Seq[(String, Long)] = Seq.empty
) extends FeatureOperation {
  require(columns.size == 1, "OrdinalEncoder operates on one column")

  private def fit(df: DataFrame): Seq[(String, Long)] =
    DictionaryFit.fit(df, "OrdinalEncoder",
      Seq(columns.head -> col(columns.head))).head
      .zipWithIndex.map { case (v, i) => (v, i.toLong) }

  protected def transform(df: DataFrame): DataFrame = {
    val src     = columns.head
    val target  = derivedColumns.headOption.getOrElse(src)
    val mapping = if (encodedValuesMap.nonEmpty) encodedValuesMap else fit(df)
    val m       = typedlit(mapping.toMap)
    df.withColumn(target, element_at(m, col(src).cast("string")))
  }

  override protected def applied(df: DataFrame): FeatureOperation =
    if (encodedValuesMap.nonEmpty) this else copy(encodedValuesMap = fit(df))
}
