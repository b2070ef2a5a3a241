package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SHA-256 pseudonymization (reference:
  * src/trousse/anonymize_database.py).
  *
  * The reference concatenates each row's private-column values (no
  * separator, `np.sum` over strings — anonymize_database.py:74-77),
  * wraps them in a per-CALL random prefix/suffix nonce (generated once,
  * not per row — :36-40, seedable for determinism :181), hashes with
  * SHA-256, and joins the resulting `ID_OWNER` back onto the data.
  *
  * Spark design: the nonce is generated on the DRIVER and baked in as a
  * literal, so digests are reproducible across executors and runs for a
  * fixed seed (SURVEY.md §7.4 risk 6). The hashed columns are private
  * columns, so a row's `ID_OWNER` depends only on its own values: the
  * anonymized frame is one per-row projection, with no dimension to
  * dedup and no join back (and so no exchange).
  */
object Anonymize {

  private val NonceChars = "abcdefghijklmnopqrstuvwxyz0123456789"

  /** One 2×8-char nonce per call, like the reference's
    * `add_nonce_func` + seed plumbing (anonymize_database.py:14-40).
    */
  def nonce(seed: Long): (String, String) = {
    val rnd = new scala.util.Random(seed)
    def part = Seq.fill(8)(NonceChars(rnd.nextInt(NonceChars.length)))
      .mkString
    (part, part)
  }

  /** `ID_OWNER` digest column: sha256(prefix ∥ col values ∥ suffix),
    * values concatenated in `colsToHash` order with no separator.
    */
  def idOwnerExpr(colsToHash: Seq[String], prefix: String,
      suffix: String): Column =
    sha2(concat((lit(prefix) +: colsToHash.map(c =>
      col(c).cast("string"))) :+ lit(suffix): _*), 256)

  /** Build the private-info dimension: dedup of the private columns with
    * `ID_OWNER` attached (anonymize_database.py:104-125).
    */
  def privateInfoDf(df: DataFrame, privateCols: Seq[String],
      colsToHash: Seq[String], seed: Long): DataFrame = {
    val (pre, suf) = nonce(seed)
    df.select(privateCols.map(col): _*).dropDuplicates()
      .withColumn("ID_OWNER", idOwnerExpr(colsToHash, pre, suf))
  }

  /** Full anonymization flow (anonymize_database.py:127-206):
    * fill nulls in private cols → hash each row's private values → drop
    * private cols. Returns (anonymized, privateInfo); the private-info
    * dimension stays a lazy frame, run only if the caller uses it.
    *
    * The reference's natural join back drops a row with a null private
    * value, which only a non-string column (the fill is string-only)
    * can still hold; the filter keeps that. One difference from a join:
    * values the join matched but that differ as strings (-0.0 and 0.0)
    * each hash their own string here, where the join hashed whichever
    * of them the dedup kept.
    */
  def anonymize(df: DataFrame, privateCols: Seq[String],
      colsToHash: Seq[String], seed: Long = 42L)
      : (DataFrame, DataFrame) = {
    val filled = df.na.fill("----", privateCols)
    val priv   = privateInfoDf(filled, privateCols, colsToHash, seed)
    val (pre, suf) = nonce(seed)
    val anonym = filled
      .filter(privateCols.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
      .withColumn("ID_OWNER", idOwnerExpr(colsToHash, pre, suf))
      .drop(privateCols: _*)
    (anonym, priv)
  }
}

/** Operator form: replaces the private columns with `ID_OWNER`. */
final case class AnonymizeColumns(
    columns: Seq[String],
    colsToHash: Seq[String],
    seed: Long = 42L
) extends FeatureOperation {
  def derivedColumns: Seq[String] = Seq("ID_OWNER")
  protected def transform(df: DataFrame): DataFrame =
    Anonymize.anonymize(df, columns, colsToHash, seed)._1
}
