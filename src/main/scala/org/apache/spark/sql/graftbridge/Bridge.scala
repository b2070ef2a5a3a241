package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 hides the Expression↔Column conversions, session cloning
  * and its file-listing rules behind `private[sql]` / `private[spark]`;
  * this bridge (compiled into a
  * subpackage of org.apache.spark.sql, the standard extension-library
  * technique) is the only place the library crosses that boundary —
  * needed to expose custom Catalyst Expressions as user-facing Columns,
  * to change one read's conf without touching the shared session, and
  * to list a table's files as Spark's file index does.
  */
object Bridge {
  def column(e: Expression): Column   = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function on a LIVE session's registry (the
    * SparkSessionExtensions path only applies at session build time).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info,
        builder)

  /** A session with a copy of `spark`'s conf, to change a setting for
    * one read without touching the shared session. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** Whether Spark's file listing skips a file or directory name:
    * `_`- and `.`-names, except parquet summaries and `_col=value`. */
  def hiddenFromListing(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
