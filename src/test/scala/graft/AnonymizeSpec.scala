package graft

import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.operators.Anonymize

class AnonymizeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The anonymized frame as the join formulation built it: the
    * deduplicated private-info dimension, broadcast and joined back on
    * the private columns. */
  private def joinFormulation(df: DataFrame, privateCols: Seq[String],
      colsToHash: Seq[String], seed: Long): DataFrame = {
    val filled = df.na.fill("----", privateCols)
    val priv = Anonymize.privateInfoDf(filled, privateCols, colsToHash,
      seed)
    filled.join(broadcast(priv), privateCols, "inner")
      .drop(privateCols: _*)
  }

  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity)
      .map { case (k, v) => k -> v.size }

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("nonce is deterministic per seed") {
    assert(Anonymize.nonce(42L) == Anonymize.nonce(42L))
    assert(Anonymize.nonce(42L) != Anonymize.nonce(43L))
  }

  test("ID_OWNER digest matches a reference sha-256 computation") {
    val (pre, suf) = Anonymize.nonce(7L)
    val df = Seq(("Alice", "Smith")).toDF("first", "last")
    val got = df.select(Anonymize.idOwnerExpr(Seq("first", "last"),
      pre, suf).as("id")).as[String].collect()(0)
    val exp = MessageDigest.getInstance("SHA-256")
      .digest(s"${pre}AliceSmith$suf".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got == exp)
  }

  test("anonymize: rows preserved, private cols replaced by ID_OWNER") {
    val df = Seq((1, "Alice"), (2, "Bob"), (3, "Alice"))
      .toDF("k", "name")
    val (anonym, priv) = Anonymize.anonymize(df, Seq("name"), Seq("name"))
    assert(anonym.count() == 3)
    assert(!anonym.columns.contains("name"))
    assert(anonym.columns.contains("ID_OWNER"))
    // same private value -> same pseudonym
    val ids = anonym.select("k", "ID_OWNER").as[(Int, String)]
      .collect().toMap
    assert(ids(1) == ids(3) && ids(1) != ids(2))
    assert(priv.count() == 2) // deduplicated dimension
  }

  test("null private values fill with ---- before hashing") {
    val df = Seq((1, Some("Alice")), (2, None)).toDF("k", "name")
    val (anonym, _) = Anonymize.anonymize(df, Seq("name"), Seq("name"))
    assert(anonym.count() == 2) // null row survives via the fill
  }

  test("the per-row projection gives the join formulation's bag: " +
      "duplicate values, nulls in string and non-string private " +
      "columns, two private columns") {
    val df = Seq[(Int, Option[String], Option[Int], Option[String])](
      (1, Some("Alice"), Some(30), Some("x")),
      (2, Some("Alice"), Some(30), Some("x")),
      (3, Some("Alice"), Some(31), Some("y")),
      (4, None, Some(30), Some("x")),
      (5, None, Some(30), Some("x")),
      (6, Some("Bob"), None, Some("z")),
      (7, Some("Bob"), None, None),
      (8, Some("Carol"), Some(40), None)
    ).toDF("k", "name", "age", "city")
    Seq(
      (Seq("name"), Seq("name")),
      (Seq("name", "city"), Seq("name", "city")),
      (Seq("name", "city"), Seq("city")),
      (Seq("name", "age"), Seq("name", "age")),
      (Seq("age", "name", "city"), Seq("city", "name"))
    ).foreach { case (priv, hashed) =>
      val (got, dim) = Anonymize.anonymize(df, priv, hashed, 7L)
      val want = joinFormulation(df, priv, hashed, 7L)
      assert(got.columns.toSeq == want.columns.toSeq, priv)
      assert(bag(got) == bag(want), priv)
      assert(bag(dim) == bag(Anonymize.privateInfoDf(
        df.na.fill("----", priv), priv, hashed, 7L)), priv)
    }
    // a null in a non-string private column still drops the row
    assert(Anonymize.anonymize(df, Seq("name", "age"), Seq("name"), 7L)
      ._1.select("k").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4, 5, 8))
  }

  test("-0.0 and 0.0 each hash their own string, where the join " +
      "hashed the value the dedup kept") {
    val df = Seq((1, -0.0), (2, 0.0), (3, 0.0)).toDF("k", "x")
    val (pre, suf) = Anonymize.nonce(7L)
    val ids = Anonymize.anonymize(df, Seq("x"), Seq("x"), 7L)._1
      .select("k", "ID_OWNER").as[(Int, String)].collect().toMap
    assert(ids == Map(1 -> sha(s"$pre-0.0$suf"), 2 -> sha(s"${pre}0.0$suf"),
      3 -> sha(s"${pre}0.0$suf")))
    // the join matched -0.0 and 0.0 to one dimension row: one digest
    val joined = joinFormulation(df, Seq("x"), Seq("x"), 7L)
      .select("ID_OWNER").distinct().count()
    assert(joined == 1L)
  }

  test("q_anonymize runs one per-row projection: no join, no exchange") {
    val dir = Files.createTempDirectory("graft_anonymize").toFile.getPath
    spark.range(0, 200, 1, 2).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), (col("id") % 50).cast("string"))
          .as("c_name"),
        (col("id") % 25).cast("int").as("c_nationkey"),
        (col("id") * 1.5).as("c_acctbal"),
        concat(lit("SEG"), (col("id") % 5).cast("string"))
          .as("c_mktsegment"))
      .write.parquet(s"$dir/customer.parquet")
    val df = SparkEntry.queries("q_anonymize")(spark, dir)
    assert(df.collect().length == 200)
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) {
      case j: BaseJoinExec => j
      case e: Exchange     => e
    }.isEmpty, plan)
  }
}
