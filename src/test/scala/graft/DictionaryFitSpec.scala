package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, collate, concat, lit}

import graft.core.GraftDataset
import graft.operators.{CombineCategoricalColumns, DictionaryFit,
  EncodeSingleCategorical, FeatureFix, MultipleCombinations,
  OneHotEncoder, OrdinalEncoder}

/** Pins [[DictionaryFit.fit]]: k dictionaries in one Spark job with no
  * exchange (none for k = 0), each equal to Spark's own sorted distinct
  * of the string cast, the job named after the calling step, and the
  * refusal naming the column that overflowed.
  */
class DictionaryFitSpec extends SparkSpec {
  import spark.implicits._

  /** Spark's answer: distinct, ordered by the cast string. */
  private def reference(df: DataFrame, e: Column): Seq[String] =
    df.select(e.cast("string").as("v")).filter(col("v").isNotNull)
      .distinct().orderBy("v").collect().map(_.getString(0)).toSeq

  private def fit1(df: DataFrame, c: String): Seq[String] =
    DictionaryFit.fit(df, "spec", Seq(c -> col(c))).head

  test("dictionaries sort like Spark's orderBy on the string cast") {
    // U+FFFD sorts before U+1F600 in UTF-8 bytes (Spark), after it in
    // UTF-16 (java.lang.String)
    val emoji = Seq("�", "😀", "z").toDF("c")
    assert(fit1(emoji, "c") == Seq("z", "�", "😀"))
    assert(fit1(emoji, "c") == reference(emoji, col("c")))
    val cased = Seq("b", "a", "A", "a", null).toDF("c")
    assert(fit1(cased, "c") == Seq("A", "a", "b"))
    // numbers are fitted as their strings: "10" before "9"
    val nums = Seq(9, 10, 9, 100).toDF("n")
    assert(fit1(nums, "n") == Seq("10", "100", "9"))
    assert(fit1(nums, "n") == reference(nums, col("n")))
    // the cast drops a collation: binary order, no case folding
    val lcase = Seq("b", "B", "a", "A").toDF("c")
      .select(collate(col("c"), "UTF8_LCASE").as("c"))
    assert(fit1(lcase, "c") == Seq("A", "B", "a", "b"))
    assert(fit1(lcase, "c") == reference(lcase, col("c")))
  }

  test("all-null columns and empty frames give empty dictionaries") {
    val nulls = Seq[(String, String)](("x", null), ("y", null))
      .toDF("c", "d")
    assert(DictionaryFit.fit(nulls, "spec",
      Seq("c" -> col("c"), "d" -> col("d"))) == Seq(Seq("x", "y"), Nil))
    val empty = Seq.empty[(String, Int)].toDF("c", "n")
    assert(DictionaryFit.fit(empty, "spec",
      Seq("c" -> col("c"), "n" -> col("n"))) == Seq(Nil, Nil))
    assert(DictionaryFit.fit(empty, "spec", Nil) == Nil)
  }

  test("k dictionaries at once equal k one-column fits, across " +
      "partitions") {
    val df = (0 until 2000).map(i =>
        (s"k${i % 37}", i % 11, if (i % 5 == 0) null else s"v${i % 3}"))
      .toDF("a", "b", "c").repartition(6)
    val cols = Seq("a", "b", "c")
    val all = DictionaryFit.fit(df, "spec", cols.map(c => c -> col(c)))
    assert(all == cols.map(c => reference(df, col(c))))
    assert(all.map(_.size) == Seq(37, 11, 3))
  }

  test("the refusal names the column that passed max, within bound " +
      "elsewhere") {
    val df = (0 until 50).map(i => (s"a${i % 3}", s"b$i"))
      .toDF("a", "b").repartition(3)
    val e = intercept[IllegalArgumentException] {
      DictionaryFit.fit(df, "spec", Seq("a" -> col("a"), "b" -> col("b")),
        max = 10)
    }
    assert(e.getMessage.contains("dictionary fit of b exceeded 10"))
    assert(e.getMessage.contains("not categorical"))
    // exactly max distinct values is not a refusal
    assert(DictionaryFit.fit(df, "spec", Seq("a" -> col("a")),
      max = 3).head == Seq("a0", "a1", "a2"))
  }

  /** The (description, stage count) of every job `body` starts. */
  private def jobsDuring(body: => Unit): Seq[(String, Int)] =
    JobFence.during(spark.sparkContext)(body)._2
      .map(j => (j.description.orNull, j.stages))

  test("one named single-stage job per fit call for k = 1, 2 and 3, " +
      "none for k = 0; the caller's description is restored") {
    val sc = spark.sparkContext
    // four partitions and no exchange upstream
    def mod(p: String, m: Int) =
      concat(lit(p), (col("id") % m).cast("string")).as(p)
    val df = spark.range(0, 300, 1, 4)
      .select(mod("r", 3), mod("s", 2), mod("t", 4))
    sc.setJobDescription("caller step")
    try {
      assert(jobsDuring(OneHotEncoder(Seq("r"))(df)) ==
        Seq(("OneHotEncoder: fit r", 1)))
      assert(jobsDuring(OrdinalEncoder(Seq("r"))(df)) ==
        Seq(("OrdinalEncoder: fit r", 1)))
      assert(jobsDuring(EncodeSingleCategorical("r")(df)) ==
        Seq(("EncodeSingleCategorical: fit r", 1)))
      assert(jobsDuring(CombineCategoricalColumns(Seq("r", "s"))(df)) ==
        Seq(("CombineCategoricalColumns: fit r,s", 1)))
      assert(jobsDuring(MultipleCombinations(Seq("r", "s", "t"))(df)) ==
        Seq(("MultipleCombinations: fit r,s,t", 1)))
      assert(jobsDuring(DictionaryFit.fit(df, "spec", Nil)).isEmpty)
      val ds = GraftDataset(df)
      ds.classification // its classification jobs are not the fit's
      assert(jobsDuring(FeatureFix.encodeMultiCategorical(ds,
          Seq("r", "s"))) ==
        Seq(("FeatureFix.encodeMultiCategorical: fit r,s", 1)))
      // every target already encoded: no fit job at all
      val encoded = FeatureFix.encodeMultiCategorical(ds, Seq("r", "s"))
      encoded.classification
      assert(jobsDuring(FeatureFix.encodeMultiCategorical(encoded,
          Seq("r", "s"))).isEmpty)
      assert(sc.getLocalProperty("spark.job.description") == "caller step")
    } finally sc.setJobDescription(null)
  }
}
