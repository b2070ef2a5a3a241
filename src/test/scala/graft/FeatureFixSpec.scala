package graft

import org.apache.spark.sql.functions._
import graft.core.{GraftDataset, Inference}
import graft.operators._

class FeatureFixSpec extends SparkSpec {

  test("encode title-cases at ANY non-letter boundary (str.title parity)") {
    import spark.implicits._
    // initcap would collapse "o'neil" and "o'Neil" differently: Python
    // .str.title() maps BOTH to "O'Neil" — one category, not two
    val df = Seq((1L, "o'neil"), (2L, "O'NEIL"), (3L, "foo-bar"),
        (4L, "FOO-BAR"), (5L, "3abc"))
      .toDF("id", "name")
    val enc = graft.operators
      .EncodeSingleCategorical("name", "ordinal")(
        graft.core.GraftDataset(df))
    val codes = enc.data.select("id", "name_enc")
      .as[(Long, Long)].collect().toMap
    assert(codes(1L) == codes(2L)) // O'Neil
    assert(codes(3L) == codes(4L)) // Foo-Bar
    assert(Set(codes(1L), codes(3L), codes(5L)).size == 3)
    val op = enc.history.ops.last
      .asInstanceOf[graft.operators.EncodeSingleCategorical]
    assert(op.categoriesOut.contains("O'Neil"))
    assert(op.categoriesOut.contains("Foo-Bar"))
    assert(op.categoriesOut.contains("3Abc"))
  }
  import spark.implicits._

  private val df = Seq(Some("RED"), Some("red"), Some("Blue"), None)
    .toDF("c")

  test("ordinal: Nan joins dictionary, case folds, nulls restored") {
    val out = EncodeSingleCategorical("c", "ordinal")(df)
    // title-cased dictionary: Blue=0, Nan=1, Red=2
    val got = out.collect().map(r => (Option(r.getString(0)),
      if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(got.toSet == Set(
      (Some("RED"), Some(2L)), (Some("red"), Some(2L)),
      (Some("Blue"), Some(0L)), (None, None)))
  }

  test("onehot: Nan-derived column dropped, null rows all-null") {
    val out = EncodeSingleCategorical("c", "onehot")(df)
    assert(out.columns.toSeq == Seq("c", "c_Blue_enc", "c_Red_enc"))
    val nullRow = out.filter(col("c").isNull).collect()(0)
    assert(nullRow.isNullAt(1) && nullRow.isNullAt(2))
    val red = out.filter(col("c") === "red").collect()(0)
    assert(!red.getBoolean(1) && red.getBoolean(2))
  }

  test("case-sensitive mode keeps distinct capitalizations") {
    val out = EncodeSingleCategorical("c", "ordinal",
      caseSensitive = true)(df)
    // dictionary: Blue=0, Nan=1, RED=2, red=3
    val m = out.filter(col("c").isNotNull).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("Blue" -> 0L, "RED" -> 2L, "red" -> 3L))
  }

  test("skips numeric and already-encoded columns unless forced") {
    val num = Seq(1.0, 2.0).toDF("c")
    assert(EncodeSingleCategorical("c")(num).columns.toSeq == Seq("c"))
    assert(EncodeSingleCategorical("c", force = true)(num)
      .columns.contains("c_enc"))
    val enc = Seq(("a", 0L)).toDF("c", "c_enc")
    assert(EncodeSingleCategorical("c")(enc).columns.size == 2)
  }

  test("applied op records the encoded_values_map") {
    val ds = GraftDataset(df)
    val out = EncodeSingleCategorical("c", "ordinal")(ds)
    val op = out.history(0).asInstanceOf[EncodeSingleCategorical]
    assert(op.encodedValuesMap ==
      Map(0L -> "Blue", 1L -> "Nan", 2L -> "Red"))
  }

  test("encodeMultiCategorical: defaults to string-categorical columns") {
    val d = Seq(("a", "x", 1.0), ("b", "y", 2.0), ("a", "x", 3.0))
      .toDF("c1", "c2", "num")
    val out = FeatureFix.encodeMultiCategorical(GraftDataset(d))
    assert(out.data.columns.contains("c1_enc"))
    assert(out.data.columns.contains("c2_enc"))
    assert(!out.data.columns.contains("num_enc"))
    assert(out.history.size == 2)
  }

  test("encodeMultiCategorical rejects non-categorical requests") {
    val d = (1 to 3000).map(i => ("v" + i, "x")).toDF("big", "small")
    intercept[IllegalArgumentException] {
      FeatureFix.encodeMultiCategorical(GraftDataset(d), Seq("big"))
    }
  }

  test("dictionary fit refuses unbounded cardinality") {
    val big = (1 to 20001).map(i => "v" + i).toDF("c")
    intercept[IllegalArgumentException] {
      OrdinalEncoder(Seq("c"))(big)
    }
  }

  test("double application is a no-op for both encode methods") {
    val df = Seq("a", "b", "a").toDF("c")
    // ordinal: {c}_enc exists -> skip
    val ord  = EncodeSingleCategorical("c", "ordinal")(df)
    val ord2 = EncodeSingleCategorical("c", "ordinal")(ord)
    assert(ord2.columns.toSeq == ord.columns.toSeq)
    // one-hot: only {c}_{cat}_enc derivatives exist — the skip check
    // must recognize them (the reference's own check misses this shape)
    val oh  = EncodeSingleCategorical("c", "onehot")(df)
    val oh2 = EncodeSingleCategorical("c", "onehot")(oh)
    assert(oh2.columns.toSeq == oh.columns.toSeq)
    // cross-method: a one-hot-encoded column is not re-encoded as
    // ordinal either, and the dataset path records no history entry
    val ds  = EncodeSingleCategorical("c", "onehot")(GraftDataset(df))
    val ds2 = EncodeSingleCategorical("c", "ordinal")(ds)
    assert(ds2.data.columns.toSeq == ds.data.columns.toSeq)
    assert(ds2.history.size == ds.history.size)
  }

  test("encodeMultiCategorical: one fit for all columns, " +
      "history and output identical to the sequential fold") {
    // every column's dictionary comes from one DictionaryFit call;
    // this pins the fit count and bit-equality vs applying the
    // encoders one by one
    val d = Seq(("a", "x", 1.0), ("B", "y", 2.0), ("a", null, 3.0),
      (null, "x", 4.0)).toDF("c1", "c2", "num")
    val before = DictionaryFit.fitCount.get()
    val out = FeatureFix.encodeMultiCategorical(GraftDataset(d),
      Seq("c1", "c2"))
    out.data.collect() // execution must not re-fit either
    assert(DictionaryFit.fitCount.get() - before == 1L)
    val seq = EncodeSingleCategorical("c2")(
      EncodeSingleCategorical("c1")(GraftDataset(d)))
    assert(out.data.columns.toSeq == seq.data.columns.toSeq)
    assert(out.data.collect().map(_.toSeq).toSet ==
      seq.data.collect().map(_.toSeq).toSet)
    // the recorded ops carry the fitted dictionaries like the
    // sequential applied copies do
    assert(out.history.ops.map(_.asInstanceOf[EncodeSingleCategorical]
        .categoriesOut).toSet ==
      seq.history.ops.map(_.asInstanceOf[EncodeSingleCategorical]
        .categoriesOut).toSet)
  }

  test("encodeMultiCategorical with explicit columns classifies only " +
      "those columns, or reuses a computed classification") {
    // `other` counts its evaluations: a classification that aggregates
    // it (the whole frame's) evaluates it on every row
    val calls = spark.sparkContext.longAccumulator("other evaluations")
    val probe = udf((x: Long) => { calls.add(1); x })
    val d = spark.range(0, 40, 1, 2).select(
      concat(lit("c"), (col("id") % 3).cast("string")).as("c1"),
      concat(lit("d"), (col("id") % 2).cast("string")).as("c2"),
      probe(col("id")).as("other"))
    val classified = Inference.distinctJobCount.get()
    val out = FeatureFix.encodeMultiCategorical(GraftDataset(d), Seq("c1"))
    assert(Inference.distinctJobCount.get() - classified == 1L)
    assert(calls.value == 0L)
    assert(out.data.columns.toSeq == Seq("c1", "c2", "other", "c1_enc"))
    val ds = GraftDataset(d)
    ds.classification
    val reused = Inference.distinctJobCount.get()
    val again = FeatureFix.encodeMultiCategorical(ds, Seq("c1"))
    assert(Inference.distinctJobCount.get() == reused)
    assert(again.data.collect().toSeq == out.data.collect().toSeq)
    assert(again.history.ops == out.history.ops)
    // an unknown column is refused as non-categorical, as before
    val e = intercept[IllegalArgumentException] {
      FeatureFix.encodeMultiCategorical(GraftDataset(d), Seq("c1", "nope"))
    }
    assert(e.getMessage.contains("non-categorical columns requested: " +
      "List(nope)"))
  }
}
