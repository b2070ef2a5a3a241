package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ColumnKind, ColumnStats, Inference}

class InferenceSpec extends SparkSpec {
  import spark.implicits._

  /** The approx classification's ColumnStats as two aggregations
    * computed them before the one-job fold: the counters with
    * `min(c) <=> max(c)` for constancy, and `approx_count_distinct`
    * for the distinct counts. */
  private def twoAggregations(df: DataFrame): Map[String, ColumnStats] = {
    val fields = df.schema.fields.toSeq
    def counters(f: StructField): Seq[Column] = {
      val c = col(f.name)
      val castable = f.dataType match {
        case StringType =>
          count(when(graft.functions.SafeCast.tryCastDouble(c).isNotNull,
            1))
        case _ => count(c)
      }
      val zeroOne = f.dataType match {
        case BooleanType => lit(1)
        case _: NumericType =>
          min(when(c.isNotNull, (c === 0 || c === 1).cast("int")))
        case _ =>
          min(when(c.isNotNull, c.cast("string")
            .isin("0", "1", "0.0", "1.0", "true", "false").cast("int")))
      }
      Seq(count(c).cast("long"), max(c.isNull.cast("int")),
        (min(c) <=> max(c)).cast("int"), castable.cast("long"),
        zeroOne.cast("int"))
    }
    val aggs = count(lit(1)).cast("long") +: fields.flatMap(counters)
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val hlls = fields.map(f => approx_count_distinct(col(f.name)))
    val d = df.agg(hlls.head, hlls.tail: _*).collect()(0)
    def flag(i: Int) = !r.isNullAt(i) && r.getInt(i) == 1
    fields.zipWithIndex.map { case (f, i) =>
      val at = 1 + 5 * i
      val nn = r.getLong(at)
      f.name -> ColumnStats(f.name, f.dataType.sql, r.getLong(0), nn,
        d.getLong(i), flag(at + 1),
        nn == 0L || (!flag(at + 1) && flag(at + 2)),
        if (r.isNullAt(at + 3)) 0L else r.getLong(at + 3),
        flag(at + 4) && nn > 0)
    }.toMap
  }

  /** A frame of every atomic and nested type classify reads, over five
    * partitions: NaN, -0.0/0.0 and nulls in every numeric column,
    * {0,1}-valued, all-null and constant columns (constant under the
    * type's equality: -0.0 and 0.0, NaN, "a" and "A" under UTF8_LCASE).
    */
  private def everyType: DataFrame = {
    val id = col("id")
    def nullAt(m: Int, c: Column) = when(id % m === 0, lit(null))
      .otherwise(c)
    def special(c: Column) = when(id % 13 === 0, lit(Double.NaN))
      .when(id % 17 === 0, lit(-0.0)).when(id % 19 === 0, lit(0.0))
      .otherwise(c)
    spark.range(0, 600, 1, 5).select(
      nullAt(7, (id % 5).cast("int")).as("i"),
      nullAt(11, id * 1000003L % 97).as("l"),
      nullAt(23, special((id % 11).cast("double") / 4)).as("d"),
      nullAt(29, special((id % 9).cast("double") / 2).cast("float"))
        .as("f"),
      nullAt(31, (id % 41).cast("decimal(10,2)") / 3).as("dec"),
      nullAt(6, id % 2 === 0).as("b"),
      nullAt(8, date_add(lit("2020-01-01").cast("date"),
        (id % 9).cast("int"))).as("date"),
      nullAt(9, timestamp_seconds(id % 13 * 3600)).as("ts"),
      nullAt(10, when(id % 3 === 0, (id % 7).cast("string"))
        .otherwise(concat(lit("v"), (id % 40).cast("string")))).as("s"),
      nullAt(12, collate(concat(when(id % 2 === 0, lit("a"))
        .otherwise(lit("A")), (id % 4).cast("string")), "UTF8_LCASE"))
        .as("lc"),
      nullAt(14, concat(lit("b"), (id % 6).cast("string")).cast("binary"))
        .as("bin"),
      nullAt(15, array(id % 3, id % 5)).as("arr"),
      nullAt(16, struct((id % 3).as("x"), lit("y").as("y"))).as("st"),
      lit(null).cast("string").as("allnull"),
      lit(null).as("void"),
      when(id % 2 === 0, lit(-0.0)).otherwise(lit(0.0)).as("zero"),
      lit(Double.NaN).as("nan"),
      collate(when(id % 2 === 0, lit("a")).otherwise(lit("A")),
        "UTF8_LCASE").as("lcconst"),
      lit(3L).as("const"),
      nullAt(5, (id % 2).cast("int")).as("zo"),
      when(id % 3 === 0, lit("true")).otherwise((id % 2).cast("string"))
        .as("zos"))
  }

  test("the one-job approx classification equals the two " +
      "aggregations it replaced, field by field") {
    val df = everyType
    val got = Inference.classify(df).stats
    val want = twoAggregations(df)
    df.columns.foreach(c => assert(got(c) == want(c), c))
    // the frame reaches the corners it is built for
    Seq("zero", "nan", "lcconst", "const", "allnull", "void").foreach(c =>
      assert(got(c).isConstant, c))
    Seq("d", "f", "lc", "arr", "st").foreach(c =>
      assert(!got(c).isConstant, c))
    assert(got("zo").onlyZeroOne && got("zos").onlyZeroOne)
    val empty = df.filter(lit(false))
    assert(Inference.classify(empty).stats == twoAggregations(empty))
    val one = df.limit(1)
    assert(Inference.classify(one).stats == twoAggregations(one))
  }

  test("a map column is refused by the approx classification, with " +
      "the analysis error of min over a map") {
    val df = Seq((1, Map("a" -> 1)), (2, Map("b" -> 2))).toDF("k", "m")
    val e = intercept[AnalysisException](Inference.classify(df))
    assert(e.getCondition == "DATATYPE_MISMATCH.INVALID_ORDERING_TYPE",
      e.getMessage)
    // a classification of the other columns does not read it
    assert(Inference.classify(df, Seq("k")).stats("k").nDistinct == 2)
  }

  test("classify starts exactly one job, and names it") {
    val df = everyType
    val (_, jobs) = JobFence.during(spark.sparkContext)(
      Inference.classify(df))
    assert(jobs.size == 1, jobs)
    assert(jobs.head.description.exists(_.startsWith("Inference.classify")),
      jobs)
    assert(jobs.head.stages == 1, jobs)
  }

  test("kinds: numeric, bool, string, mixed, all-castable string") {
    val df = Seq(
      (1.0, true, "abc", "12", "1.5x"),
      (2.0, false, "def", "34", "2.5")
    ).toDF("num", "boo", "str", "numstr", "mix")
    val c = Inference.classify(df)
    assert(c.kinds("num") == ColumnKind.Numerical)
    assert(c.kinds("boo") == ColumnKind.Bool)
    assert(c.kinds("str") == ColumnKind.Str)
    // all values castable -> the string column is "actually numeric"
    assert(c.kinds("numstr") == ColumnKind.Numerical)
    // partially castable -> mixed (the repair target)
    assert(c.kinds("mix") == ColumnKind.Mixed)
    assert(c.toBeFixedCols == Set("mix"))
  }

  test("{0,1}-valued columns promote to bool") {
    val df = Seq((0, "1"), (1, "0"), (0, "1")).toDF("zeroone", "zos")
    val c  = Inference.classify(df)
    assert(c.kinds("zeroone") == ColumnKind.Bool)
    assert(c.kinds("zos") == ColumnKind.Bool)
  }

  test("constant detection counts null as a value") {
    val df = Seq(
      (Some(5.0), Option.empty[Double], Some(5.0), Some(1.0)),
      (Some(5.0), Option.empty[Double], Option.empty[Double], Some(2.0))
    ).toDF("const", "allnull", "constWithNull", "varying")
    val c = Inference.classify(df)
    assert(c.constantCols.contains("const"))
    assert(c.constantCols.contains("allnull"))
    // 5.0 and null are TWO distinct values under nunique(dropna=False)
    assert(!c.constantCols.contains("constWithNull"))
    assert(!c.constantCols.contains("varying"))
  }

  test("categorical heuristic: nunique < 7 or < notnull/300") {
    val few  = (1 to 100).map(i => ("cat" + (i % 3), i.toDouble))
    val many = (1 to 100).map(i => ("val" + i, i.toDouble))
    val cFew  = Inference.classify(few.toDF("c", "v"))
    val cMany = Inference.classify(many.toDF("c", "v"))
    assert(cFew.categoricalCols.contains("c"))
    assert(!cMany.categoricalCols.contains("c"))
  }

  test("classificationDf reifies show_columns_type as a frame") {
    val ds = core.GraftDataset(
      Seq((1.0, "a"), (2.0, "b"), (2.0, "a")).toDF("num", "cat"))
    val rows = ds.classificationDf.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(6)))
      .toMap
    assert(rows("num")._1 == "Numerical")
    assert(rows("cat") == (("Str", true)))
  }

  test("exact=true: -0.0/0.0 collapse, binary and array columns") {
    val df = Seq(
      (-0.0, Array[Byte](1, 2), Seq(1, 2)),
      (0.0, Array[Byte](1, 2), Seq(1, 2)),
      (1.5, Array[Byte](3), Seq(3))
    ).toDF("d", "b", "arr")
    val exact  = Inference.classify(df, exact = true)
    // aggregate semantics: -0.0 == 0.0 (NormalizeFloatingNumbers),
    // so the double column has TWO distinct values, not three
    assert(exact.stats("d").nDistinct == 2)
    // binary distinct via injective base64 keys
    assert(exact.stats("b").nDistinct == 2)
    // array distinct via per-value JSON
    assert(exact.stats("arr").nDistinct == 2)
    // and the approx path agrees on these tiny cardinalities
    val approx = Inference.classify(df)
    assert(approx.stats("d").nDistinct == 2)
    assert(approx.stats("b").nDistinct == 2)
  }

  test("exact=true on a 200-column frame: one job, correct counts") {
    val wide = (0 until 200).foldLeft(
      spark.range(1000).toDF("id"))((d, i) =>
      d.withColumn(s"c$i", pmod(col("id") * (i + 1), lit(i + 2))))
    val before = Inference.distinctJobCount.get()
    val cls = Inference.classify(wide, exact = true)
    assert(Inference.distinctJobCount.get() - before == 1L)
    // c_i = (id * (i+1)) mod (i+2): i+1 and i+2 are coprime, so the
    // residues cycle through ALL of 0..i+1 -> exactly i+2 distinct
    (0 until 200 by 37).foreach { i =>
      assert(cls.stats(s"c$i").nDistinct == i + 2, s"column c$i")
    }
  }

  test("exact=true: correct distinct counts from ONE fused distinct job") {
    val df = Seq.tabulate(50)(i => (i % 7, i % 11, "s" + i % 13))
      .toDF("a", "b", "c")
    val before = Inference.distinctJobCount.get()
    val cls = Inference.classify(df, exact = true)
    assert(cls.stats("a").nDistinct == 7)
    assert(cls.stats("b").nDistinct == 11)
    assert(cls.stats("c").nDistinct == 13)
    // the exact path fuses all columns into one count_distinct agg —
    // one distinct job per classify call, never one per column
    assert(Inference.distinctJobCount.get() - before == 1L)
  }

  test("exact=true: map columns keyed by sorted entries, not key order") {
    // logically-equal maps with different key order must count as ONE
    // distinct value (to_json alone renders storage order)
    val df = Seq(
      Map("a" -> 1, "b" -> 2),
      Map("b" -> 2, "a" -> 1),
      Map("c" -> 3)
    ).toDF("m")
    val cls = Inference.classify(df, exact = true)
    assert(cls.stats("m").nDistinct == 2)
  }

  test("castability accepts inf/infinity/nan short special literals") {
    // pandas.to_numeric, DuckDB TRY_CAST and Spark try_cast all parse
    // these; the shape gate must not null them out
    val df = Seq("inf", "+inf", "-Inf", "INFINITY", "nan", "NaN",
      " -infinity ", "1.5", "notanumber").toDF("s")
    val ok = df.select(graft.functions.SafeCast
      .tryCastDouble(org.apache.spark.sql.functions.col("s")).as("d"))
      .collect().map(r => !r.isNullAt(0))
    assert(ok.toSeq == Seq(true, true, true, true, true, true,
      true, true, false))
  }
}
