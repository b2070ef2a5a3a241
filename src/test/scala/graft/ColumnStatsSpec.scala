package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.ColumnStats

class ColumnStatsSpec extends SparkSpec {
  import spark.implicits._

  test("exactQuantiles matches hand-computed order statistics") {
    // values 10,20,30,40 (n=4): median rank 1.5 -> 20 + (30-20)*0.5
    val df = Seq(10.0, 30.0, 20.0, 40.0).toDF("x")
    val q = ColumnStats
      .exactQuantiles(df, "x", Seq(0.0, 0.5, 1.0))
      .as[(Double, Double, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(q(0.0) == 10.0)
    assert(q(0.5) == 25.0)
    assert(q(1.0) == 40.0)
  }

  test("exactQuantiles handles ties and nulls") {
    val df = Seq[java.lang.Double](1.0, 1.0, 1.0, 2.0, null).toDF("x")
    // n=4 (null excluded): p=0.5 -> rank 1.5 between 1.0 and 1.0
    val q = ColumnStats.exactQuantiles(df, "x", Seq(0.5, 0.75))
      .as[(Double, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(q(0.5) == ((1.0, 4L)))
    assert(q(0.75) == ((1.0 + (2.0 - 1.0) * 0.25, 4L)))
  }

  test("exactQuantiles equals Spark's percentile on clean ranks") {
    // integer ranks (p*(n-1) whole) dodge interpolation-arithmetic
    // differences — there the two implementations must agree exactly
    val df = (1 to 101).map(_.toDouble).toDF("x")
    val q = ColumnStats
      .exactQuantiles(df, "x", Seq(0.25, 0.5, 0.9))
      .as[(Double, Double, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    val ref = df.select(
      expr("percentile(x, array(0.25, 0.5, 0.9))")).collect()(0)
      .getSeq[Double](0)
    assert(q(0.25) == ref(0) && q(0.5) == ref(1) && q(0.9) == ref(2))
  }

  test("describeNumeric produces one exact summary row per column") {
    val df = Seq((1.0, 10.0), (2.0, 20.0), (3.0, 60.0))
      .toDF("a", "b")
    val out = ColumnStats.describeNumeric(df, Seq("a", "b"))
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("a") == (("a", 3L, 3L, 1.0, 3.0, 2.0, 2.0)))
    assert(out("b") == (("b", 3L, 3L, 10.0, 60.0, 30.0, 20.0)))
  }

  /** Each describe's rows, keyed by (group, column) or by column. */
  private def grouped(df: DataFrame, g: String, cols: Seq[String]) =
    ColumnStats.groupedDescribe(df, g, cols).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
  private def global(df: DataFrame, cols: Seq[String]) =
    ColumnStats.describeNumeric(df, cols).collect()
      .map(r => r.getString(0) -> r).toMap

  test("describes: an all-null column is absent globally and keeps a " +
      "null median per group; an empty frame gives no rows") {
    val df = Seq[(String, java.lang.Double, java.lang.Double)](
      ("a", 1.0, null), ("a", 3.0, null), ("b", 2.0, null)
    ).toDF("g", "x", "nul")
    val glob = global(df, Seq("x", "nul"))
    assert(glob.keySet == Set("x"))
    assert(glob("x").getDouble(6) == 2.0)
    val grp = grouped(df, "g", Seq("x", "nul"))
    assert(grp.size == 4)
    for (g <- Seq("a", "b")) {
      val r = grp((g, "nul"))
      assert(r.getLong(3) == 0L && r.isNullAt(4) && r.isNullAt(6) &&
        r.isNullAt(7), r)
    }
    assert(grp(("a", "nul")).getLong(2) == 2L)
    assert(grp(("a", "x")).getDouble(7) == 2.0)
    val empty = df.filter(lit(false))
    assert(ColumnStats.describeNumeric(empty, Seq("x", "nul")).isEmpty)
    assert(ColumnStats.groupedDescribe(empty, "g", Seq("x", "nul")).isEmpty)
  }

  test("groupedDescribe drops rows whose group is null") {
    val df = Seq[(String, Double)](
      ("a", 1.0), ("a", 2.0), (null, 100.0), (null, -5.0), ("b", 7.0)
    ).toDF("g", "x")
    val out = grouped(df, "g", Seq("x"))
    assert(out.keySet == Set(("a", "x"), ("b", "x")))
    val a = out(("a", "x"))
    assert((a.getLong(2), a.getDouble(4), a.getDouble(5), a.getDouble(7))
      == ((2L, 1.0, 2.0, 1.5)))
  }

  test("describes: int, decimal and double columns in one call") {
    val df = Seq[(String, Int, java.math.BigDecimal, Double)](
      ("a", 1, new java.math.BigDecimal("0.10"), 2.5),
      ("a", 4, new java.math.BigDecimal("0.25"), -1.0),
      ("a", 4, new java.math.BigDecimal("0.05"), 0.5),
      ("b", 9, new java.math.BigDecimal("1.00"), 8.0)
    ).toDF("g", "i", "dec", "d")
      .withColumn("dec", col("dec").cast("decimal(10,2)"))
    val cols = Seq("i", "dec", "d")
    val want = Map(
      "i" -> ((4L, 1.0, 9.0, 4.5, 4.0)),
      "dec" -> ((4L, 0.05, 1.0, 0.35, 0.175)),
      "d" -> ((4L, -1.0, 8.0, 2.5, 1.5)))
    val glob = global(df, cols)
    cols.foreach { c =>
      val r = glob(c)
      assert((r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6)) == want(c), c)
    }
    val grp = grouped(df, "g", cols)
    val a = grp(("a", "dec"))
    assert((a.getLong(3), a.getDouble(4), a.getDouble(5), a.getDouble(7))
      == ((3L, 0.05, 0.25, 0.1)))
    val b = grp(("b", "i"))
    assert((b.getLong(2), b.getDouble(4), b.getDouble(7)) ==
      ((1L, 9.0, 9.0)))
  }

  test("describe medians equal exactQuantiles bit for bit on 20k rows " +
      "with ties") {
    val df = spark.range(0, 20000, 1, 6).select(
        (col("id") % 5).cast("string").as("g"),
        (col("id") * 7919 % 613 / 7.0).as("x"),
        when(col("id") % 9 === 0, lit(null))
          .otherwise((col("id") * 104729 % 97).cast("int")).as("y"),
        (col("id") % 23 * 0.1).cast("decimal(8,3)").as("z"))
    val cols = Seq("x", "y", "z")
    def median(f: DataFrame, c: String): Double =
      ColumnStats.exactQuantiles(f, c, Seq(0.5))
        .select("quantile").as[Double].collect().head
    val glob = global(df, cols)
    cols.foreach(c => assert(glob(c).getDouble(6) == median(df, c), c))
    val grp = grouped(df, "g", cols)
    for (g <- 0 until 5; c <- cols)
      assert(grp((g.toString, c)).getDouble(7) ==
        median(df.filter(col("g") === g.toString), c), s"$g $c")
  }

  test("every build job of the quantile chains and the describes is " +
      "named, and each describe's job count is pinned") {
    val df = spark.range(0, 5000, 1, 4).select(
      (col("id") % 3).cast("string").as("g"),
      (col("id") * 7919 % 613 / 7.0).as("x"),
      (col("id") % 41).cast("int").as("y"))
    val sc = spark.sparkContext
    def jobs(body: => DataFrame): Seq[SeenJob] =
      JobFence.during(sc)(body)._2
    val runs = Seq(
      "describeNumeric" ->
        jobs(ColumnStats.describeNumeric(df, Seq("x", "y"))),
      "groupedDescribe" ->
        jobs(ColumnStats.groupedDescribe(df, "g", Seq("x", "y"))),
      "exactQuantiles" ->
        jobs(ColumnStats.exactQuantiles(df, "x", Seq(0.5))),
      "groupedExactQuantiles" ->
        jobs(ColumnStats.groupedExactQuantiles(df, "g", "x", Seq(0.5))))
    runs.foreach { case (op, js) =>
      assert(js.nonEmpty, op)
      assert(js.forall(_.description.exists(_.startsWith(
        s"ColumnStats.$op: "))), s"$op: $js")
    }
    // the base stats and one chain per column, run concurrently: each
    // eager step is a map-stage job plus a result job under AQE (the
    // range-partitioned cumulative adds its sampling job)
    def pinned(op: String, steps: Seq[String]) = {
      val js = runs.toMap.apply(op)
      assert(js.map(_.description.get).sorted ==
        (steps ++ steps).map(w => s"ColumnStats.$op: $w").sorted, js)
    }
    pinned("describeNumeric", "base stats" +: Seq.fill(4)("cumulative"))
    pinned("groupedDescribe", Seq("base stats", "value counts",
      "value counts", "giant groups", "giant groups", "window",
      "window"))
  }

  test("no job in the quantile chain moves data to a single partition") {
    // the r3 implementation ran the cumulative as Window.orderBy with
    // no partitioning — Exchange SinglePartition over the whole
    // distinct-value frame. Capture every plan executed during the
    // call and assert the shape is gone for good.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = (1 to 20000).map(i => (i * 6101 % 9973) / 7.0).toDF("x")
        .repartition(8)
      ColumnStats.exactQuantiles(df, "x", Seq(0.5, 0.9)).collect()
      // listener delivery is async; wait for the queue to go quiet
      var seen = -1
      while (plans.size != seen) { seen = plans.size; Thread.sleep(500) }
      assert(seen > 0, "listener captured no plans")
      val offending = plans.toArray(Array.empty[String])
        .filter(p => p.contains("Exchange SinglePartition") ||
          p.contains("WindowExec"))
      assert(offending.isEmpty,
        s"single-partition stage in quantile chain:\n" +
          offending.headOption.getOrElse(""))
    } finally spark.listenerManager.unregister(listener)
  }

  test("groupedExactQuantiles matches per-group exactQuantiles") {
    val df = Seq(
      ("a", 10.0), ("a", 30.0), ("a", 20.0), ("a", 40.0),
      ("b", 1.0), ("b", 2.0), ("b", 2.0), ("b", 100.0)
    ).toDF("g", "x")
    val out = ColumnStats
      .groupedExactQuantiles(df, "g", "x", Seq(0.0, 0.5, 1.0))
      .as[(String, Double, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for (g <- Seq("a", "b"); p <- Seq(0.0, 0.5, 1.0)) {
      val want = ColumnStats
        .exactQuantiles(df.filter(col("g") === g), "x", Seq(p))
        .as[(Double, Double, Long)].collect()(0)._2
      assert(out((g, p)) == want, s"g=$g p=$p")
    }
    // null group/value rows are excluded like the global form
    val withNulls = df.unionByName(
      Seq((null: String, 5.0), ("a", Double.NaN)).toDF("g", "x")
        .filter(not(isnan(col("x")))) // keep the null-g row only
    )
    assert(ColumnStats
      .groupedExactQuantiles(withNulls, "g", "x", Seq(0.5))
      .select("g").distinct().as[String].collect().toSet ==
        Set("a", "b"))
  }

  test("giant group reroutes to the range-partitioned path and is " +
      "excluded from every window stage") {
    // group "big" holds ~99% of the distinct values; with the
    // threshold below its distinct count it must flow through the
    // global range-partitioned chain, never a per-group window task
    val big   = (1 to 5000).map(i => ("big", i / 7.0))
    val small = (1 to 40).map(i => ("small", i * 1.0))
    val df = (big ++ small).toDF("g", "x").repartition(8)
    val want = ColumnStats
      .groupedExactQuantiles(df, "g", "x", Seq(0.1, 0.5, 0.9))
      .as[(String, Double, Double, Long)].collect().toSet
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val got = ColumnStats
        .groupedExactQuantiles(df, "g", "x", Seq(0.1, 0.5, 0.9),
          maxGroupDistinct = 100L)
        .as[(String, Double, Double, Long)].collect().toSet
      assert(got == want) // reroute must not change a single bit
      var seen = -1
      while (plans.size != seen) { seen = plans.size; Thread.sleep(500) }
      val all = plans.toArray(Array.empty[String]).toSeq
      // the rerouted chain ran distributed (range partitioning) ...
      assert(all.exists(_.contains("rangepartitioning")),
        "no range-partitioned chain executed for the giant group")
      // ... and no window stage ever saw the giant group: every plan
      // with a group window also carries the NOT-IN(big) filter
      val windowed = all.filter(_.contains("WindowGroupLimit")) ++
        all.filter(p => p.contains("Window") && p.contains("lo_rank"))
      windowed.foreach { p =>
        assert(p.contains("NOT") && p.contains("big"),
          s"window stage without the giant-group exclusion:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("groupedDescribe: one exact row per (group, column)") {
    val df = Seq(
      ("a", 1.0, 10.0), ("a", 2.0, 20.0), ("a", 3.0, 60.0),
      ("b", 5.0, 100.0)
    ).toDF("g", "x", "y")
    val out = ColumnStats.groupedDescribe(df, "g", Seq("x", "y"))
      .as[(String, String, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(out(("a", "x")) == (("a", "x", 3L, 3L, 1.0, 3.0, 2.0, 2.0)))
    assert(out(("a", "y")) ==
      (("a", "y", 3L, 3L, 10.0, 60.0, 30.0, 20.0)))
    assert(out(("b", "x")) == (("b", "x", 1L, 1L, 5.0, 5.0, 5.0, 5.0)))
    assert(out.size == 4)
  }

  test("approxQuantiles tracks exactQuantiles within rank error") {
    val df = (1 to 50000).map(_.toDouble).toDF("x")
    val exact = ColumnStats.exactQuantiles(df, "x", Seq(0.1, 0.5, 0.9))
      .as[(Double, Double, Long)].collect().map(r => r._1 -> r._2).toMap
    val approx = ColumnStats.approxQuantiles(df, "x", Seq(0.1, 0.5, 0.9))
      .as[(Double, Double, Long)].collect()
      .map(r => (r._1, r._2, r._3))
    approx.foreach { case (p, q, n) =>
      assert(n == 50000L)
      // rank error <= n/accuracy = 5 ranks = 5.0 in value space here
      assert(math.abs(q - exact(p)) <= 10.0, s"p=$p got $q")
    }
  }

  test("exactQuantiles is partitioning-invariant") {
    val df = (1 to 5000).map(i => (i * 7919 % 1000) / 3.0).toDF("x")
    def run(parts: Int) = ColumnStats
      .exactQuantiles(df.repartition(parts), "x",
        Seq(0.1, 0.5, 0.99))
      .as[(Double, Double, Long)].collect().toSet
    assert(run(1) == run(17))
  }

  test("robustZScore: single-scan MAD equals the two-pass reference") {
    // the r19 optimization derives the MAD chain's value counts from
    // the median chain's (v, c) frame instead of rescanning the
    // corpus; the score must be bit-identical to the literal two-pass
    // definition (x - median) / median(|x - median|)
    val df = Seq[java.lang.Double](1.0, 2.0, 2.0, 3.0, 100.0, null)
      .toDF("x")
    val got = ColumnStats.robustZScore(df, "x")
      .select("x", "robust_z")
      .as[(Option[Double], Option[Double])].collect().toMap
    val med = 2.0
    val mad = 1.0 // |x-2| = 1,0,0,1,98 -> median 1
    for (x <- Seq(1.0, 2.0, 3.0, 100.0))
      assert(got(Some(x)) == Some((x - med) / mad), s"x=$x")
    assert(got(None).isEmpty)
  }

  test("robustZScore: degenerate MAD scores null") {
    val df = Seq(5.0, 5.0, 5.0, 9.0).toDF("x")
    // median 5, deviations 0,0,0,4 -> MAD 0 -> undefined
    val z = ColumnStats.robustZScore(df, "x")
      .select("robust_z").as[Option[Double]].collect()
    assert(z.forall(_.isEmpty))
  }

  test("groupedRobustZScore: single-scan MAD equals per-group " +
      "robustZScore") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 3.0), ("a", 50.0),
      ("b", 10.0), ("b", 20.0), ("b", 20.0), ("b", 30.0)
    ).toDF("g", "x")
    val got = ColumnStats.groupedRobustZScore(df, "g", "x")
      .select("g", "x", "robust_z")
      .as[(String, Double, Option[Double])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for (g <- Seq("a", "b")) {
      val ref = ColumnStats
        .robustZScore(df.filter(col("g") === g), "x")
        .select("x", "robust_z")
        .as[(Double, Option[Double])].collect().toMap
      ref.foreach { case (x, want) =>
        assert(got((g, x)) == want, s"g=$g x=$x")
      }
    }
  }

  test("quantile rank lookups broadcast the rank frame (no " +
      "CartesianProduct)") {
    // without the broadcast hint the non-equi rank joins planned as a
    // CartesianProduct of the two 32-partition sides (1024 tasks
    // re-reading the checkpointed value frame; measured 3.6 GB of
    // re-scan inside q_winsorize). Pin the join strategy.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = (1 to 20000).map(i => (i * 6101 % 9973) / 7.0).toDF("x")
        .repartition(8)
      ColumnStats.exactQuantiles(df, "x", Seq(0.5, 0.9)).collect()
      var seen = -1
      while (plans.size != seen) { seen = plans.size; Thread.sleep(500) }
      val offending = plans.toArray(Array.empty[String])
        .filter(_.contains("CartesianProduct"))
      assert(offending.isEmpty,
        "rank lookup planned as CartesianProduct:\n" +
          offending.headOption.getOrElse(""))
    } finally spark.listenerManager.unregister(listener)
  }

  test("percentileRank: broadcast and shuffled join paths are " +
      "bit-identical, and the small-distinct path broadcasts") {
    val df = (1 to 4000).map(i => (i.toLong, (i * 37 % 101).toDouble))
      .toDF("id", "x")
      .unionByName(Seq((0L, null.asInstanceOf[java.lang.Double]))
        .toDF("id", "x"))
    // small-distinct (101 values): must take the broadcast join
    val bc = ColumnStats.percentileRank(df, "x")
    assert(bc.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "small-distinct rank frame not broadcast")
    // forcing the fallback must not change a single value
    val sh = ColumnStats.percentileRank(df, "x",
      maxBroadcastDistinct = 0L)
    val a = bc.select("id", "pct_rank")
      .as[(Long, Option[Double])].collect().toMap
    val b = sh.select("id", "pct_rank")
      .as[(Long, Option[Double])].collect().toMap
    assert(a == b)
    assert(a(0L).isEmpty) // null value ranks null on both paths
  }
}
