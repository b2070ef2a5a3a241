package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DriverJobs

/** Exact distributed order statistics. Built on the value-count shape:
  * one `groupBy(value).count()` pass (map-side combined — the shuffle
  * carries distinct values, not rows), then a range-partitioned
  * cumulative over the DISTINCT-VALUE frame: local prefix sums per
  * range partition plus driver-computed partition offsets (one row per
  * partition), so no stage ever funnels the distinct frame through a
  * single partition. Exact quantiles cost O(distinct values)
  * post-shuffle SPREAD OVER the cluster, which is the right trade for
  * measure-like columns; key-like columns should use
  * `approx_percentile` instead (the classify pass flags which is
  * which).
  */
object ColumnStats {

  /** Runs `body`, naming the Spark jobs it starts
    * `"ColumnStats.<op>: <what>"`. */
  private def step[T](df: DataFrame, op: String, what: String)(
      body: => T): T =
    DriverJobs.described(df.sparkSession.sparkContext,
      s"ColumnStats.$op: $what")(body)

  /** The value-count frame with exact global cumulative counts:
    * (`v`, `c`, `cum`, `lo_rank`), materialized (localCheckpoint) so
    * downstream rank joins don't re-run the scan. Returns the frame
    * and the total non-null count.
    *
    * Shape: groupBy(v).count → repartitionByRange(v) + in-partition
    * sort → one-pass local running sums (mapPartitions — genuine
    * per-partition sequential logic) → per-partition totals collected
    * to the driver (bounded: one row PER PARTITION, never per value)
    * → broadcast offset join. Range partitioning guarantees every
    * value in partition i sorts before partition i+1, so
    * global cum = partition offset + local running sum exactly.
    */
  private def cumulativeCounts(df: DataFrame, valueCol: String,
      op: String): (DataFrame, Long) = {
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("v"))
    // A/B'd r19 and rejected: round-robin fanning `vals` before the
    // groupBy (to lift the value scan+hash-agg off the few scan
    // tasks) measured WORSE on every chain consumer (q_winsorize
    // 1.23→1.78, q_quantiles 1.24→1.53, q_describe 1.76→2.59) — the
    // extra exchange carries the same bytes the agg shuffle does, and
    // the map-side hash agg was not the bottleneck.
    cumulativeFromCounts(vals.groupBy("v").agg(count(lit(1)).as("c")), op)
  }

  /** The range-partitioned cumulative over a PRE-AGGREGATED (`v`, `c`)
    * value-count frame — see [[cumulativeCounts]] for the shape.
    */
  private def cumulativeFromCounts(counts: DataFrame, op: String)
      : (DataFrame, Long) = {
    val spark = counts.sparkSession
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    // per-partition totals ride OUT OF the checkpoint job through an
    // accumulator (one (pid, total) pair per task, emitted after the
    // partition's last row) instead of a separate groupBy+collect job
    // that re-read the whole checkpointed frame. Idempotent under
    // retries/speculation: a pid's total is deterministic, duplicates
    // collapse in the toMap below. Empty partitions record 0 so the
    // offsets cover every pid.
    val totalsAcc = spark.sparkContext
      .collectionAccumulator[(Int, Long)]("graft_part_totals")
    val local = step(counts, op, "cumulative")(counts
      .repartitionByRange(parts, col("v"))
      .sortWithinPartitions("v")
      .as[(Double, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var run = 0L
        new Iterator[(Int, Double, Long, Long)] {
          private var reported = false
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && !reported) { totalsAcc.add((pid, run)); reported = true }
            h
          }
          def next(): (Int, Double, Long, Long) = {
            val (v, c) = it.next(); run += c; (pid, v, c, run)
          }
        }
      }.toDF("pid", "v", "c", "lcum")
      .localCheckpoint()) // materialize ONCE; all later passes are cheap
    // |partitions| pairs on the driver: a hard bound independent of
    // data volume (same bound as the groupBy+collect this replaces)
    val partTotals = {
      import scala.jdk.CollectionConverters._
      totalsAcc.value.asScala.toMap.toArray.sortBy(_._1)
    }
    val totalN = partTotals.map(_._2).sum
    val offsets = partTotals
      .scanLeft((0, 0L)) { case ((_, acc), (pid, pc)) => (pid, acc + pc) }
      .init.zip(partTotals)
      .map { case ((_, off), (pid, _)) => (pid, off) }
    val offsetDf =
      if (offsets.isEmpty) Seq.empty[(Int, Long)].toDF("pid", "off")
      else offsets.toSeq.toDF("pid", "off")
    val cum = local.join(broadcast(offsetDf), "pid")
      .select(col("v"), col("c"), (col("lcum") + col("off")).as("cum"))
      .withColumn("lo_rank", col("cum") - col("c"))
    (cum, totalN)
  }

  /** Exact interpolated quantiles (SQL-standard `quantile_cont`
    * definition: rank = p·(n−1), linear interpolation between the two
    * straddling order statistics). The interpolation is the literal
    * expression v_lo + (v_hi − v_lo)·(r − floor(r)) over exact inputs
    * in a fixed operation order, so any engine replaying the same
    * formula reproduces it bit-for-bit — unlike built-in percentile
    * implementations whose internal arithmetic is unspecified.
    *
    * Returns one row per requested p: (`p`, `quantile`, `n`), nulls
    * excluded (SQL semantics). The rank→value lookups are range joins
    * of the |ps|-row rank frame against the distinct-value frame
    * (broadcast nested loop over the tiny side).
    */
  def exactQuantiles(df: DataFrame, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantile points must be in [0, 1]")
    val (cum, totalN) = cumulativeCounts(df, valueCol, "exactQuantiles")
    quantilesFromCumulative(cum, totalN, ps)
  }

  /** Rank lookups + interpolation over a prepared cumulative frame.
    *
    * Both rank lookups BROADCAST the |ps|-row rank frame and stream
    * the distinct-value frame. The non-equi condition gives the
    * planner no equi keys, and without the hint it fell back to a
    * CartesianProduct of the two 32-partition sides — 1024 tasks
    * re-reading the checkpointed frame (measured 3.6 GB of re-scan
    * and ~1.2 s per lookup pair in q_winsorize); with the tiny side
    * broadcast each lookup is one pass over the value frame.
    */
  private def quantilesFromCumulative(cum: DataFrame, totalN: Long,
      ps: Seq[Double]): DataFrame = {
    val spark = cum.sparkSession
    import spark.implicits._
    // rank r = p*(n-1); straddling order statistics at floor/ceil(r)
    val ranked = ps.toDF("p")
      .withColumn("n", lit(totalN))
      .withColumn("r", col("p") * (col("n") - lit(1L)).cast("double"))
      .withColumn("ri_lo", floor(col("r")).cast("long"))
      .withColumn("ri_hi", ceil(col("r")).cast("long"))
    // order statistic k lives in the cum-row with lo_rank <= k < cum
    val lo = cum.join(broadcast(ranked),
        (col("lo_rank") <= col("ri_lo")) && (col("ri_lo") < col("cum")))
      .select(col("p"), col("n"), col("r"), col("ri_lo"), col("ri_hi"),
        col("v").as("v_lo"))
    val both = cum.select(col("v").as("v_hi"),
        col("lo_rank").as("lr2"), col("cum").as("cum2"))
      .join(broadcast(lo),
        (col("lr2") <= col("ri_hi")) && (col("ri_hi") < col("cum2")))
    both.select(col("p"),
        (col("v_lo") + (col("v_hi") - col("v_lo")) *
          (col("r") - col("ri_lo").cast("double"))).as("quantile"),
        col("n"))
  }

  /** Exact interpolated quantiles PER GROUP — same rank/interpolation
    * arithmetic as [[exactQuantiles]], with the cumulative window
    * PARTITIONED BY the group (each group's distinct values cumulate
    * inside that group's partition). A group whose DISTINCT count
    * exceeds `maxGroupDistinct` would re-create the single-task sort
    * the global path eliminated — such giant groups are detected from
    * the value-count frame (exact, no extra scan of the data) and
    * REROUTED through the range-partitioned global path, one
    * distributed chain per giant group (there can be at most
    * |distinct values| / maxGroupDistinct of them, so the driver loop
    * is bounded). Output one row per (group, p):
    * (groupCol, `p`, `quantile`, `n`).
    */
  def groupedExactQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double],
      maxGroupDistinct: Long = 2000000L): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantile points must be in [0, 1]")
    require(maxGroupDistinct > 0, "maxGroupDistinct must be positive")
    groupedExact(df, groupCol, valueCol, ps, maxGroupDistinct,
      "groupedExactQuantiles")
  }

  /** [[groupedExactQuantiles]] with its jobs named for `op`. */
  private def groupedExact(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double], maxGroupDistinct: Long,
      op: String): DataFrame = {
    val vals = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
    // materialized once: referenced by the giant-group probe, both
    // rank joins and any rerouted chains
    val counts = step(df, op, "value counts")(vals.groupBy("g", "v")
      .agg(count(lit(1)).as("c")).localCheckpoint())
    groupedQuantilesFromCounts(counts, groupCol, ps, maxGroupDistinct, op)
  }

  /** The per-group quantile machinery over a PRE-AGGREGATED,
    * materialized (`g`, `v`, `c`) value-count frame — split out so
    * two-statistic operators ([[groupedRobustZScore]]) can derive
    * their second chain's counts from the first's instead of
    * rescanning the corpus. Semantics identical to
    * [[groupedExactQuantiles]] (same giant-group rerouting, same
    * rank/interpolation arithmetic).
    */
  private def groupedQuantilesFromCounts(counts: DataFrame,
      groupCol: String, ps: Seq[Double],
      maxGroupDistinct: Long, op: String): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val giants = step(counts, op, "giant groups")(counts.groupBy("g")
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > maxGroupDistinct)
      .select("g").as[String].collect().toSeq)
    val grouped = if (giants.isEmpty) counts
      else counts.filter(!col("g").isin(giants: _*))
    val rerouted = giants.map { gv =>
      val (cumG, nG) = cumulativeFromCounts(
        counts.filter(col("g") === gv).select("v", "c"), op)
      quantilesFromCumulative(cumG, nG, ps)
        .select(lit(gv).as(groupCol), col("p"), col("quantile"),
          col("n"))
    }
    // Shape decision, MEASURED this round and kept: the per-group
    // cumulative stays a hash-partitioned window. An A/B that rebuilt
    // it on the global path's range-partitioned running sums (offsets
    // only for boundary-crossing groups, O(partitions) driver state)
    // was flat on the big chains (q_grouped_robust_z 4.58→4.61,
    // q_grouped_winsorize 2.66→2.83) and REGRESSED the plan-heavy
    // consumers (q_grouped_describe 0.74→1.47 — the extra sampling/
    // shuffle/offset-join subtrees tripled planning time across its
    // six concurrent chains). The window is already scale-safe: a
    // group's window task is bounded by maxGroupDistinct, past which
    // the giant-group REROUTE below sends it through the distributed
    // range-partitioned chain.
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pinned too: the window runs once, not once per rank join
    val cum = step(counts, op, "window")(grouped
      .withColumn("cum", sum("c").over(w))
      .withColumn("lo_rank", col("cum") - col("c"))
      .localCheckpoint())
    val ns = cum.groupBy("g").agg(sum("c").as("n"))
    val ranked = ns.crossJoin(ps.toDF("p"))
      .withColumn("r", col("p") * (col("n") - lit(1L)).cast("double"))
      .withColumn("ri_lo", floor(col("r")).cast("long"))
      .withColumn("ri_hi", ceil(col("r")).cast("long"))
    val lo = ranked.join(cum.select(col("g").as("g1"),
        col("v").as("v_lo"), col("lo_rank").as("lr1"),
        col("cum").as("cum1")),
        col("g") === col("g1") && col("lr1") <= col("ri_lo") &&
          col("ri_lo") < col("cum1"))
      .select(col("g"), col("p"), col("n"), col("r"), col("ri_lo"),
        col("ri_hi"), col("v_lo"))
    val both = lo.join(cum.select(col("g").as("g2"),
        col("v").as("v_hi"), col("lo_rank").as("lr2"),
        col("cum").as("cum2")),
        col("g") === col("g2") && col("lr2") <= col("ri_hi") &&
          col("ri_hi") < col("cum2"))
    val windowed = both.select(col("g").as(groupCol), col("p"),
      (col("v_lo") + (col("v_hi") - col("v_lo")) *
        (col("r") - col("ri_lo").cast("double"))).as("quantile"),
      col("n"))
    rerouted.foldLeft(windowed)(_ unionByName _)
  }

  /** Approximate quantiles for KEY-LIKE columns (billions of distinct
    * values), where the exact value-count shape is the wrong trade:
    * one pass, fixed memory (Greenwald-Khanna via `approx_percentile`),
    * rank error ≤ 1/`accuracy`. Same output shape as
    * [[exactQuantiles]] — (`p`, `quantile`, `n`) — so callers switch
    * on the classify pass's distinct-count estimate without changing
    * downstream code. Engine-specific internals (no SQL oracle; the
    * exact variant is the hash-verified one).
    */
  def approxQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantile points must be in [0, 1]")
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    val spark = df.sparkSession
    import spark.implicits._
    val r = step(df, "approxQuantiles", "sketch")(df.agg(
        percentile_approx(col(valueCol).cast("double"),
          array(ps.map(lit): _*), lit(accuracy)).as("qs"),
        count(col(valueCol)).as("n"))
      .collect()(0))
    val qs = r.getSeq[Double](0)
    val n  = r.getLong(1)
    ps.zip(qs).map { case (p, q) => (p, q, n) }
      .toDF("p", "quantile", "n")
  }

  /** describe() PER GROUP: one row per (group, column) with the same
    * engine-portable arithmetic as [[describeNumeric]] (exact counts
    * and min/max, decimal mean, [[groupedExactQuantiles]] median).
    * ONE fused grouped scan computes every column's base stats, and
    * each column's median runs its own [[groupedExactQuantiles]]
    * chain; the base stats and the chains run concurrently, for the
    * reason [[describeNumeric]] gives. Output: (groupCol, `column_name`,
    * `n_total`, `n_nonnull`, `min_v`, `max_v`, `mean_v`, `median_v`),
    * the group as a string. Rows whose group is null are dropped;
    * groups whose column is all-null keep their base row with a null
    * median.
    */
  def groupedDescribe(df: DataFrame, groupCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "groupedDescribe needs at least one column")
    val sc = df.sparkSession.sparkContext
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      min(col(c)).cast("double").as(s"__min_$c"),
      max(col(c)).cast("double").as(s"__max_$c"),
      (sum(col(c).cast("decimal(28,6)")).cast("double") /
        count(col(c))).as(s"__mean_$c")))
    val op = "groupedDescribe"
    val baseF = DriverJobs.fork(sc, s"ColumnStats.$op: base stats")(df
      .filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__n_total"), aggs: _*)
      .localCheckpoint())
    val medsF = cols.map(c =>
      DriverJobs.fork(sc, s"ColumnStats.$op: median $c")(
        groupedExact(df, groupCol, c, Seq(0.5), 2000000L, op)
          .select(col(groupCol).as("__g"), col("quantile").as("median_v"))))
    val base = DriverJobs.join(baseF)
    val meds = medsF.map(DriverJobs.join)
    cols.zip(meds).map { case (c, med) =>
      base.select(col("__g"), lit(c).as("column_name"),
          col("__n_total").as("n_total"),
          col(s"__nn_$c").as("n_nonnull"),
          col(s"__min_$c").as("min_v"),
          col(s"__max_$c").as("max_v"),
          col(s"__mean_$c").as("mean_v"))
        .join(med, Seq("__g"), "left")
        .withColumnRenamed("__g", groupCol)
    }.reduce(_ unionByName _)
  }

  /** describe() for measure columns — one tidy row per column with
    * engine-portable arithmetic throughout: counts and min/max are
    * exact, the mean sums in decimal (never an order-dependent double
    * accumulation), the median by the [[exactQuantiles]] formula.
    *
    * Shape: ONE fused aggregation scan computes every column's base
    * stats (column-pruned parquet reads each column once — a
    * stacked/long layout was measured slower: it trades the cheap
    * pruned scans for an all-values shuffle), and each column's median
    * runs its own range-partitioned [[exactQuantiles]] chain. The base
    * stats and the k chains run CONCURRENTLY ([[DriverJobs.fork]]): the
    * scheduler overlaps their scans and shuffles. The 1-row base frame
    * is pinned so its k projections don't re-run the scan. All-null
    * columns are absent from the output (no order statistics exist),
    * so an empty input gives no rows.
    *
    * Measured and kept (same-JVM interleaved A/B on lineitem, local[4],
    * 12 pairs at sf0.1; CHANGES.md lists every rep and the 10× point):
    * both describes without driver concurrency lost q_describe by more
    * than this form's IQR (0.34 s). One stacked value-count frame keyed
    * by (column, group) through [[groupedQuantilesFromCounts]] read
    * 1.73 → 4.14 s median: with no group each column is one window
    * task. The same per-column chains one after another read 1.73 →
    * 2.59 s: sf0.1 lineitem is one parquet row group, so every scan is
    * one task and the concurrent chains are the only parallelism.
    */
  def describeNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "describeNumeric needs at least one column")
    val sc = df.sparkSession.sparkContext
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      min(col(c)).cast("double").as(s"__min_$c"),
      max(col(c)).cast("double").as(s"__max_$c"),
      (sum(col(c).cast("decimal(28,6)")).cast("double") /
        count(col(c))).as(s"__mean_$c")))
    val op = "describeNumeric"
    val baseF = DriverJobs.fork(sc, s"ColumnStats.$op: base stats")(df
      .agg(count(lit(1)).as("__n_total"), aggs: _*)
      .localCheckpoint())
    // the cumulative frame materializes eagerly, so launching the
    // chains from futures overlaps them
    val medsF = cols.map(c =>
      DriverJobs.fork(sc, s"ColumnStats.$op: median $c") {
        val (cum, n) = cumulativeCounts(df, c, op)
        quantilesFromCumulative(cum, n, Seq(0.5))
          .select(col("quantile").as("median_v"))
      })
    val base = DriverJobs.join(baseF)
    val meds = medsF.map(DriverJobs.join)
    cols.zip(meds).map { case (c, med) =>
      base.select(lit(c).as("column_name"),
          col("__n_total").as("n_total"),
          col(s"__nn_$c").as("n_nonnull"),
          col(s"__min_$c").as("min_v"),
          col(s"__max_$c").as("max_v"),
          col(s"__mean_$c").as("mean_v"))
        .crossJoin(med)
    }.reduce(_ unionByName _)
  }

  /** Exact-arithmetic Pearson correlation matrix over numeric columns
    * — the feature-redundancy screen of a curation pipeline (which
    * quality signals move together) and the classic pre-PCA
    * diagnostic.
    *
    * Engine-portable by construction: each column is quantized to an
    * integer grid (`round(x·scale)`, the same milli-unit discipline
    * as the vector ops), every Σx / Σxy accumulates EXACTLY in
    * decimal, and each exact sum converts to double ONCE — guarded to
    * |sum| ≤ 2⁵³ so the conversion is value-exact, failing loudly
    * with a "raise the shift/lower the scale" message past it. All
    * arithmetic after the conversions is single IEEE ops in a fixed
    * shape, so an independent engine replaying the formula gets
    * bit-identical doubles (q_feature_corr's DuckDB oracle does).
    *
    * ONE aggregation computes all p + p(p+1)/2 sums (map-side
    * combined: the shuffle carries one small row per task regardless
    * of corpus size) and the pair explosion happens on the single
    * result row — no driver collect, no second scan. Rows with a
    * null in ANY listed column are dropped first (complete-case, the
    * standard matrix semantics — pairwise deletion would make each
    * cell a different population).
    *
    * Zero-variance columns yield null correlations (undefined, not
    * ±Inf/NaN).
    */
  def correlationMatrix(df: DataFrame, cols: Seq[(String, Int)])
      : DataFrame = {
    require(cols.length >= 2,
      "correlationMatrix needs at least two columns")
    require(cols.map(_._1).distinct.length == cols.length,
      "correlationMatrix: duplicate column names")
    val names = cols.map(_._1)
    val complete = df.na.drop(names)
    val qc: Seq[(String, Column)] = cols.map { case (n, scale) =>
      n -> round(col(n) * scale).cast("decimal(20,0)")
    }
    val pairs = for {
      i <- names.indices; j <- i until names.length
    } yield (names(i), names(j))
    val aggs =
      qc.map { case (n, e) => sum(e).as(s"__s_$n") } ++
      pairs.map { case (a, b) =>
        val ea = qc.find(_._1 == a).get._2
        val eb = qc.find(_._1 == b).get._2
        sum((ea * eb).cast("decimal(38,0)")).as(s"__p_${a}__$b")
      }
    val one = complete.agg(count(lit(1)).as("__n"), aggs: _*)
    // exact-conversion guard: 2^53 is the last long every double
    // holds. A NULL sum (zero surviving rows) propagates null — it
    // must not trip the guard (an empty frame is degenerate, not
    // overflowing).
    def toD(c: Column, label: String): Column =
      when(c.isNull, lit(null).cast("double"))
        .when(abs(c) <= lit(9007199254740992L), c.cast("double"))
        .otherwise(raise_error(lit(
          s"correlationMatrix: |sum| for $label exceeds 2^53 — " +
            "lower the column's scale (or pre-shift the column) so " +
            "exact sums stay double-representable")))
    val n = col("__n").cast("double")
    def s(a: String)           = toD(col(s"__s_$a"), a)
    def p(a: String, b: String) = toD(col(s"__p_${a}__$b"), s"$a*$b")
    def corr(a: String, b: String): Column = {
      val num  = n * p(a, b) - s(a) * s(b)
      val denA = n * p(a, a) - s(a) * s(a)
      val denB = n * p(b, b) - s(b) * s(b)
      when(denA > 0 && denB > 0, num / (sqrt(denA) * sqrt(denB)))
    }
    val out = for {
      i <- names.indices; j <- (i + 1) until names.length
    } yield struct(lit(names(i)).as("col_x"),
      lit(names(j)).as("col_y"),
      corr(names(i), names(j)).as("corr"))
    one.select(explode(array(out: _*)).as("__p")).select(col("__p.*"))
  }

  /** [[correlationMatrix]] PER GROUP: the same exact-sum formula with
    * the single aggregation keyed by `groupCol` — still one map-side-
    * combined scan (the shuffle carries ≤ |groups| small sum rows per
    * task), and the pair cells explode from each group's row with no
    * driver involvement, so group count is unbounded. Output one row
    * per (group, pair): (groupCol, col_x, col_y, corr).
    */
  def groupedCorrelationMatrix(df: DataFrame, groupCol: String,
      cols: Seq[(String, Int)]): DataFrame = {
    require(cols.length >= 2,
      "groupedCorrelationMatrix needs at least two columns")
    require(cols.map(_._1).distinct.length == cols.length,
      "groupedCorrelationMatrix: duplicate column names")
    require(!cols.exists(_._1 == groupCol),
      "groupedCorrelationMatrix: the group column cannot be a measure")
    val names = cols.map(_._1)
    val complete = df.na.drop(names)
    val qc: Seq[(String, Column)] = cols.map { case (n, scale) =>
      n -> round(col(n) * scale).cast("decimal(20,0)")
    }
    val pairs = for {
      i <- names.indices; j <- i until names.length
    } yield (names(i), names(j))
    val aggs =
      qc.map { case (n, e) => sum(e).as(s"__s_$n") } ++
      pairs.map { case (a, b) =>
        val ea = qc.find(_._1 == a).get._2
        val eb = qc.find(_._1 == b).get._2
        sum((ea * eb).cast("decimal(38,0)")).as(s"__p_${a}__$b")
      }
    val grouped = complete.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), aggs: _*)
    def toD(c: Column, label: String): Column =
      when(c.isNull, lit(null).cast("double"))
        .when(abs(c) <= lit(9007199254740992L), c.cast("double"))
        .otherwise(raise_error(lit(
          s"groupedCorrelationMatrix: |sum| for $label exceeds 2^53 " +
            "— lower the column's scale so exact sums stay " +
            "double-representable")))
    val n = col("__n").cast("double")
    def s(a: String)            = toD(col(s"__s_$a"), a)
    def p(a: String, b: String) = toD(col(s"__p_${a}__$b"), s"$a*$b")
    def corr(a: String, b: String): Column = {
      val num  = n * p(a, b) - s(a) * s(b)
      val denA = n * p(a, a) - s(a) * s(a)
      val denB = n * p(b, b) - s(b) * s(b)
      when(denA > 0 && denB > 0, num / (sqrt(denA) * sqrt(denB)))
    }
    val out = for {
      i <- names.indices; j <- (i + 1) until names.length
    } yield struct(lit(names(i)).as("col_x"),
      lit(names(j)).as("col_y"),
      corr(names(i), names(j)).as("corr"))
    grouped.select(col(groupCol),
        explode(array(out: _*)).as("__p"))
      .select(col(groupCol), col("__p.*"))
  }

  /** [[robustZScore]] PER GROUP: each value scores against its OWN
    * group's median and MAD — cross-domain corpora mix scales, and a
    * global MAD would flag every row of the wide domain. Two grouped
    * quantile chains (median, then per-group deviation median), both
    * pivoted to |groups|-row threshold frames and broadcast back;
    * the score is one subtraction and one divide on bit-identical
    * thresholds. Null-group rows score null (no population), as do
    * degenerate-MAD groups and null values.
    */
  def groupedRobustZScore(df: DataFrame, groupCol: String,
      valueCol: String, outCol: String = "robust_z"): DataFrame = {
    // ONE corpus scan for both per-group statistics: the deviation
    // multiset per group is a pure function of that group's (value,
    // count) frame, so the MAD chain maps v → |v−med_g| over the
    // DISTINCT-VALUE frame and re-aggregates counts instead of
    // rescanning the corpus and re-shuffling rows. Same multiset per
    // group, bit-identical quantiles (same rank/interpolation path).
    val vals = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
    val op = "groupedRobustZScore"
    val counts = step(df, op, "value counts")(vals.groupBy("g", "v")
      .agg(count(lit(1)).as("c")).localCheckpoint())
    val med = groupedQuantilesFromCounts(counts, groupCol, Seq(0.5),
        2000000L, op)
      .select(col(groupCol).cast("string").as("__g"),
        col("quantile").as("__med"))
    val devCounts = step(df, op, "deviation counts")(counts
      .join(broadcast(med), col("g") === col("__g"))
      .select(col("g"), abs(col("v") - col("__med")).as("v"), col("c"))
      .groupBy("g", "v").agg(sum(col("c")).as("c"))
      .localCheckpoint())
    val mad = groupedQuantilesFromCounts(devCounts, groupCol, Seq(0.5),
        2000000L, op)
      .select(col(groupCol).cast("string").as("__g2"),
        col("quantile").as("__mad"))
    val gKey = col(groupCol).cast("string")
    df.join(broadcast(med), gKey === col("__g"), "left")
      .join(broadcast(mad), gKey === col("__g2"), "left")
      .withColumn(outCol,
        when(col(valueCol).isNotNull && col("__mad") > 0,
          (col(valueCol).cast("double") - col("__med")) /
            col("__mad")))
      .drop("__g", "__med", "__g2", "__mad")
  }

  /** Tukey-fence outlier flags: a value is an outlier when it falls
    * outside [Q1 − k·IQR, Q3 + k·IQR] (k = 1.5 classic, 3.0 "far
    * out") — the box-plot rule, sturdier than mean±3σ on heavy tails
    * and cheaper than MAD (ONE quantile chain, not two). Fences are
    * single IEEE ops on the exact interpolated quartiles, the flag a
    * comparison — engine-replayable. Null values flag null.
    */
  def iqrOutliers(df: DataFrame, valueCol: String, k: Double = 1.5,
      outCol: String = "is_outlier"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qs = step(df, "iqrOutliers", "quartiles")(
      exactQuantiles(df, valueCol, Seq(0.25, 0.75))
        .orderBy("p").select("quantile").collect().map(_.getDouble(0)))
    require(qs.length == 2,
      s"iqrOutliers: no non-null values in '$valueCol'")
    val (q1, q3) = (qs(0), qs(1))
    val (lo, hi) = (q1 - k * (q3 - q1), q3 + k * (q3 - q1))
    df.withColumn(outCol,
      when(col(valueCol).isNotNull,
        col(valueCol).cast("double") < lo ||
          col(valueCol).cast("double") > hi))
  }

  /** Per-column drift report between two corpus snapshots — the
    * data-quality gate a recurring ingest runs before accepting a new
    * drop: row counts, null fractions and exact-decimal-sum means
    * side by side with their delta. ONE fused aggregation per side
    * (all columns in a single scan each, map-side combined), the
    * per-column reshape exploding from the two one-row aggregates —
    * no driver collect. Every ratio is a single divide of exact
    * inputs (the same DECIMAL(28,6)-sum mean shape as
    * [[describeNumeric]]), so the report replays bit-identically.
    */
  def driftReport(oldDf: DataFrame, newDf: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "driftReport needs at least one column")
    def side(df: DataFrame, tag: String): DataFrame = {
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        sum(col(c).cast("decimal(28,6)")).as(s"__s_$c")))
      val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
      val rows = cols.map { c =>
        struct(lit(c).as("column_name"),
          col("__n").as(s"n_$tag"),
          ((col("__n") - col(s"__nn_$c")).cast("double") /
            greatest(col("__n"), lit(1L))).as(s"null_frac_$tag"),
          (col(s"__s_$c").cast("double") / col(s"__nn_$c"))
            .as(s"mean_$tag"))
      }
      one.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
    }
    side(oldDf, "old").join(side(newDf, "new"), Seq("column_name"))
      .withColumn("mean_delta", col("mean_new") - col("mean_old"))
  }

  /** Categorical companion to [[driftReport]]: per-(column, category)
    * frequency comparison between two snapshots, one row per category
    * including one-sided categories (full outer join; a category
    * absent from a side reports frequency 0). PER-CATEGORY rows
    * instead of a single distance number on purpose: a
    * total-variation sum would need a cross-category float
    * accumulation (engine-order-dependent) AND hides WHICH category
    * moved — the thing the gate's operator actually asks. One
    * stacked-column aggregation per side (the shuffle carries
    * (column, category) keys, never rows); frequencies are single
    * divides of exact counts.
    */
  def categoricalDriftReport(oldDf: DataFrame, newDf: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty,
      "categoricalDriftReport needs at least one column")
    def side(df: DataFrame, tag: String): DataFrame = {
      val stacked = df.select(explode(array(cols.map(c =>
          struct(lit(c).as("column_name"),
            col(c).cast("string").as("category"))): _*)).as("__p"))
        .select(col("__p.*"))
      val counts = stacked.groupBy("column_name", "category")
        .agg(count(lit(1)).as(s"cnt_$tag"))
      val totals = counts.groupBy("column_name")
        .agg(sum(s"cnt_$tag").as(s"tot_$tag"))
      counts.join(broadcast(totals), Seq("column_name"))
        .withColumn(s"freq_$tag",
          col(s"cnt_$tag").cast("double") /
            col(s"tot_$tag").cast("double"))
        .select("column_name", "category", s"cnt_$tag", s"freq_$tag")
    }
    val o = side(oldDf, "old")
    val n = side(newDf, "new")
    // null-safe equality on category: a genuine null category is one
    // category, not a per-side orphan pair (SQL USING-joins split it)
    o.join(n, o("column_name") === n("column_name") &&
        (o("category") <=> n("category")), "full_outer")
      .select(
        coalesce(o("column_name"), n("column_name")).as("column_name"),
        coalesce(o("category"), n("category")).as("category"),
        coalesce(col("cnt_old"), lit(0L)).as("cnt_old"),
        coalesce(col("cnt_new"), lit(0L)).as("cnt_new"),
        coalesce(col("freq_old"), lit(0.0d)).as("freq_old"),
        coalesce(col("freq_new"), lit(0.0d)).as("freq_new"))
      .withColumn("freq_delta", col("freq_new") - col("freq_old"))
  }

  /** Exact percentile rank of every row: `count(v' ≤ v) / n` over
    * the non-null values — SQL `cume_dist` semantics, computed from
    * the same range-partitioned cumulative value-count frame as the
    * quantiles (never a global single-partition window, which is how
    * `cume_dist() OVER (ORDER BY v)` executes at corpus scale). The
    * fact side joins the distinct-value frame on the value — one
    * shuffle (or a broadcast when the distinct frame is small) — and
    * the rank is ONE divide of exact integers: bit-identical to any
    * engine's cume_dist. Null values rank null.
    */
  def percentileRank(df: DataFrame, valueCol: String,
      outCol: String = "pct_rank",
      maxBroadcastDistinct: Long = 200000L): DataFrame = {
    val op = "percentileRank"
    val (cum, totalN) = cumulativeCounts(df, valueCol, op)
    val ranks = cum.select(col("v").as("__v"),
      (col("cum").cast("double") / lit(totalN).cast("double"))
        .as(outCol))
    // When the distinct-value rank frame is small, broadcast it: the
    // plain join planned as a sort-merge that shuffled (and sorted)
    // every fact row by value just to attach one double — with a
    // broadcast the fact side never moves (guide §3.1). The choice is
    // size-adaptive (one cheap count over the checkpointed frame),
    // and the threshold is deliberately conservative: an A/B at
    // 550 k distinct values measured the driver-side build of the
    // broadcast hash relation (~0.6 s serial) costing MORE than the
    // sort-merge it replaced, so past maxBroadcastDistinct the
    // shuffled join stays — it shuffles only (value, rank) + the fact
    // keys, never a payload, and spills gracefully at any scale.
    val nDistinct = step(df, op, "distinct values")(cum.count())
    val ranksSide =
      if (nDistinct <= maxBroadcastDistinct) broadcast(ranks) else ranks
    df.join(ranksSide, col(valueCol).cast("double") === col("__v"),
        "left")
      .drop("__v")
  }

  /** [[winsorize]] PER GROUP: each group's values clip to that
    * group's own exact [pLo, pHi] quantiles — per-domain outlier
    * capping (one domain's heavy tail must not set another's
    * thresholds). Thresholds come from
    * [[groupedExactQuantiles]] (giant groups reroute through the
    * range-partitioned path automatically), pivot to one (group, lo,
    * hi) row each, and broadcast-join back — the corpus itself never
    * shuffles. Rows whose group is null (no thresholds exist) pass
    * through unclipped; null values stay null.
    */
  def groupedWinsorize(df: DataFrame, groupCol: String,
      valueCol: String, pLo: Double = 0.01, pHi: Double = 0.99)
      : DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got $pLo/$pHi")
    val th = groupedExactQuantiles(df, groupCol, valueCol,
        Seq(pLo, pHi))
      .groupBy(groupCol).agg(
        min(when(col("p") === pLo, col("quantile"))).as("__lo"),
        min(when(col("p") === pHi, col("quantile"))).as("__hi"))
    df.join(broadcast(th), Seq(groupCol), "left")
      .withColumn(valueCol,
        when(col(valueCol).isNull || col("__lo").isNull,
          col(valueCol).cast("double"))
          .otherwise(least(greatest(col(valueCol).cast("double"),
            col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Robust z-score: `(x − median) / MAD` with MAD =
    * median(|x − median|) — the outlier score that heavy tails can't
    * drag (mean/std move with the outliers they're supposed to
    * flag). Two exact distributed quantile chains (median, then the
    * deviation median — two stat passes are inherent to MAD) collect
    * ONE row each; the score is a map-only projection of single IEEE
    * ops on bit-identical thresholds, so it replays exactly. A
    * zero/degenerate MAD (≥ half the values identical) yields null —
    * undefined, not ±Inf; null values score null.
    */
  def robustZScore(df: DataFrame, valueCol: String,
      outCol: String = "robust_z"): DataFrame = {
    // ONE corpus scan for both statistics: the deviation multiset is
    // a pure function of the (value, count) frame — map v → |v−med|
    // over DISTINCT VALUES and re-aggregate the counts — so the MAD
    // chain never rescans the data and its shuffle is distinct-value
    // -sized, not row-sized. Same multiset, bit-identical quantile.
    // collect() (one parallel job) instead of head(): executeTake's
    // partition-escalation re-ran the rank-join subtree up to 625
    // partition scans (measured 3.6 s of the old q_robust_z wall).
    val op = "robustZScore"
    val (cum, totalN) = cumulativeCounts(df, valueCol, op)
    val med = step(df, op, "median")(
      quantilesFromCumulative(cum, totalN, Seq(0.5))
        .select("quantile").collect()(0).getDouble(0))
    val devCounts = cum
      .select(abs(col("v") - lit(med)).as("v"), col("c"))
      .groupBy("v").agg(sum(col("c")).as("c"))
    val (dcum, devN) = cumulativeFromCounts(devCounts, op)
    val mad = step(df, op, "MAD")(
      quantilesFromCumulative(dcum, devN, Seq(0.5))
        .select("quantile").collect()(0).getDouble(0))
    df.withColumn(outCol,
      when(col(valueCol).isNotNull && lit(mad) > 0,
        (col(valueCol).cast("double") - lit(med)) / lit(mad)))
  }

  /** Winsorization (quantile clipping): values below the `pLo`
    * quantile rise to it, values above `pHi` fall to it — the
    * standard outlier cap before means/correlations on heavy-tailed
    * measures. The two thresholds come from the exact distributed
    * quantile path ([[exactQuantiles]] — range-partitioned, no
    * single-partition stage) and the lookup collected to the driver
    * is TWO rows; the clip itself is one map-only projection
    * (comparisons only, no arithmetic), so the corpus never shuffles
    * and the clipped values are bit-identical on any engine whose
    * quantile replay matches (q_quantiles pins that).
    */
  def winsorize(df: DataFrame, valueCol: String, pLo: Double = 0.01,
      pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got $pLo/$pHi")
    val qs = step(df, "winsorize", "thresholds")(
      exactQuantiles(df, valueCol, Seq(pLo, pHi))
        .orderBy("p").select("quantile").collect().map(_.getDouble(0)))
    require(qs.length == 2,
      s"winsorize: no non-null values in '$valueCol'")
    val (lo, hi) = (qs(0), qs(1))
    df.withColumn(valueCol,
      when(col(valueCol).isNull, lit(null))
        .otherwise(least(greatest(col(valueCol).cast("double"),
          lit(lo)), lit(hi))))
  }
}
