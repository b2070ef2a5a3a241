package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.Dedup

/** Pins the driver finish of Dedup.duplicateClusters: the job that
  * materializes an edge set, up front or a large-star/small-star
  * round's output, offers it to the driver, and when it fits the
  * driver bound a union-find replaces the remaining rounds; otherwise
  * the rounds run to convergence from the same edge frame, repeated
  * edges included. The labels and the schema must
  * be exactly those of the all-distributed path (bound 0), on every
  * shape and id type the finish accepts, and every eager job of the
  * chain carries a job description naming its step.
  */
class DedupDriverFinishSpec extends SparkSpec {
  import spark.implicits._

  private val prefix = "Dedup.duplicateClusters: "

  /** Runs `body`, returning its result and the distinct (in order)
    * duplicateClusters job descriptions seen while it ran. */
  private def withDescriptions[T](body: => T): (T, Seq[String]) = {
    val (out, jobs) = JobFence.during(spark.sparkContext)(body)
    (out, jobs.flatMap(_.description).filter(_.startsWith(prefix))
      .distinct)
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** Forced-distributed (bound 0) vs the default bound: same schema,
    * same labels; the default must have finished on the driver (no
    * round ran) and bound 0 must not have collected. Returns the
    * labels. */
  private def sameBothWays(nodes: DataFrame, idCol: String,
      pairs: DataFrame): Set[Row] = {
    val ((dist, distSchema), distDesc) = withDescriptions {
      val df = Dedup.duplicateClustersBounded(nodes, idCol, pairs,
        maxIter = 20, driverBound = 0L)
      (rows(df), df.schema)
    }
    val ((local, localSchema), localDesc) = withDescriptions {
      val df = Dedup.duplicateClusters(nodes, idCol, pairs)
      (rows(df), df.schema)
    }
    assert(!distDesc.exists(_.contains("driver collect")), distDesc)
    assert(!localDesc.exists(_.contains(" round ")), localDesc)
    assert(localSchema == distSchema)
    assert(local == dist)
    local
  }

  test("transitive chain: driver finish equals the distributed rounds") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // repeated, reversed and self pairs: the driver finish takes the
    // edges without a distinct
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (2L, 1L), (5L, 4L),
      (4L, 5L), (3L, 3L)).toDF("id_a", "id_b")
    val out = sameBothWays(nodes, "id", pairs)
    assert(out == Set(Row(1L, 1L), Row(2L, 1L), Row(3L, 1L),
      Row(4L, 4L), Row(5L, 4L), Row(9L, 9L)))
  }

  test("150-hop path: driver finish equals the distributed rounds") {
    val n = 150L
    val nodes = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = sameBothWays(nodes, "id", pairs)
    assert(out.size == n && out.forall(_.getLong(1) == 1L))
  }

  test("giant star (one hub, 6000 leaves on both sides of it)") {
    val hub = 3000L
    val leaves = (0L to 6000L).filter(_ != hub)
    val nodes = (0L to 6000L).toDF("id")
    val pairs = leaves.map(l => (hub, l)).toDF("id_a", "id_b")
    val out = sameBothWays(nodes, "id", pairs)
    assert(out.size == 6001 && out.forall(_.getLong(1) == 0L))
  }

  test("20k nodes with 500 planted 8-node paths") {
    val nodes = (0L until 20000L).toDF("id")
    val pairs = (0 until 500).flatMap { c =>
      val base = c * 8L
      (0 until 7).map(i => (base + i, base + i + 1))
    }.toDF("id_a", "id_b")
    val out = sameBothWays(nodes, "id", pairs)
    assert(out.size == 20000)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == (if (id < 4000L) id / 8 * 8 else id))
    }
  }

  test("Int ids keep their type and numeric order") {
    val nodes = Seq(30, 4, -7, 100, 12).toDF("id")
    val pairs = Seq((30, 4), (4, -7), (100, 30)).toDF("id_a", "id_b")
    val out = sameBothWays(nodes, "id", pairs)
    assert(out == Set(Row(30, -7), Row(4, -7), Row(-7, -7), Row(100, -7),
      Row(12, 12)))
  }

  test("string ids label with Spark's UTF-8 binary order") {
    // U+FFFD sorts BEFORE U+1F600 in UTF-8 bytes (EF.. < F0..) but
    // after it in UTF-16 code units (FFFD > D83D): the driver must
    // follow Spark, not String.compareTo
    val fffd = "\uFFFD"
    val emoji = "\uD83D\uDE00"
    val nodes = Seq(fffd, emoji, "zeta", "été", "eta", "solo")
      .toDF("id")
    val pairs = Seq((emoji, fffd), (emoji, "zeta"),
      ("été", "eta")).toDF("id_a", "id_b")
    val out = sameBothWays(nodes, "id", pairs)
    assert(out == Set(Row(fffd, "zeta"), Row(emoji, "zeta"),
      Row("zeta", "zeta"), Row("été", "eta"), Row("eta", "eta"),
      Row("solo", "solo")))
    val two = sameBothWays(Seq(fffd, emoji).toDF("id"), "id",
      Seq((emoji, fffd)).toDF("id_a", "id_b"))
    assert(two == Set(Row(fffd, fffd), Row(emoji, fffd)))
  }

  test("empty pairs with a null node id label every node by itself") {
    val nodes = Seq[java.lang.Long](1L, null, 3L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = sameBothWays(nodes, "doc_id", pairs)
    assert(out == Set(Row(1L, 1L), Row(null, null), Row(3L, 3L)))
  }

  // 20,000 rows over 4 partitions, pairing id % k with (id / k) % k:
  // every pair of 0 until k, each many times
  private def pairsOn(k: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, floor}
    spark.range(0L, 20000L, 1L, 4).select((col("id") % k).as("id_a"),
      (floor(col("id") / k) % k).as("id_b"))
  }

  /** The job descriptions of a bounded run on the k nodes of
    * [[pairsOn]], after checking its labels (all 0) and schema
    * against the all-distributed run.
    */
  private def labelsOf(k: Long, pairs: DataFrame, bound: Long)
      : Seq[String] = {
    val nodes = (0L until k).toDF("id")
    val dist = Dedup.duplicateClustersBounded(nodes, "id", pairs,
      maxIter = 20, driverBound = 0L)
    val ((out, schema), desc) = withDescriptions {
      val df = Dedup.duplicateClustersBounded(nodes, "id", pairs,
        maxIter = 20, driverBound = bound)
      (rows(df), df.schema)
    }
    assert(schema == dist.schema)
    assert(out == rows(dist) && out.forall(_.getLong(1) == 0L))
    desc
  }

  test("repeated and unevenly spread pairs that fit run no round") {
    // 20,000 rows, 45 distinct edges, at most 45 per partition: the
    // collect dedupes inside each partition and fits a share of 50
    assert(labelsOf(10L, pairsOn(10L), 200L) ==
      Seq(prefix + "driver collect"))
  }

  test("skewed pairs over a partition's share finish on round 0's " +
      "output") {
    import org.apache.spark.sql.functions.lit
    // 780 distinct edges, all in one of 4 partitions: over that
    // partition's share (250), so round 0 contracts the 40-clique to a
    // 39-edge star, which its edges job offers and the driver labels
    val skewed = pairsOn(40L).repartition(4, lit(0))
    // (its repartition's map stage runs as an `edge set` job first)
    assert(labelsOf(40L, skewed, 1000L) == Seq(prefix + "edge set",
      prefix + "driver collect", prefix + "round 0 stats",
      prefix + "round 0 edges"))
  }

  test("rounds read repeated edges: a star forest given three times " +
      "in both orientations converges in round 0") {
    // leaves of a star have one smaller neighbor, seen six times here
    val stars = for (root <- Seq(0L, 10L, 20L); leaf <- 1L to 9L)
      yield (root, root + leaf)
    val nodes = (0L until 30L).toDF("id")
    def run(pairs: Seq[(Long, Long)]) = withDescriptions {
      val df = Dedup.duplicateClustersBounded(nodes, "id",
        pairs.toDF("id_a", "id_b"), maxIter = 20, driverBound = 0L)
      (rows(df), df.schema)
    }
    val (repeated, desc) = run(Seq.fill(3)(stars ++ stars.map(_.swap))
      .flatten)
    // one stats step, no edges step, no second round
    assert(desc == Seq(prefix + "round 0 stats"), desc)
    assert(repeated == run(stars)._1) // labels and schema
    assert(repeated._1.forall(r => r.getLong(1) == r.getLong(0) / 10 * 10))
  }

  test("hand-off: distributed rounds shrink the edges, then the driver " +
      "finishes") {
    // a 30-clique (435 edges) contracts to a 29-edge star in one round;
    // plus a 20-node path. A bound of 200 sits between the initial
    // edge set and round 0's output, so round 0 runs distributed and
    // the driver labels the output its edges job offers.
    val clique = for (i <- 0L until 30L; j <- i + 1 until 30L) yield (i, j)
    val path = (100L until 119L).map(i => (i, i + 1))
    val nodes = ((0L until 30L) ++ (100L to 119L) :+ 500L).toDF("id")
    val pairs = (clique ++ path).toDF("id_a", "id_b")
    val dist = Dedup.duplicateClustersBounded(nodes, "id", pairs,
      maxIter = 20, driverBound = 0L)
    val (handed, desc) = withDescriptions {
      val df = Dedup.duplicateClustersBounded(nodes, "id", pairs,
        maxIter = 20, driverBound = 200L)
      (rows(df), df.schema)
    }
    assert(desc == Seq(prefix + "driver collect", prefix + "round 0 stats",
      prefix + "round 0 edges"), desc)
    assert(handed._2 == dist.schema)
    assert(handed._1 == rows(dist))
    assert(handed._1.filter(_.getLong(1) == 0L).size == 30)
    assert(handed._1.filter(_.getLong(1) == 100L).size == 20)
  }

  test("far over the bound: the rounds run to convergence, no driver " +
      "finish") {
    // a 30-clique (435 edges) plus a 20-node path: its 48-edge star
    // forest never fits a bound of 40
    val clique = for (i <- 0L until 30L; j <- i + 1 until 30L) yield (i, j)
    val path = (100L until 119L).map(i => (i, i + 1))
    val nodes = ((0L until 30L) ++ (100L to 119L) :+ 500L).toDF("id")
    val pairs = (clique ++ path).toDF("id_a", "id_b")
    val dist = Dedup.duplicateClustersBounded(nodes, "id", pairs,
      maxIter = 20, driverBound = 0L)
    val (over, desc) = withDescriptions {
      val df = Dedup.duplicateClustersBounded(nodes, "id", pairs,
        maxIter = 20, driverBound = 40L)
      (rows(df), df.schema)
    }
    assert(desc.take(2) == Seq(prefix + "driver collect",
      prefix + "round 0 stats"), desc)
    assert(!desc.contains(prefix + "edge set"), desc)
    // the last job is the stats job that found the star forest
    assert(desc.last.matches(raw".*round \d+ stats"), desc)
    assert(over._2 == dist.schema)
    assert(over._1 == rows(dist))
    assert(over._1.filter(_.getLong(1) == 0L).size == 30)
    assert(over._1.filter(_.getLong(1) == 100L).size == 20)
  }

  test("over the bound, candidate generation runs once") {
    // `pairs` comes through a UDF that counts its calls: the driver
    // collect and the rounds must both read the one edge frame
    import org.apache.spark.sql.functions.{col, udf}
    val calls = spark.sparkContext.longAccumulator("graft_cc_pair_calls")
    val counted = udf { (id: Long) => calls.add(1L); id }
      .asNondeterministic()
    val n = 400L
    val pairs = spark.range(0L, n - 1, 1L, 4)
      .select(counted(col("id")).as("id_a"), (col("id") + 1).as("id_b"))
    val out = rows(Dedup.duplicateClustersBounded((0L until n).toDF("id"),
      "id", pairs, maxIter = 20, driverBound = 50L))
    assert(calls.value == n - 1)
    assert(out.size == n && out.forall(_.getLong(1) == 0L))
  }

  test("every eager step is named and the caller's description is " +
      "restored") {
    val sc = spark.sparkContext
    val nodes = (1L to 150L).toDF("id")
    val pairs = (1L until 150L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    sc.setJobDescription("caller step")
    try {
      val (_, dist) = withDescriptions {
        Dedup.duplicateClustersBounded(nodes, "id", pairs,
          maxIter = 20, driverBound = 0L)
      }
      assert(sc.getLocalProperty("spark.job.description") ==
        "caller step")
      assert(dist.take(2) == Seq(prefix + "round 0 stats",
        prefix + "round 0 edges"), dist)
      assert(dist.forall(_.matches(raw".*round \d+ (stats|edges)")), dist)
      val (_, local) = withDescriptions {
        Dedup.duplicateClusters(nodes, "id", pairs)
      }
      assert(local == Seq(prefix + "driver collect"))
      assert(sc.getLocalProperty("spark.job.description") ==
        "caller step")
    } finally sc.setJobDescription(null)
  }

  test("ids the driver cannot order like Spark stay distributed") {
    import org.apache.spark.sql.functions.col
    val (dec, decDesc) = withDescriptions {
      rows(Dedup.duplicateClusters(
        Seq(3L, 1L, 2L).toDF("id").select(col("id").cast("decimal(12,0)")
          .as("id")), "id",
        Seq((3L, 1L), (1L, 2L)).toDF("id_a", "id_b").select(
          col("id_a").cast("decimal(12,0)").as("id_a"),
          col("id_b").cast("decimal(12,0)").as("id_b"))))
    }
    assert(!decDesc.exists(_.contains("driver collect")), decDesc)
    assert(dec.map(_.getDecimal(1).longValue) == Set(1L))
  }

  test("maxIter still fails loudly on the distributed path") {
    val nodes = (1L to 6L).toDF("id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.duplicateClustersBounded(nodes, "id", pairs, maxIter = 1,
        driverBound = 0L)
    }
    // the same graph fits the driver: no round runs, no failure
    assert(Dedup.duplicateClusters(nodes, "id", pairs, maxIter = 1)
      .count() == 6)
  }
}
