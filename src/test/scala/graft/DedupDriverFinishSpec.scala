package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.Dedup

/** Pins the driver finish of Dedup.duplicateClusters: once the live
  * edge set fits the driver bound, one collect and a union-find replace
  * the remaining large-star/small-star rounds. The labels and the
  * schema must be exactly those of the all-distributed path (bound 0),
  * on every shape and id type the finish accepts, and every eager job
  * of the chain carries a job description naming its step.
  */
class DedupDriverFinishSpec extends SparkSpec {
  import spark.implicits._

  private val prefix = "Dedup.duplicateClusters: "

  /** Runs `body`, returning its result and the distinct (in order)
    * duplicateClusters job descriptions seen while it ran. */
  private def withDescriptions[T](body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val marker = s"graft-spec-end-${System.nanoTime}"
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      // a marked job after the body: once the listener sees it, every
      // job start of the body has been delivered
      val caller = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(caller)
      eventually(timeout(30.seconds)) {
        assert(seen.contains(marker))
      }
      (out, seen.asScala.toSeq.filter(_.startsWith(prefix)).distinct)
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** Forced-distributed (bound 0) vs the default bound: same schema,
    * same labels; the default must have finished on the driver. Returns
    * the labels. */
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
    assert(!distDesc.exists(_.contains("driver finish")), distDesc)
    assert(localDesc.exists(_.contains("driver finish")), localDesc)
    assert(localSchema == distSchema)
    assert(local == dist)
    local
  }

  test("transitive chain: driver finish equals the distributed rounds") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
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

  test("hand-off: distributed rounds shrink the edges, then the driver " +
      "finishes") {
    // a 30-clique (435 edges) contracts to a 29-edge star in one round;
    // plus a 20-node path. A bound of 200 sits between the initial
    // count and round 0's, so round 0 runs distributed and the driver
    // finishes its output.
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
    assert(desc.contains(prefix + "round 0 edges"), desc)
    val finish = desc.filter(_.contains("driver finish"))
    assert(finish.size == 1, desc)
    val n = finish.head.stripPrefix(prefix + "driver finish with ")
      .stripSuffix(" edges").toLong
    assert(n <= 200L)
    assert(handed._2 == dist.schema)
    assert(handed._1 == rows(dist))
    assert(handed._1.filter(_.getLong(1) == 0L).size == 30)
    assert(handed._1.filter(_.getLong(1) == 100L).size == 20)
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
      assert(dist.head == prefix + "edge set")
      assert(dist.contains(prefix + "round 0 stats"))
      assert(dist.contains(prefix + "round 0 edges"))
      assert(dist.forall(d => d == prefix + "edge set" ||
        d.matches(raw".*round \d+ (stats|edges)")), dist)
      val (_, local) = withDescriptions {
        Dedup.duplicateClusters(nodes, "id", pairs)
      }
      assert(local == Seq(prefix + "edge set",
        prefix + "driver finish with 149 edges"))
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
    assert(!decDesc.exists(_.contains("driver finish")), decDesc)
    assert(dec.map(_.getDecimal(1).longValue) == Set(1L))
  }

  test("maxIter still fails loudly on the distributed path") {
    val nodes = (1L to 6L).toDF("id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.duplicateClustersBounded(nodes, "id", pairs, maxIter = 1,
        driverBound = 0L)
    }
    // the same graph fits the driver before round 1: no failure
    assert(Dedup.duplicateClusters(nodes, "id", pairs, maxIter = 1)
      .count() == 6)
  }
}
