package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Similarity}

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def randomVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  test("built index reproduces ivfTopK exactly and prunes buckets") {
    val corpus  = randomVecs(600, 8, seed = 3)
    val queries = corpus.filter(col("vec_id") % 97 === 0)
    val t = "ivf_spec_idx"
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t,
        nCentroids = 8, kmeansIters = 2, buckets = 8)
      val viaIndex = IvfIndex.query(spark, t, queries,
          "vec_id", "embedding", k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val direct = Similarity.ivfTopK(corpus, queries,
          "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 2,
          kmeansIters = 2)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      assert(viaIndex == direct && viaIndex.nonEmpty)
      // the probed-list filter must prune unread buckets at the scan
      val plan = IvfIndex.query(spark, t, queries,
        "vec_id", "embedding", k = 5, nProbe = 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"no bucket pruning in:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_centroids")
    }
  }

  test("auto-k below the flat ceiling equals the pinned flat build") {
    // 600 rows / targetListSize 100 -> auto k = 6, still the flat
    // fit — auto mode must be a pure superset, not a behavior change
    val corpus = randomVecs(600, 8, seed = 61)
    val (tA, tP) = ("ivf_spec_autoflat", "ivf_spec_pinflat")
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", tA,
        nCentroids = 0, kmeansIters = 2, buckets = 6,
        targetListSize = 100L)
      IvfIndex.build(corpus, "vec_id", "embedding", tP,
        nCentroids = 6, kmeansIters = 2, buckets = 6)
      val ca = spark.table(s"${tA}_centroids")
        .as[(Int, Seq[Long])].collect().sortBy(_._1).toSeq
      val cp = spark.table(s"${tP}_centroids")
        .as[(Int, Seq[Long])].collect().sortBy(_._1).toSeq
      assert(ca == cp)
      val la = spark.table(tA).select("neighbor_id", "__list")
        .as[(Long, Int)].collect().toSet
      val lp = spark.table(tP).select("neighbor_id", "__list")
        .as[(Long, Int)].collect().toSet
      assert(la == lp && la.size == 600)
    } finally Seq(tA, s"${tA}_centroids", tP, s"${tP}_centroids")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("a held reader costs one driver action per query batch") {
    // Isolated child session: suites run in PARALLEL on the shared
    // TestSpark session, and this test counts QueryExecution events —
    // a sibling suite's concurrent action would inflate the count.
    // newSession() shares the catalog (the index table is visible)
    // but has its own ExecutionListenerManager, so only THIS test's
    // actions reach the listener.
    val s = spark.newSession()
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (1 to 300).map(i =>
        (i.toLong, Seq.fill(6)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 57 === 0)
    val t = "ivf_spec_reader"
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t,
        nCentroids = 4, buckets = 4)
      val r = IvfIndex.reader(s, t)
      // count ACTIONS (query executions), not Spark jobs — AQE splits
      // one action into a job per materialized stage. Listener
      // delivery is ASYNC, so an execution counts only when its id is
      // newer than a marker taken just before the body (a late
      // IvfIndex.build event is older), and the count is read once a
      // sentinel action run after the body has been delivered: the
      // body's events were posted before it on the same queue.
      def actionsDuring(body: => Unit): Int = {
        val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]
        val delivered = new java.util.concurrent.CountDownLatch(1)
        @volatile var sentinel = Long.MaxValue
        val l = new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              d: Long): Unit =
            if (qe.id == sentinel) delivered.countDown() else ids.add(qe.id)
          override def onFailure(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        }
        s.listenerManager.register(l)
        try {
          val mark = s.range(1).queryExecution.id
          body
          val end = s.range(1)
          sentinel = end.queryExecution.id
          end.collect()
          assert(delivered.await(60, java.util.concurrent.TimeUnit.SECONDS),
            "the sentinel action was never delivered")
          import scala.jdk.CollectionConverters._
          ids.asScala.count(id => id > mark && id < sentinel)
        } finally s.listenerManager.unregister(l)
      }
      // building the batch plan runs exactly the probed-list action
      val viaReader = actionsDuring {
        r.query(queries, "vec_id", "embedding", k = 3, nProbe = 2)
      }
      assert(viaReader == 1, s"reader.query ran $viaReader actions")
      // the one-shot form pays the centroid readback every call
      val oneShot = actionsDuring {
        IvfIndex.query(s, t, queries, "vec_id", "embedding",
          k = 3, nProbe = 2)
      }
      assert(oneShot == 2, s"one-shot query ran $oneShot actions")
      // and the reader answers identically to the one-shot path
      val a = r.query(queries, "vec_id", "embedding", k = 3, nProbe = 2)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val b = IvfIndex.query(s, t, queries, "vec_id", "embedding",
          k = 3, nProbe = 2)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      assert(a == b && a.nonEmpty)
    } finally Seq(t, s"${t}_centroids").foreach { n =>
      s.sql(s"DROP TABLE IF EXISTS $n")
    }
  }

  test("rebuilding over the same corpus is deterministic") {
    val corpus = randomVecs(200, 6, seed = 9)
    val (t1, t2) = ("ivf_spec_a", "ivf_spec_b")
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t1, nCentroids = 4)
      IvfIndex.build(corpus.repartition(7), "vec_id", "embedding", t2,
        nCentroids = 4)
      val a = spark.table(s"${t1}_centroids")
        .orderBy("list_id").as[(Int, Seq[Long])].collect().toSeq
      val b = spark.table(s"${t2}_centroids")
        .orderBy("list_id").as[(Int, Seq[Long])].collect().toSeq
      assert(a == b)
      val la = spark.table(t1).select("neighbor_id", "__list")
        .as[(Long, Int)].collect().toSet
      val lb = spark.table(t2).select("neighbor_id", "__list")
        .as[(Long, Int)].collect().toSet
      assert(la == lb)
    } finally Seq(t1, t2).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_centroids")
    }
  }
}
