package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SemanticDedup, Similarity}

class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  // two tight bundles far apart in direction, plus a loner — with
  // enough members that every k-means seeding separates the bundles
  private def corpus = {
    def jitter(base: Seq[Float], i: Int): Seq[Float] =
      base.zipWithIndex.map { case (v, j) =>
        v + (if (j == (i % 4)) 0.001f * (i + 1) else 0.0f)
      }
    val a = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    (0 until 6).map(i => (i.toLong, jitter(a, i))) ++
      (10 until 16).map(i => (i.toLong, jitter(b, i))) :+
      (20L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
  }.toDF("vec_id", "embedding")

  test("pairs are cluster-scoped exact cosine at the threshold") {
    val got = SemanticDedup.semanticDupPairs(corpus, "vec_id",
        "embedding", threshold = 0.99, nCentroids = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every within-bundle pair, nothing across bundles or to the loner
    val bundleA = (0L until 6L)
    val bundleB = (10L until 16L)
    val want =
      bundleA.combinations(2).map(p => (p(0), p(1))).toSet ++
        bundleB.combinations(2).map(p => (p(0), p(1))).toSet
    assert(got == want)
  }

  test("semanticDedup keeps exactly one id per component + singletons") {
    val kept = SemanticDedup.semanticDedup(corpus, "vec_id",
        "embedding", threshold = 0.99, nCentroids = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 10L, 20L))
  }

  test("deterministic across runs and repartitionings") {
    def run(parts: Int) = SemanticDedup.semanticDupPairs(
        corpus.repartition(parts), "vec_id", "embedding",
        threshold = 0.99, nCentroids = 3)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(run(1) == run(7))
  }

  test("maxCluster caps pair generation (bounded-recall contract)") {
    val got = SemanticDedup.semanticDupPairs(corpus, "vec_id",
      "embedding", threshold = 0.99, nCentroids = 3, maxCluster = 5L)
    // both bundles have 6 members > cap -> dropped from pairing
    assert(got.count() == 0L)
  }

  test("no cartesian or nested-loop join in the pair plan") {
    val plan = SemanticDedup.semanticDupPairs(corpus, "vec_id",
        "embedding", threshold = 0.99, nCentroids = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("auto-k scales the centroid count with the corpus") {
    // 13 vectors at targetClusterSize 5 -> ceil(13/5) = 3 centroids:
    // the auto default must reproduce the explicit k=3 pair set
    val auto = SemanticDedup.semanticDupPairs(corpus, "vec_id",
        "embedding", threshold = 0.99, targetClusterSize = 5L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pinned = SemanticDedup.semanticDupPairs(corpus, "vec_id",
        "embedding", threshold = 0.99, nCentroids = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto == pinned)
    // and the sizing arithmetic: target >= n collapses to one cluster,
    // the cap binds for absurd targets
    assert(SemanticDedup.MaxAutoCentroids == 65536)
  }

  test("matches brute-force cosine pairs restricted to shared cluster") {
    // independent reconstruction: brute-force all pairs with the
    // public cosine pieces; cluster scoping can only remove pairs
    val cq = corpus.select(col("vec_id"),
        Similarity.quantize(col("embedding")).as("qv"))
    val all = cq.as("x").join(cq.as("y"),
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
        Similarity.cosineQ(col("x.qv"), col("y.qv")).as("cosine"))
      .filter(col("cosine") >= 0.99)
      .as[(Long, Long, Double)].collect().toSet
    val got = SemanticDedup.semanticDupPairs(corpus, "vec_id",
        "embedding", threshold = 0.99, nCentroids = 3)
      .as[(Long, Long, Double)].collect().toSet
    // cluster scoping can only REMOVE pairs relative to brute force
    assert(got.subsetOf(all))
    // and here the bundles are tight enough that nothing is lost
    assert(got == all.filter { case (a, b, _) =>
      (a < 10 && b < 10) || (a >= 10 && b < 20) })
  }

  test("every build job of q_semantic_dedup has a description") {
    val dir = java.nio.file.Files.createTempDirectory("graft_semantic")
      .toFile.getPath
    spark.range(0, 300, 1, 2).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(8)), i =>
          (pmod(col("id") * i, lit(7)) - 3).cast("float")).as("embedding"),
        (col("id") % 3).cast("int").as("label"))
      .write.parquet(s"$dir/embeddings.parquet")
    val (_, jobs) = JobFence.during(spark.sparkContext) {
      graft.SparkEntry.queries("q_semantic_dedup")(spark, dir)
    }
    val desc = jobs.map(_.description)
    assert(desc.nonEmpty && desc.forall(_.nonEmpty), desc)
    assert(desc.flatten.count(
      _.startsWith("Similarity.fitCentroidsKMeans: ")) >= 3, desc)
  }
}
