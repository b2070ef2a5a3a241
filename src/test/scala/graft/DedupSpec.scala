package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox jumps over the lazy cat again and again"),
    (4L, "completely different content about spark and scala pipelines xyzzy")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per key with counts") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("doc_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L) // docs 1,2 identical
    assert(out(3L) == 1L)
    assert(out(4L) == 1L)
  }

  test("fingerprint dedup groups case/punct variants") {
    val df = Seq((1L, "Hello, World!"), (2L, "hello world"),
      (3L, "different")).toDF("doc_id", "text")
    val out = Dedup.byFingerprint(df, "text", "doc_id")
    assert(out.count() == 2)
    assert(out.filter(col("n_dups") === 2).select("doc_id")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("minhash: identical docs pair with est_jaccard 1.0") {
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
      threshold = 0.5)
      .select("id_a", "id_b", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    val p12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(p12.isDefined && p12.get._3 == 1.0)
    // the unrelated doc 4 never pairs with anything
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signature is deterministic across evaluations") {
    val sig = docs.select(
      Dedup.minhashSignature(col("text"), 16, 5).as("s"))
    val a = sig.collect().map(_.getSeq[Long](0))
    val b = sig.collect().map(_.getSeq[Long](0))
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("simhash: identical docs at hamming 0, unrelated far apart") {
    val pairs = Dedup.simhashDupPairs(docs, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("hammingDistance counts differing bits") {
    val df = Seq((0xffL, 0x0fL)).toDF("a", "b")
    val d = df.select(Dedup.hammingDistance(col("a"), col("b")))
      .collect()(0).getInt(0)
    assert(d == 4)
  }

  test("ngram jaccard finds high-overlap pairs only") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    // 1 vs 3 differ in one word -> some 3-grams differ
    val p13 = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(p13.forall(p => p._3 < 1.0))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram containment catches the quoted-short-doc case Jaccard " +
      "misses, and names the contained side") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " " + (1 to 60)
      .map(i => s"filler$i word$i extra$i").mkString(" ")
    val docs2 = Seq((1L, short), (2L, long),
      (3L, "completely different text with no shared phrases here " +
        "at all and nothing else in common")).toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(docs2, "doc_id", "text",
        n = 3, threshold = 0.9)
      .select("id_a", "id_b", "containment", "contained_id")
      .as[(Long, Long, Double, Long)].collect()
    assert(cont.exists(p => p._1 == 1L && p._2 == 2L &&
      p._3 == 1.0 && p._4 == 1L), cont.toSeq.toString)
    // the same pair is invisible to Jaccard at any usable threshold
    val jac = Dedup.ngramJaccardPairs(docs2, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!jac.contains((1L, 2L)))
    assert(!cont.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("scrubContained drops the quoted copy, keeps the quoting " +
      "original") {
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = short + " " + (1 to 60)
      .map(i => s"filler$i word$i extra$i").mkString(" ")
    val docs2 = Seq((1L, short), (2L, long),
      (3L, "completely different text with no shared phrases here " +
        "at all and nothing else in common")).toDF("doc_id", "text")
    val kept = Dedup.scrubContained(docs2, "doc_id", "text",
        n = 3, threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L))
  }

  test("duplicateClusters collapses transitive chains to the min id") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("id")
    // 1~2, 2~3 (transitive), 4~5; 9 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("duplicateClusters fails loudly when maxIter is too small") {
    // a path graph needs O(diameter) rounds; with maxIter = 1 the
    // labeling is incomplete and the op must throw, not return it.
    // Driver bound 0 keeps the rounds distributed: the default bound
    // would finish this 5-edge graph on the driver before round 1.
    val nodes = (1L to 6L).toDF("id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.duplicateClustersBounded(nodes, "id", pairs, maxIter = 1,
        driverBound = 0L)
    }
  }

  test("duplicateClusters converges on a deep path within the default " +
      "round bound (large-star/small-star is O(log), not O(diameter))") {
    // a 150-hop path: one-hop label propagation would need 150 rounds,
    // far past the default maxIter=20 — star contraction closes it in
    // a handful. This is the shape long near-dup chains take in a
    // real crawl corpus; the 10x scale-stress harness hit it first.
    val n = 150L
    val nodes = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(out.size == n)
    assert(out.values.forall(_ == 1L))
  }

  test("duplicateClusters labeling is partitioning-invariant") {
    val nodes = (1L to 40L).toDF("id")
    val pairs = (1L to 39L by 2).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def run(parts: Int) =
      Dedup.duplicateClusters(nodes.repartition(parts), "id",
        pairs.repartition(parts)).as[(Long, Long)].collect().toMap
    assert(run(1) == run(7))
  }

  test("dedupCorpusKeepBest keeps the highest-quality member per " +
      "transitive cluster, not the smallest id") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "b", 99L), (3L, "c", 50L), // chain 1~2~3
      (4L, "d", 5L)                                   // singleton
    ).toDF("doc_id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupCorpusKeepBest(docs, "doc_id", "quality",
      pairs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L)) // 2 has quality 99; 4 untouched
  }

  test("dedupCorpusKeepBest: quality ties break to the smallest id, " +
      "nulls lose, all-null clusters fall back to smallest id") {
    val docs = Seq(
      (1L, java.lang.Long.valueOf(7L)),
      (2L, java.lang.Long.valueOf(7L)),   // tie with 1 → keep 1
      (5L, null.asInstanceOf[java.lang.Long]),
      (6L, java.lang.Long.valueOf(1L)),   // null(5) loses to 1(6)
      (8L, null.asInstanceOf[java.lang.Long]),
      (9L, null.asInstanceOf[java.lang.Long]) // all-null → keep 8
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (5L, 6L), (8L, 9L))
      .toDF("id_a", "id_b")
    val kept = Dedup.dedupCorpusKeepBest(docs, "doc_id", "quality",
      pairs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 6L, 8L))
  }

  test("dedupCorpusKeepBest names every job it starts while building") {
    val docs = Seq((1L, "jonathan-smith"), (2L, "jonathan-smyth"),
      (3L, "jonathan-smit"), (4L, "margaret-jones"), (5L, "margaret-jone"))
      .toDF("doc_id", "name").withColumn("quality", length(col("name")))
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "name")
    val (kept, jobs) = JobFence.during(spark.sparkContext) {
      Dedup.dedupCorpusKeepBest(docs, "doc_id", "quality", pairs)
    }
    val desc = jobs.map(_.description.getOrElse(""))
    assert(desc.nonEmpty && desc.forall(_.startsWith("Dedup.")), desc)
    assert(Seq("pairs", "members", "scored").forall(s =>
      desc.contains(s"Dedup.dedupCorpusKeepBest: $s")), desc)
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
  }

  test("editDistancePairs: typo classes pair, distinct fields don't, " +
      "equals brute force at an uncapped df") {
    val rows = Seq(
      (1L, "jonathan-smith"), (2L, "jonathan-smyth"),  // sub: 1
      (3L, "jonathan-smithx"),                         // ins: 1 vs 1
      (4L, "jonathan-smit"),                           // del: 1 vs 1
      (5L, "margaret-jones"),                          // far from all
      (6L, null.asInstanceOf[String])
    ).toDF("id", "name")
    val got = Dedup.editDistancePairs(rows, "id", "name", maxDist = 2)
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val brute = rows.as[(Long, String)].collect()
      .filter(_._2 != null)
    val want = (for {
      (a, ta) <- brute; (b, tb) <- brute if a < b
      d = {
        // reference Levenshtein DP
        val dp = Array.tabulate(ta.length + 1, tb.length + 1) {
          (i, j) => if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to ta.length; j <- 1 to tb.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1,
            dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (ta(i - 1) == tb(j - 1)) 0 else 1))
        dp(ta.length)(tb.length)
      }
      if d <= 2
    } yield (a, b) -> d).toMap
    assert(got == want && got.nonEmpty)
    assert(!got.keySet.exists(p => p._1 == 5L || p._2 == 5L))
    assert(!got.keySet.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("fingerprintOverlap counts DISTINCT shared fingerprints per " +
      "source pair, a<b, no-overlap pairs absent") {
    val docs = Seq(
      ("s1", "Hello, World!"), ("s2", "hello world"), // same fp
      ("s1", "shared twice"), ("s2", "Shared Twice"),
      ("s2", "shared twice"),  // within-source dup counts ONCE
      ("s3", "Hello world"),   // fp in all three sources
      ("s1", "only in s1"), ("s3", "only in s3")
    ).toDF("source", "text")
    val out = Dedup.fingerprintOverlap(docs, "source", "text")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(("s1", "s2") -> 2L, ("s1", "s3") -> 1L,
      ("s2", "s3") -> 1L))
  }

  test("dedupCorpusKeepBest works with STRING ids (the argmax must " +
      "not negate the id)") {
    val docs = Seq(
      ("a", 10L), ("b", 99L), ("c", 50L), ("z", 5L)
    ).toDF("doc_id", "quality")
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val kept = Dedup.dedupCorpusKeepBest(docs, "doc_id", "quality",
      pairs).select("doc_id").as[String].collect().toSet
    assert(kept == Set("b", "z"))
  }

  test("fingerprintOverlap ignores null-text documents (no phantom " +
      "shared fingerprint)") {
    val docs = Seq(("s1", null.asInstanceOf[String]),
      ("s2", null.asInstanceOf[String]), ("s1", "shared"),
      ("s2", "shared")).toDF("source", "text")
    val out = Dedup.fingerprintOverlap(docs, "source", "text")
      .as[(String, String, Long)].collect()
    assert(out.toSeq == Seq(("s1", "s2", 1L)))
  }

  test("dedupCorpusKeepBest equals dedupCorpus when quality is the " +
      "negated id") {
    val docs = (1L to 20L).map(i => (i, -i)).toDF("doc_id", "negid")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val best = Dedup.dedupCorpusKeepBest(docs, "doc_id", "negid",
      pairs).select("doc_id").as[Long].collect().toSet
    val plain = Dedup.dedupCorpus(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(best == plain)
  }

  test("bucketedPairs fanOut=true returns the same pairs as the " +
      "default (only the exchange partitioning differs)") {
    val docs = (1L to 200L).map(i => (i, s"k${i % 13}"))
      .toDF("id", "k")
    def run(fo: Boolean) = graft.operators.BucketPairs
      .bucketedPairs(docs, col("k"), col("id"), 1000L, fanOut = fo)
      .select(least(col("p.a"), col("p.b")).as("a"),
        greatest(col("p.a"), col("p.b")).as("b"))
      .as[(Long, Long)].collect().toSet
    assert(run(true) == run(false))
  }
}
