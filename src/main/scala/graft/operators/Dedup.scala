package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.DriverJobs
import graft.functions.{HashFunctions => H, TextFunctions => T}

/** Shared candidate-pair machinery for LSH-style bucketed dedup.
  *
  * The naive formulation — explode keys, self-join on the key — plans
  * the (expensive) signature pipeline THREE times: once per join side
  * and once for the bucket-size pre-count. Instead: one window count
  * over the bucket key (same shuffle the groupBy needs, so ONE exchange
  * total), filter to 2 ≤ size ≤ maxBucket, collect the bucket, and
  * generate the in-bucket pairs with array expressions. Signatures are
  * computed exactly once and only (key, id, payload) rows ever shuffle.
  * The size filter runs BEFORE collect_list, so a degenerate bucket is
  * dropped without ever materializing its array.
  */
private[graft] object BucketPairs {

  /** All pairs (i < j in array order) of `arr`, as structs (a, b). */
  def pairs(arr: Column): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), size(arr)),
        y => struct(x.as("a"), y.as("b")))))

  /** Bucket `df` by `key`, cap bucket size, and emit one row per
    * in-bucket pair of `payload` structs (columns `a` and `b`).
    *
    * `fanOut = true` pins the key exchange with an EXPLICIT partition
    * count (which the window AND the groupBy both reuse — still
    * exactly one exchange) so AQE's byte-based coalescing cannot
    * serialize it. It is for callers whose in-bucket pair work is
    * heavy compute per shuffled byte — the vector-similarity tiers,
    * where each pair pays an O(dim) dot product and the coalescer
    * (sized for byte-bound stages) folded q_knn_graph's whole scoring
    * stage into ONE task (measured 2.8 s single-task on local[32]).
    * Partition count = the session's configured shuffle parallelism
    * floor-ed at defaultParallelism, both cluster-derived, so the pin
    * scales with the deployment rather than encoding a local
    * constant. Cheap-verify callers (hash/id payloads) keep the
    * default: for them AQE's coalescing is the right call and the pin
    * only adds task overhead.
    */
  def bucketedPairs(df: DataFrame, key: Column, payload: Column,
      maxBucket: Long, fanOut: Boolean = false): DataFrame =
    buckets(df, key, payload, maxBucket, fanOut)
      .select(explode(pairs(col("__ps"))).as("p"))

  /** The capped buckets behind [[bucketedPairs]]: one row per bucket
    * with 2 ≤ size ≤ `maxBucket`, its `payload` structs collected in
    * column `__ps`, for callers that filter the in-bucket pairs before
    * building them. */
  def buckets(df: DataFrame, key: Column, payload: Column,
      maxBucket: Long, fanOut: Boolean = false): DataFrame = {
    val w = Window.partitionBy("__key")
    val keyed = df.select(key.as("__key"), payload.as("__p"))
    val part = if (fanOut) {
      val s = df.sparkSession
      val n = math.max(s.sparkContext.defaultParallelism,
        s.conf.get("spark.sql.shuffle.partitions", "200").toInt)
      keyed.repartition(n, col("__key"))
    } else keyed
    part
      .withColumn("__bc", count(lit(1)).over(w))
      .filter(col("__bc") >= 2 && col("__bc") <= maxBucket)
      .groupBy("__key").agg(collect_list(col("__p")).as("__ps"))
  }
}

/** Deduplication operators for corpus curation at scale: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup. (Embedding-cosine
  * near-dup lives in [[Similarity]].)
  *
  * Scale design notes:
  *  - Signatures (minhash, simhash, fingerprints) are PER-ROW expression
  *    trees — array higher-order functions over shingle arrays, no
  *    explode, no shuffle, no UDF. At 100 TB this is a single scan.
  *  - Candidate generation shuffles only (key, id) pairs — never
  *    documents — and all-pairs work happens strictly within LSH
  *    buckets / shared-gram groups (the standard inverted-index join),
  *    so the quadratic blow-up is bounded by bucket size, not corpus
  *    size.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: keep the smallest id per identical key. One hash
    * aggregation; at scale this is the cheapest possible formulation
    * (map-side partial min, shuffle carries only (key-hash, id)).
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String)
      : DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Near-exact dedup on the normalized-text fingerprint. */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String)
      : DataFrame =
    df.withColumn("fingerprint", T.fingerprint(col(textCol)))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Incremental dedup: of a NEW batch of documents, keep only those
    * whose normalized-text fingerprint (1) does not already exist in
    * the corpus and (2) is the batch's first occurrence (smallest id) —
    * the daily-crawl-increment shape, where re-deduplicating the whole
    * corpus per batch would be absurd. Returns the surviving new rows
    * unchanged.
    *
    * Scale notes: the corpus side reduces to DISTINCT fingerprints
    * before the anti-join (map-side combined; fingerprints, never
    * documents, shuffle). For a standing pipeline, persist the corpus
    * fingerprint set once with [[graft.sources.Io.writeBucketed]]
    * keyed on the fingerprint — every increment then anti-joins with
    * ZERO corpus-side shuffle and the (small) batch side repartitions
    * to match. The within-batch keep-first runs as one window on the
    * batch only.
    */
  def dedupIncrement(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val known = corpus
      .select(T.fingerprint(col(textCol)).as("__fp")).distinct()
    newDocs
      .withColumn("__fp", T.fingerprint(col(textCol)))
      .join(known, Seq("__fp"), "left_anti")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__fp").orderBy(col(idCol))))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  // -------------------------------------------------------------- minhash

  /** Shingle-hash array for one document (the expensive md5 pass). */
  def shingleHashes(textCol: Column, shingleLen: Int): Column =
    transform(T.charShingles(textCol, shingleLen),
      s => H.stableHash60(s))

  /** MinHash signature from a PRE-COMPUTED hash array: for each of the
    * k permutations, the min permuted hash. Callers should materialize
    * [[shingleHashes]] in its own projection first — higher-order
    * functions are interpreted (no codegen CSE), so inlining the hash
    * pass here would recompute the md5s k times.
    */
  def minhashSignatureFromHashes(hashes: Column, k: Int,
      seed: Long = 42L): Column =
    array(H.permutationSeeds(k, seed).map { case (a, b) =>
      array_min(transform(hashes, h => H.permuted(h, a, b)))
    }: _*)

  /** MinHash signature as one expression (convenience form — for hot
    * paths prefer the two-step split, see [[minhashSignatureFromHashes]]).
    */
  def minhashSignature(textCol: Column, k: Int, shingleLen: Int,
      seed: Long = 42L): Column =
    minhashSignatureFromHashes(shingleHashes(textCol, shingleLen), k,
      seed)

  /** LSH banding: md5 key per band of `rowsPerBand` signature entries.
    * Docs sharing any band key are near-dup candidates.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws(",",
        slice(sig, b * rowsPerBand + 1, rowsPerBand)))
    }: _*)

  /** Candidate near-dup pairs via MinHash+LSH, verified with the exact
    * signature-level Jaccard estimate (fraction of agreeing minhash
    * entries ≥ threshold). Returns (idA, idB, est_jaccard) with
    * idA < idB.
    *
    * Shuffle profile: explode of (band-key, id, sig) → group by band
    * key → within-bucket pairs. Documents themselves never shuffle.
    *
    * Scale bound: buckets larger than `maxBucket` are DROPPED from
    * candidate generation (a degenerate band key — empty/boilerplate
    * documents — would otherwise go quadratic: a band shared by 1% of
    * a corpus creates (N/100)² candidate pairs). Within-bucket work is
    * therefore ≤ maxBucket² per bucket, linear in bucket count. The cap
    * is far above any honest near-dup cluster; raise it only with a
    * matching increase in executor memory.
    */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, shingleLen: Int = 5, bands: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucket: Long = 10000L): DataFrame = {
    val rowsPerBand = k / bands
    // native single-pass kernel (bit-identical to minhashSignature —
    // see NativeHash): one JVM loop per row instead of interpreted
    // HOFs per shingle per permutation
    val withSig = df.select(col(idCol).as("id"),
      graft.functions.NativeHash
        .minhashColumn(col(textCol), k, shingleLen, seed).as("sig"))
    val exploded = withSig
      .select(col("id"), col("sig"),
        explode(bandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val p = BucketPairs.bucketedPairs(exploded, col("band"),
      struct(col("id"), col("sig")), maxBucket)
    val est = size(filter(zip_with(col("p.a.sig"), col("p.b.sig"),
      (x, y) => (x === y).cast("int")), v => v === 1)).cast("double") /
      lit(k)
    p.select(least(col("p.a.id"), col("p.b.id")).as("id_a"),
        greatest(col("p.a.id"), col("p.b.id")).as("id_b"),
        est.as("est_jaccard"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
  }

  // -------------------------------------------------------------- simhash

  /** SimHash over whitespace tokens: bit j of the result is set iff the
    * sum over tokens of ±1 (by bit j of the token's hash) is positive.
    * Default 60 bits — the full usable width of a non-negative int64 —
    * so chunk blocking gets 4×15-bit chunks (32,768 buckets each)
    * instead of the 256 an 8-bit chunking would give: expected bucket
    * size N/32768, which keeps within-bucket all-pairs sub-quadratic at
    * corpus scale. Pure expression, no shuffle.
    */
  def simhash(textCol: Column, bits: Int = 60): Column =
    simhashFromHashes(
      transform(T.tokens(textCol), t => H.stableHash60(t)), bits)

  /** SimHash from a PRE-COMPUTED token-hash array (materialize the md5
    * pass in its own projection first — see
    * [[minhashSignatureFromHashes]] for why).
    */
  def simhashFromHashes(hashes: Column, bits: Int = 60): Column = {
    val bitCols = (0 until bits).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc +
          when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Token-hash array for one document. */
  def tokenHashes(textCol: Column): Column =
    transform(T.tokens(textCol), t => H.stableHash60(t))

  /** Hamming distance between two simhash values (codegen'd popcount). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Chunk boundaries for pigeonhole blocking: `numChunks` contiguous
    * chunks covering the 60-bit hash, widths as equal as possible
    * (the first `60 % numChunks` chunks get the extra bit). Returns
    * (offset, width) per chunk.
    */
  private[graft] def simhashChunks(numChunks: Int)
      : Seq[(Int, Int)] = {
    val w = 60 / numChunks
    val r = 60 % numChunks
    (0 until numChunks).map { i =>
      (i * w + math.min(i, r), w + (if (i < r) 1 else 0))
    }
  }

  /** SimHash near-dup pairs, pigeonhole blocking on `maxDist + 1`
    * contiguous chunks of the 60-bit simhash: two docs with Hamming
    * distance ≤ maxDist have fewer differing bits than chunks, so they
    * MUST agree exactly on at least one chunk — the blocking is
    * recall-lossless for the declared radius. Verified by exact Hamming
    * distance. (A fixed 4-chunk blocking would silently miss pairs for
    * any maxDist ≥ 4 whose differing bits touch all four chunks.)
    *
    * Scale bound: (maxDist+1) × 2^(60/(maxDist+1)) buckets; buckets
    * above `maxBucket` are dropped from candidate generation (see
    * [[minhashDupPairs]]), so no stage is quadratic in corpus size.
    * maxDist is capped at 29 so every chunk keeps ≥ 2 bits.
    */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Long = 10000L): DataFrame = {
    require(maxDist >= 0 && maxDist <= 29,
      s"maxDist must be in [0, 29], got $maxDist")
    val withSh = df.select(col(idCol).as("id"),
      graft.functions.NativeHash.simhashColumn(col(textCol)).as("sh"))
    val chunks = array(simhashChunks(maxDist + 1).zipWithIndex.map {
      case ((off, width), i) =>
        concat_ws(":", lit(i),
          (shiftright(col("sh"), off)
            .bitwiseAND(lit((1L << width) - 1))).cast("string"))
    }: _*)
    val exploded = withSh.select(col("id"), col("sh"),
      explode(chunks).as("chunk"))
    val p = BucketPairs.bucketedPairs(exploded, col("chunk"),
      struct(col("id"), col("sh")), maxBucket)
    p.select(least(col("p.a.id"), col("p.b.id")).as("id_a"),
        greatest(col("p.a.id"), col("p.b.id")).as("id_b"),
        hammingDistance(col("p.a.sh"), col("p.b.sh")).as("hamming"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------------------ n-gram jaccard

  /** Word-n-gram Jaccard near-dup pairs, candidate-generate-then-verify:
    *
    *  1. inverted index over distinct n-grams, PRUNED of grams with
    *     document frequency > `dfCap` — an ungated index is the classic
    *     quadratic blow-up (a boilerplate/stopword gram shared by 1% of
    *     a 100 TB corpus creates a near-cartesian group). Per-gram work
    *     is thus ≤ dfCap² and linear in gram count;
    *  2. candidate pairs = ids sharing ≥ `minShared` surviving grams
    *     (ids only — documents never shuffle in this stage). The floor
    *     prunes the long tail of pairs sharing one incidental phrase —
    *     a jaccard-0.8 pair of normal-length documents shares dozens of
    *     grams, so only documents with < n+minShared−1 tokens can be
    *     missed, and those belong to exact/fingerprint dedup;
    *  3. EXACT verification: candidates join back to the (bounded)
    *     per-doc gram arrays and jaccard = |A∩B| / |A∪B| is computed on
    *     the full sets, so the cap can only lose candidates whose every
    *     shared gram is corpus-common — never report a wrong score.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, dfCap: Long = 1000L,
      minShared: Int = 3): DataFrame = {
    val grams = df.select(col(idCol).as("id"),
      graft.functions.NativeHash
        .distinctWordNGramsColumn(col(textCol), n).as("grams"))
    val inv = grams.select(col("id"), explode(col("grams")).as("gram"))
    val cand = BucketPairs.bucketedPairs(inv, col("gram"),
        struct(col("id")), dfCap)
      .select(least(col("p.a.id"), col("p.b.id")).as("id_a"),
        greatest(col("p.a.id"), col("p.b.id")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__ks"))
      .filter(col("__ks") >= minShared)
      .drop("__ks")
    // Verify with ONE more gram pass, not two: explode each candidate
    // pair into (id_a, id_b, side, id) rows, join the grams frame once,
    // regroup by the pair key itself. (Joining grams per side would
    // recompute the whole n-gram pipeline twice — it is the dominant
    // cost here. A synthetic monotonically_increasing_id pair key would
    // be NONDETERMINISTIC across re-evaluations of the candidate
    // subtree after its shuffle — (id_a, id_b) is already unique.)
    val sides = cand
      .select(col("id_a"), col("id_b"),
        explode(array(
          struct(col("id_a").as("id"), lit(0).as("__s")),
          struct(col("id_b").as("id"), lit(1).as("__s")))).as("e"))
      .select(col("id_a"), col("id_b"),
        col("e.id").as("id"), col("e.__s").as("__s"))
    val paired = sides.join(grams, Seq("id"))
      .groupBy("id_a", "id_b").agg(
        first(when(col("__s") === 0, col("grams")), ignoreNulls = true)
          .as("__ga"),
        first(when(col("__s") === 1, col("grams")), ignoreNulls = true)
          .as("__gb"))
    paired
      // separate projection: array_intersect is interpreted (no codegen
      // CSE) — materialize it once, not twice inside the jaccard expr
      .withColumn("__inter",
        size(array_intersect(col("__ga"), col("__gb"))))
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__ga")) + size(col("__gb")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** ASYMMETRIC near-dup pairs by n-gram CONTAINMENT:
    * |A∩B| / min(|A|, |B|) ≥ threshold — the partial-duplication
    * catch symmetric Jaccard misses (a short doc fully quoted inside
    * a long one scores J ≈ |short|/|long| → invisible at any usable
    * Jaccard threshold, but containment ≈ 1). Same candidate shape as
    * [[ngramJaccardPairs]]: df-capped bucketed inverted index,
    * minShared floor, ONE gram pass for the exact verify. Output adds
    * which side is the contained one (`contained_id` — the smaller
    * gram set; ties to the lower id), since downstream curation drops
    * the CONTAINED doc, not an arbitrary pair member.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8,
      dfCap: Long = 1000L, minShared: Int = 3): DataFrame = {
    val grams = df.select(col(idCol).as("id"),
      graft.functions.NativeHash
        .distinctWordNGramsColumn(col(textCol), n).as("grams"))
    val inv = grams.select(col("id"), explode(col("grams")).as("gram"))
    val cand = BucketPairs.bucketedPairs(inv, col("gram"),
        struct(col("id")), dfCap)
      .select(least(col("p.a.id"), col("p.b.id")).as("id_a"),
        greatest(col("p.a.id"), col("p.b.id")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__ks"))
      .filter(col("__ks") >= minShared)
      .drop("__ks")
    val sides = cand
      .select(col("id_a"), col("id_b"),
        explode(array(
          struct(col("id_a").as("id"), lit(0).as("__s")),
          struct(col("id_b").as("id"), lit(1).as("__s")))).as("e"))
      .select(col("id_a"), col("id_b"),
        col("e.id").as("id"), col("e.__s").as("__s"))
    val paired = sides.join(grams, Seq("id"))
      .groupBy("id_a", "id_b").agg(
        first(when(col("__s") === 0, col("grams")), ignoreNulls = true)
          .as("__ga"),
        first(when(col("__s") === 1, col("grams")), ignoreNulls = true)
          .as("__gb"))
    paired
      .withColumn("__inter",
        size(array_intersect(col("__ga"), col("__gb"))))
      .withColumn("containment", col("__inter").cast("double") /
        least(size(col("__ga")), size(col("__gb"))).cast("double"))
      .filter(col("containment") >= threshold)
      .withColumn("contained_id",
        when(size(col("__ga")) < size(col("__gb")), col("id_a"))
          .when(size(col("__gb")) < size(col("__ga")), col("id_b"))
          .otherwise(col("id_a")))
      .select("id_a", "id_b", "containment", "contained_id")
  }

  /** The delete half of [[ngramContainmentPairs]]: drop every doc
    * named as a CONTAINED side of a qualifying pair (the quoted copy
    * goes, the quoting original stays). The drop set is the distinct
    * `contained_id` column — bounded by the pair count, anti-joined
    * back; a doc contained in several others drops once. Note this
    * is deliberately NOT a cluster collapse: containment is not
    * transitive the way near-equality is (A⊂B and B⊂C says A⊂C, but
    * B≈C says nothing about either containing A), so the pairwise
    * contained-side drop is the correct semantics.
    */
  def scrubContained(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, dfCap: Long = 1000L,
      minShared: Int = 3): DataFrame = {
    val drop = ngramContainmentPairs(df, idCol, textCol, n,
        threshold, dfCap, minShared)
      .select(col("contained_id").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------- cluster collapse

  /** Collapse near-dup PAIRS into duplicate clusters: every node gets
    * `cluster_id` = the smallest id reachable through the pair graph
    * (its connected component's representative); nodes in no pair are
    * their own singleton cluster. This is the step a dedup pipeline
    * actually keys on — "keep one doc per cluster" — pairs alone
    * under-delete transitive duplicates (a~b, b~c must drop TWO of
    * {a,b,c}, not one per pair).
    *
    * Algorithm: a driver-side finish whenever the edges fit, else
    * distributed contraction until they do (the sketch-then-finish-
    * locally shape of "Approximation Algorithms for Large Scale Data
    * Analysis", PODS'21). `pairs` becomes ONE lazily
    * `localCheckpoint`ed frame of canonical edges (a < b, self-loops
    * dropped, duplicates kept) that every later step reads, so the
    * candidate generation behind it runs once.
    *
    *  - The offer: the job that materializes an edge set — the
    *    canonical edges up front, then each round's output — also
    *    sends every partition's distinct edges, up to its share of the
    *    bound, to the driver. If none is over its share, a min-label
    *    union-find labels every node (edges repeated across partitions
    *    are harmless to it) and no other job runs. The labels and the
    *    output schema are the distributed path's — the component
    *    minimum is the root either way — and the result is a local
    *    frame plus the same singleton anti-join. A graph that fits up
    *    front runs no round; 10× sf0.1 q_entity_clusters fits after
    *    round 0.
    *  - Distributed rounds, otherwise, on the edges as they are
    *    (repeats included): alternating large-star / small-star
    *    contraction (the MapReduce connected-components construction
    *    of Kiveris et al., "Connected Components in MapReduce and
    *    Beyond", SoCC 2014) — each round rewires every edge toward its
    *    neighborhood minimum, so components contract to min-rooted
    *    stars in O(log²) rounds REGARDLESS of diameter. One-hop
    *    min-label propagation (what this method used first) needs
    *    O(diameter) rounds: fatal for the long near-dup CHAINS a crawl
    *    corpus actually contains (the 10× scale-stress harness found a
    *    >20-hop component at 10× sf0.1). Per round only (id, id) edges
    *    shuffle — no per-node neighbor lists are ever collected, so a
    *    giant star is agg/join skew that AQE splits, never an executor
    *    OOM. Every round's distinct output is `localCheckpoint`ed —
    *    iterative self-joins otherwise stack an exponentially growing
    *    lineage.
    *  - The bound is derived from the driver heap
    *    (`Runtime.maxMemory` / 4096, ~5·10^5 edges at 2 GiB; see
    *    [[driverEdgeBound]]). No setting tunes it.
    *  - Driver labels compare with the id type's own Spark ordering:
    *    integral ids numerically, default-collation strings in UTF-8
    *    binary order (NOT `String.compareTo`: Spark orders U+FFFD
    *    before U+1F600, UTF-16 code units the other way). Any other id
    *    type (binary, decimal, collated strings, ...) is never offered
    *    and stays on the distributed path to convergence.
    *
    * `maxIter` bounds the distributed rounds, and the method fails
    * loudly rather than return a half-merged labeling (2^20-diameter
    * graphs do not occur). Every eager job carries a Spark job
    * description naming its step (edge set, driver collect, round i
    * stats / edges); the caller's description is restored on return.
    * Output columns `id` and `cluster_id` are always nullable.
    */
  def duplicateClusters(nodes: DataFrame, idCol: String,
      pairs: DataFrame, maxIter: Int = 20): DataFrame =
    duplicateClustersBounded(nodes, idCol, pairs, maxIter,
      driverEdgeBound)

  /** Largest edge set [[duplicateClusters]] labels on the driver. A
    * collected edge costs ~0.5 KiB of driver heap with integral ids:
    * its decoded row and two boxed ids (~80 B), the union-find's map
    * entry, key and parent slot for up to two new nodes (~200 B), and
    * one output row per node in both the Row and the local relation
    * form (~250 B). Budgeting 1 KiB per edge leaves room for string ids
    * of ~100 bytes; a quarter of the heap for the whole finish gives
    * maxMemory / 4096 — 524,288 edges at 2 GiB.
    */
  private def driverEdgeBound: Long =
    Runtime.getRuntime.maxMemory / 4096L

  /** [[duplicateClusters]] with an explicit driver bound. Tests only:
    * `driverBound` = 0 runs every round distributed. */
  private[graft] def duplicateClustersBounded(nodes: DataFrame,
      idCol: String, pairs: DataFrame, maxIter: Int,
      driverBound: Long): DataFrame = {
    val sc = nodes.sparkSession.sparkContext
    def step[T](what: String)(body: => T): T =
      DriverJobs.described(sc, s"Dedup.duplicateClusters: $what")(body)
    val edges = step("edge set")(pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .localCheckpoint(eager = false))
    val idType = edges.schema("a").dataType
    val wire = driverKey(idType).filter(_ => driverBound > 0)
    // the offer: ONE job materializes the lazily checkpointed `df` and
    // sends at most `driverBound` rows to the driver, each partition's
    // distinct edges up to its share; a partition over its share sends
    // none. All fit: the edges, for the driver labels. Otherwise the
    // job has cached `df` for the next round. (A `limit(bound + 1)`
    // scans one partition, then the rest, and the checkpoint adds a
    // job for the partitions it skipped.)
    def offer(df: DataFrame): Option[Array[Row]] = wire.flatMap { w =>
      val rdd = df.select(col("a").cast(w), col("b").cast(w)).rdd
      val share = math.min(driverBound / rdd.partitions.length.max(1),
        Int.MaxValue - 1L).toInt
      val parts = sc.runJob(rdd, (it: Iterator[Row]) => {
        val seen = new java.util.HashSet[(Any, Any)]()
        val rows = it.filter(r => seen.add(edgeKey(r)))
          .take(share + 1).toArray
        Option.when(rows.length <= share)(rows)
      })
      Option.when(parts.forall(_.isDefined))(parts.flatMap(_.get))
    }
    var e = edges
    var offered = step("driver collect")(offer(edges))
    var iter = 0
    var converged = false
    while (offered.isEmpty && !converged && iter < maxIter) {
      val b = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      // per-node neighborhood min + the fixpoint test, in ONE agg:
      // the graph is a min-rooted star forest (= converged) iff no
      // node has both a smaller and a larger neighbor (large-star is
      // then the identity) and no node has two smaller neighbors
      // (small-star is then the identity): its largest smaller
      // neighbor is its min. Exact on repeated edges, which round 0
      // reads.
      val statsPlan = b.groupBy("u").agg(
        min("v").as("__mn"),
        ((min(col("v")) < col("u") && max(col("v")) > col("u")) ||
          coalesce(max(when(col("v") < col("u"), col("v"))) >
            min(col("v")), lit(false))).as("__bad"))
      // convergence comes out of the SAME job that materializes the
      // stats: a pass-through map feeding an accumulator inside the
      // checkpointed plan. Task retries can only inflate a NONZERO
      // count (a retried stable partition re-adds 0), so `== 0` stays
      // exact. (The r19 optimization round tried fusing this job into
      // the edge-production job — one job per round — and measured it
      // SLOWER: the materialized stats frame gives
      // the rewiring join a size-known build side AQE broadcasts,
      // where the fused plan recomputes the stats subtree inside a
      // size-unknown join. Two small materialized jobs beat one deep
      // one here; kept.)
      val unstable = sc.longAccumulator(s"graft_cc_unstable_$iter")
      val stats = step(s"round $iter stats")(statsPlan.mapPartitions {
        it => it.map { r => if (r.getBoolean(2)) unstable.add(1L); r }
      }(Encoders.row(statsPlan.schema)).localCheckpoint())
      if (unstable.value == 0L) converged = true
      else {
        // large-star: every edge to a LARGER neighbor of u rewires to
        // u's neighborhood min m ≤ u < v (canonical order free).
        val ls = b.join(stats, Seq("u"))
          .filter(col("v") > col("u"))
          .select(least(col("__mn"), col("u")).as("a"),
            col("v").as("b"))
        // small-star on the large-star output: every SMALLER
        // neighbor of u (and u itself) rewires to the min of that set.
        val b2 = ls.select(col("a").as("u"), col("b").as("v"))
          .unionByName(ls.select(col("b").as("u"), col("a").as("v")))
        val mins = b2.groupBy("u").agg(min("v").as("__mn"))
        val ss = b2.join(mins, Seq("u"))
          .filter(col("v") < col("u") && col("v") =!= col("__mn"))
          .select(col("__mn").as("a"), col("v").as("b"))
          .unionByName(mins.filter(col("__mn") < col("u"))
            .select(col("__mn").as("a"), col("u").as("b")))
        step(s"round $iter edges") {
          e = ss.distinct().localCheckpoint(eager = false)
          offered = offer(e)
        }
      }
      iter += 1
    }
    val labels =
      if (converged) {
        // converged edge set IS the answer: stars (root=component
        // min, leaf) in canonical (a=root, b=leaf) order
        e.select(asNullable(col("b")).as("id"),
            asNullable(col("a")).as("cluster_id"))
          .unionByName(e.select(asNullable(col("a")).as("id"),
            asNullable(col("a")).as("cluster_id")))
          .distinct()
      } else {
        require(offered.isDefined,
          s"duplicateClusters did not converge in $maxIter rounds - " +
          "graph is adversarially deep for large-star/small-star; " +
          "raise maxIter")
        driverLabels(nodes.sparkSession, offered.get, idType, wire.get)
      }
    val singletons = nodes.select(col(idCol).as("id"))
      .join(labels.select("id"), Seq("id"), "left_anti")
      .withColumn("cluster_id", col("id"))
    labels.unionByName(singletons)
  }

  // CASE WHEN without ELSE is always nullable: pins the output schema
  // so it does not depend on how many rounds ran (a round's `a` is an
  // aggregate min, nullable; the input edge set may not be)
  private def asNullable(c: Column): Column = when(c.isNotNull, c)

  /** The type the offer sends ids to the driver as, when it can order
    * them exactly like Spark: integral ids widen to long (numeric
    * order); default-collation strings travel as their UTF-8 bytes
    * (binary order, compared as [[UTF8String]]). */
  private def driverKey(idType: DataType): Option[DataType] =
    idType match {
      case ByteType | ShortType | IntegerType | LongType => Some(LongType)
      case StringType => Some(BinaryType) // equal only at UTF8_BINARY
      case _ => None
    }

  /** Content key of a collected `(a, b)` edge: a Row hashes an
    * `Array[Byte]` id by identity. */
  private def edgeKey(r: Row): (Any, Any) = (r.get(0), r.get(1)) match {
    case (a: Array[Byte], b: Array[Byte]) =>
      (UTF8String.fromBytes(a), UTF8String.fromBytes(b))
    case ab => ab
  }

  /** Driver finish: label every node of the collected `(a, b)` edges
    * (ids as `wire`, see [[driverKey]]) with its component minimum by
    * union-find, and return the labels as a local `(id, cluster_id)`
    * frame of `idType`. */
  private def driverLabels(spark: SparkSession, rows: Array[Row],
      idType: DataType, wire: DataType): DataFrame = {
    val out: Seq[Row] =
      if (wire == LongType)
        minLabels[Long](rows.map(r => (r.getLong(0), r.getLong(1))),
            _ < _).map { case (k, root) => Row(k, root) }
      else
        minLabels[UTF8String](rows.map(r =>
            (UTF8String.fromBytes(r.getAs[Array[Byte]](0)),
              UTF8String.fromBytes(r.getAs[Array[Byte]](1)))),
            _.binaryCompare(_) < 0)
          .map { case (k, root) => Row(k.getBytes, root.getBytes) }
    val schema = StructType(Seq(StructField("id", wire),
      StructField("cluster_id", wire)))
    spark.createDataFrame(out.asJava, schema)
      .select(col("id").cast(idType).as("id"),
        col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** Min-label union-find: every node of `edges` with the smallest node
    * of its component under `lt`. Roots are always component minima
    * (a union hangs the larger root under the smaller). */
  private def minLabels[K](edges: Array[(K, K)],
      lt: (K, K) => Boolean): Seq[(K, K)] = {
    val index = new java.util.HashMap[K, Integer]()
    val keys = scala.collection.mutable.ArrayBuffer.empty[K]
    def slot(k: K): Int = {
      val i = index.putIfAbsent(k, keys.length)
      if (i != null) i else { keys += k; keys.length - 1 }
    }
    val ends = edges.map { case (a, b) => (slot(a), slot(b)) }
    val parent = Array.tabulate(keys.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) {
        parent(r) = parent(parent(r)) // path halving
        r = parent(r)
      }
      r
    }
    ends.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (lt(keys(ra), keys(rb))) parent(rb) = ra else parent(ra) = rb
      }
    }
    keys.indices.map(i => (keys(i), keys(find(i))))
  }

  /** The delete itself: given near-dup pairs, keep exactly ONE document
    * per duplicate cluster (the smallest id — deterministic on any
    * engine) and drop the rest. Composes [[duplicateClusters]]'s
    * transitive closure with the representative filter, so a~b, b~c
    * correctly drops two of {a,b,c} where a pairwise delete would drop
    * one per pair and leave a duplicate behind.
    *
    * Only ids flow through the clustering; the corpus joins once at the
    * end against the (small) non-representative id set — at scale the
    * join side is |pair members| − |clusters| rows, a tiny fraction of
    * the corpus, so AQE broadcasts it and documents never shuffle.
    */
  def dedupCorpus(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val drop = duplicateClusters(df.select(col(idCol)), idCol, pairs,
        maxIter)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Near-identical SHORT-FIELD pairs by edit distance — the entity-
    * resolution primitive (author names, domains, product codes with
    * typos) that token/shingle similarity can't see at field length:
    * `(id_a, id_b, edit_dist)` for every pair of rows with
    * `levenshtein ≤ maxDist` (classic DP — identical integers on any
    * engine), ids ordered by `least`/`greatest`. The output is a bag:
    * duplicate input rows give duplicate pairs, and a same-value pair
    * needs two distinct non-null ids. Null fields never pair.
    *
    * Plan: three shuffles (value, gram, value pair) and no join.
    *  - One exchange groups the rows by value: `value → its ids`,
    *    duplicates and null ids kept. Entity fields repeat heavily
    *    (many documents share one author spelling), so blocking costs
    *    |values|² per bucket, not |docs|², and each Levenshtein DP runs
    *    once per VALUE pair.
    *  - Same-value doc pairs (distance 0) are every pair of each id
    *    list.
    *  - Candidates come from a df-capped CHARACTER-trigram inverted
    *    index over the grouped values (`dfCap` counts distinct values
    *    per gram); each value travels with its ids. Inside a bucket
    *    the length gate and the banded DP (`levenshtein(l, r,
    *    maxDist)`, O(len·maxDist)) filter every candidate pair before
    *    any row is built, so a candidate never copies an id list — a
    *    1000-value bucket would otherwise copy them into ~5·10^5 rows.
    *  - A matched value pair leaves each shared gram's bucket with both
    *    id lists: |ids_a| + |ids_b| ids, at most one more than its own
    *    |ids_a|·|ids_b| output rows. One distinct drops the copies from
    *    the other shared grams (a value's ids come from its one grouped
    *    row, so the whole row is a function of (ta, tb)), and the doc
    *    pairs are the cross product of the two lists.
    *
    * The pigeonhole bound makes blocking recall-complete below the
    * cap: `maxDist` edits destroy at most `3·maxDist` of a string's
    * `len−2` trigrams, so any pair within `maxDist` of a string longer
    * than `3·maxDist + 2` still shares one INTACT trigram. Shorter
    * fields (and value pairs whose every shared trigram is a capped
    * hub) are the same bounded-recall contract as the other df-capped
    * candidate generators.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 2, dfCap: Long = 1000L): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    // collect_list drops nulls: wrapping each id keeps a null id
    val byVal = df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .filter(col("__t").isNotNull)
      .groupBy("__t")
      .agg(flatten(collect_list(array(col("id")))).as("__ids"))
    // doc pairs leave through explode, which is codegen'd (a lambda
    // building the pairs would be interpreted)
    def docPairs(a: Column, b: Column, d: Column) = Seq(
      least(a, b).as("id_a"), greatest(a, b).as("id_b"), d.as("edit_dist"))
    // every i < j pair of each id list
    val sameVal = byVal
      .select(posexplode(col("__ids")).as(Seq("__i", "__a")),
        col("__ids"))
      .select(col("__a"), explode(slice(col("__ids"), col("__i") + 2,
        size(col("__ids")))).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .select(docPairs(col("__a"), col("__b"), lit(0)): _*)
    // distinct char trigrams; guard the sequence — Spark's
    // sequence(1, 0) steps BACKWARD instead of being empty
    val grams = when(length(col("__t")) >= 3,
      array_distinct(transform(
        sequence(lit(1), length(col("__t")) - 2),
        i => col("__t").substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val inv = byVal.select(
      struct(col("__t").as("t"), col("__ids").as("ids")).as("__v"),
      explode(grams).as("gram"))
    def dist(x: Column, y: Column) = levenshtein(x("t"), y("t"), maxDist)
    def near(x: Column, y: Column) =
      abs(length(x("t")) - length(y("t"))) <= maxDist && // cheap gate
        dist(x, y).between(1, maxDist)
    // values are distinct in a bucket: sorted, i < j means ta < tb
    val vs = col("__vs")
    val matched = BucketPairs.buckets(inv, col("gram"), col("__v"), dfCap)
      .select(sort_array(col("__ps")).as("__vs"))
      .select(explode(flatten(transform(vs, (x, i) =>
        transform(filter(slice(vs, i + lit(2), size(vs)), y => near(x, y)),
          y => struct(x("t").as("ta"), y("t").as("tb"),
            x("ids").as("ia"), y("ids").as("ib"),
            dist(x, y).as("edit_dist")))))).as("m"))
      .select("m.*")
      .distinct() // a value pair may share several grams
    val crossVal = matched
      .select(explode(col("ia")).as("__a"), col("ib"), col("edit_dist"))
      .select(col("__a"), explode(col("ib")).as("__b"), col("edit_dist"))
      .select(docPairs(col("__a"), col("__b"), col("edit_dist")): _*)
    sameVal.unionByName(crossVal)
  }

  /** Cross-group contamination matrix: for every pair of `groupCol`
    * values (sources, snapshots, shards), how many DISTINCT normalized
    * fingerprints they share — the corpus-forensics report that shows
    * which feeds mirror each other before any pairwise dedup work is
    * scheduled. Returns `(group_a, group_b, n_shared)` with
    * group_a < group_b; pairs sharing nothing are absent.
    *
    * Scale shape: one distinct over (fingerprint, group) — map-side
    * partial, fingerprints not documents shuffle — then one
    * aggregation to a per-fingerprint sorted group SET. The pair
    * explosion is bounded by |groups|² per fingerprint (groups are
    * dozens, not documents), so no bucket cap is needed; the final
    * (group_a, group_b) count table is |groups|²-sized.
    */
  def fingerprintOverlap(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    // null texts fingerprint to null — Spark's groupBy would treat
    // them as one shared key and report phantom cross-source
    // contamination (SQL join-on-equality semantics never match null)
    val fp = df.select(T.fingerprint(col(textCol)).as("__fp"),
        col(groupCol).as("__g"))
      .filter(col("__fp").isNotNull)
      .distinct()
    fp.groupBy("__fp")
      .agg(sort_array(collect_set(col("__g"))).as("__gs"))
      .filter(size(col("__gs")) >= 2)
      .select(explode(BucketPairs.pairs(col("__gs"))).as("p"))
      .groupBy(col("p.a").as("group_a"), col("p.b").as("group_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Quality-ranked canonical selection: keep the HIGHEST-`qualityCol`
    * member of each duplicate cluster instead of [[dedupCorpus]]'s
    * arbitrary smallest id — the production rule ("keep the longest /
    * cleanest / best-scored copy") for near-dup collapse. Ties break
    * to the smallest id; a null quality loses to any non-null one; an
    * all-null cluster falls back to the smallest id. The argmax is a
    * two-phase per-cluster max-quality + min-id-among-ties (works for
    * ANY orderable id/quality types), so the survivor set is
    * engine-independent.
    *
    * Scale shape: only PAIR MEMBER ids flow through the clustering
    * ([[duplicateClusters]]: driver labels from the first edge set
    * that fits, up front or after a round); the corpus contributes
    * quality values through one join against that small member set
    * (AQE broadcasts it — the corpus never shuffles), and
    * the final delete is the same small-side anti join as
    * [[dedupCorpus]]. Per-cluster argmax is a partial-aggregated
    * |clusters|-sized exchange of the member table only.
    */
  def dedupCorpusKeepBest(df: DataFrame, idCol: String,
      qualityCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    def step[T](what: String)(body: => T): T =
      DriverJobs.described(df.sparkSession.sparkContext,
        s"Dedup.dedupCorpusKeepBest: $what")(body)
    // pin the pair pipeline ONCE: members reads it twice (both union
    // branches) and the clustering once more — without the pin the
    // upstream signature pipeline (minhash/banding) re-executes for
    // each, which dominated this operator's wall
    val p = step("pairs")(pairs.select("id_a", "id_b").localCheckpoint())
    val members = step("members")(p.select(col("id_a").as("id"))
      .unionByName(p.select(col("id_b").as("id")))
      .distinct()
      .localCheckpoint()) // reused by the quality join AND the delete
    val labels = duplicateClusters(members, "id", p, maxIter)
    val qual = df
      .select(col(idCol).as("id"), col(qualityCol).as("__q"))
      .join(members, Seq("id")) // members is small: broadcast, map-side
    // two-phase argmax instead of max(struct(q, -id)): a negated id
    // only orders NUMERIC ids (string ids would cast to null and
    // silently drop every member) — per-cluster max quality, then the
    // smallest id among the (null-safe) quality ties. All frames here
    // are member-sized, so the extra join is small-side.
    val scored = step("scored")(labels.join(qual, Seq("id"))
      .localCheckpoint())
    val best = scored.groupBy("cluster_id")
      .agg(max(col("__q")).as("__mq"))
    val keep = scored.join(best, Seq("cluster_id"))
      .filter(col("__q") <=> col("__mq")) // all-null cluster: null<=>null
      .groupBy("cluster_id").agg(min(col("id")).as("id"))
    val drop = members.join(keep.select("id"), Seq("id"), "left_anti")
    df.join(drop.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }
}
