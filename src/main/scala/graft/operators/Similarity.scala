package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{HashFunctions => H}

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`): brute-force cosine top-k as the exact baseline, an
  * LSH (random-hyperplane) bucketed variant as the scale path, and
  * embedding-cosine near-dup pairs.
  *
  * Numeric portability: `quantize` maps floats to integer milli-units so
  * dot products become EXACT int64 arithmetic — bit-identical across
  * engines and partitionings (float accumulation order is not). The
  * library exposes both the float path (fast) and quantized path
  * (reproducible).
  */
object Similarity {

  /** Round each float to an integer count of 1/1000 units. Native
    * kernel, value-identical to
    * `transform(v, x -> round(x.cast(double)*1000).cast(long))`.
    */
  def quantize(v: Column): Column =
    graft.functions.NativeHash.quantizeColumn(v)

  /** Exact int64 dot product of two quantized vectors (native kernel —
    * same integer sum as aggregate(zip_with(a, b, _*_), 0L, _+_)).
    */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.NativeHash.dotQColumn(a, b)

  /** Cosine similarity from quantized vectors (deterministic doubles:
    * integer dot/norms, one sqrt, one divide).
    */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      sqrt(dotQ(a, a).cast("double") * dotQ(b, b).cast("double"))

  /** Float-path cosine (double accumulation) — faster, engine-local. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b,
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _)
    val na = aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val nb = aggregate(b, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    dot / sqrt(na * nb)
  }

  /** Brute-force exact top-k: broadcast the (small) query side against
    * the corpus, rank per query. The corpus is scanned once and never
    * shuffled — only (query, candidate, score) rows reach the per-query
    * top-k, which AQE executes as a partial top-k (rank filter pushes
    * into the sort).
    *
    * Quantized vectors and their self-dot norms are computed ONCE per
    * side before the join, so per-pair work is a single int64 dot
    * product — not three dots plus two re-quantizations.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      quantized: Boolean = true): DataFrame = {
    val scored =
      if (quantized) {
        val cq = corpus.select(col(idCol),
            quantize(col(vecCol)).as("__cv"))
          .withColumn("__cn", dotQ(col("__cv"), col("__cv")))
        val qq = queries.select(col(idCol).as("query_id"),
            quantize(col(vecCol)).as("__qv"))
          .withColumn("__qn", dotQ(col("__qv"), col("__qv")))
        cq.join(broadcast(qq), col("query_id") =!= col(idCol))
          .select(col("query_id"), col(idCol).as("neighbor_id"),
            (dotQ(col("__qv"), col("__cv")).cast("double") /
              sqrt(col("__qn").cast("double") * col("__cn").cast("double")))
              .as("cosine"))
      } else {
        val q = queries.select(col(idCol).as("query_id"),
          col(vecCol).as("__qv"))
        corpus.join(broadcast(q), col("query_id") =!= col(idCol))
          .select(col("query_id"), col(idCol).as("neighbor_id"),
            cosine(col("__qv"), col(vecCol)).as("cosine"))
      }
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Random-hyperplane LSH sign bits over the QUANTIZED vector with
    * INTEGER plane weights: dot products are exact int64 arithmetic, so
    * a bucket id is bit-identical on every engine and partitioning (a
    * float dot near zero could flip sign under a different summation
    * order — integer dots cannot). Plane p's bit occupies 1<<p of the
    * result. `planeOffset` selects a disjoint plane family per band.
    */
  def hyperplaneBucket(vec: Column, dim: Int, planes: Int,
      planeOffset: Int = 0): Column =
    hyperplaneBucketQ(quantize(vec), dim, planes, planeOffset)

  /** As [[hyperplaneBucket]] but over an ALREADY-quantized vector, so
    * callers that reuse the quantized form don't re-quantize per plane.
    * Native kernel: all `planes` integer dots in one pass.
    */
  def hyperplaneBucketQ(qv: Column, dim: Int, planes: Int,
      planeOffset: Int = 0): Column =
    graft.functions.NativeHash.hyperplaneBitsColumn(qv, dim, planes,
      planeOffset)

  /** Deterministic integer hyperplane component in [−1000, 1000]
    * (md5 of "plane:j" — no RNG state, identical on every engine).
    */
  def planeComponent(plane: Int, j: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane:$j".getBytes("UTF-8"))
    val h = java.lang.Long.parseLong(
      md.take(7).map("%02x".format(_)).mkString, 16)
    h % 2001L - 1000L
  }

  /** ANN via BANDED hyperplane buckets (multi-probe): candidates =
    * corpus vectors sharing ANY of `bands` independent bucket keys with
    * the query, deduplicated, ranked by exact quantized cosine. Recall
    * for a neighbor at angle θ is 1 − (1 − (1−θ/π)^planesPerBand)^bands
    * — tune bands up for recall, planesPerBand up for bucket sparsity.
    * The corpus never shuffles: bucket keys are per-row expressions and
    * the join is an equi-join against the (small, broadcast) query side.
    */
  def lshBandedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, bands: Int = 4,
      planesPerBand: Int = 8): DataFrame = {
    def keyed(df: DataFrame, id: Column, alias: String): DataFrame = {
      val qv = quantize(col("__v"))
      df.select(id.as(alias), col(vecCol).as("__v"))
        .withColumn("__qv", qv)
        .withColumn("__n", dotQ(col("__qv"), col("__qv")))
        .withColumn("__bkey", explode(array((0 until bands).map { bi =>
          concat_ws(":", lit(bi),
            hyperplaneBucketQ(col("__qv"), dim, planesPerBand,
              planeOffset = bi * planesPerBand).cast("string"))
        }: _*)))
        .drop("__v")
    }
    val cb = keyed(corpus, col(idCol), "neighbor_id")
      .withColumnRenamed("__qv", "__cv").withColumnRenamed("__n", "__cn")
    val qb = keyed(queries, col(idCol), "query_id")
      .withColumnRenamed("__n", "__qn")
    val cand = cb.join(broadcast(qb), Seq("__bkey"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotQ(col("__qv"), col("__cv")).cast("double") /
          sqrt(col("__qn").cast("double") * col("__cn").cast("double")))
          .as("cosine"))
      .distinct()
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** ANN via hyperplane buckets: candidates = corpus vectors in the
    * query's bucket (single-probe), ranked by exact cosine. Simplest
    * plan shape; prefer [[lshBandedTopK]] when recall matters — a
    * single probe misses any neighbor differing on one plane.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, planes: Int = 8): DataFrame = {
    val cb = corpus.withColumn("__bucket",
      hyperplaneBucket(col(vecCol), dim, planes))
    val qb = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"))
      .withColumn("__bucket",
        hyperplaneBucket(col("__qv"), dim, planes))
    val scored = cb.join(broadcast(qb), Seq("__bucket"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        cosineQ(quantize(col("__qv")), quantize(col(vecCol)))
          .as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style ANN: partition the corpus into `nCentroids` inverted
    * lists by nearest centroid, probe the query's `nProbe` closest
    * lists, rank candidates by exact quantized cosine.
    *
    * Centroids come from a deterministic sampled k-means: seeds are the
    * `nCentroids` corpus vectors with the smallest `(md5(id), id)` key
    * (a pseudo-random but engine-independent sample — NOT the lowest
    * ids, which on a clustered corpus would put every seed in one
    * region and degenerate the inverted lists toward brute force), then
    * `kmeansIters` spherical-assignment iterations. Every step is
    * engine-reproducible: assignment is argmax of
    * `dot(v,c)/sqrt(dot(c,c))` over EXACT int64 dots (one correctly-
    * rounded sqrt + divide — no float accumulation), means are exact
    * int64 component sums floor-divided by the list size, ties go to
    * the lowest centroid index.
    *
    * Scale shape: seeds are one bounded TakeOrdered collect; each
    * k-means iteration is ONE map-side-combined aggregation producing
    * `nCentroids` rows (count + `dim` component sums — no shuffle of
    * vectors, no per-row state); centroids broadcast as literals;
    * corpus assignment is a per-row expression (no shuffle); the probe
    * join is an equi-join on list id against the broadcast query side.
    * Expected candidates per query ≈ nProbe/nCentroids of the corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      kmeansIters: Int = 2): DataFrame = {
    val cq = corpus.select(col(idCol).as("neighbor_id"),
        quantize(col(vecCol)).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv")))
    val centroids = fitCentroidsKMeans(cq, "neighbor_id", "__cv",
      nCentroids, kmeansIters)

    def nearestList(qv: Column): Column =
      IvfCentroids.nearestList(qv, centroids)
    def probeLists(qv: Column): Column =
      IvfCentroids.probeLists(qv, centroids, nProbe)

    val corpusListed = cq.withColumn("__list", nearestList(col("__cv")))
    val qq = queries.select(col(idCol).as("query_id"),
        quantize(col(vecCol)).as("__qv"))
      .withColumn("__qn", dotQ(col("__qv"), col("__qv")))
      .withColumn("__list", explode(probeLists(col("__qv"))))
    val scored = corpusListed.join(broadcast(qq), Seq("__list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotQ(col("__qv"), col("__cv")).cast("double") /
          sqrt(col("__qn").cast("double") * col("__cn").cast("double")))
          .as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** k-nearest-neighbor GRAPH: every vector's `k` most cosine-similar
    * neighbors in ONE pass over the corpus (queries = corpus — the
    * primitive under semantic-dedup audits, embedding-cluster QA and
    * graph-based curation). [[ivfTopK]] broadcasts a small query
    * frame; a graph build can't (the query side IS the corpus), so
    * candidates come from a SELF-join scoped to shared IVF probe
    * lists: each vector enters its `nProbe` nearest centroid lists,
    * vectors sharing a list pair up, and each id keeps its `k` best
    * by exact quantized cosine. Output: (query_id, neighbor_id,
    * cosine, rank ≤ k), both directions of every candidate pair.
    *
    * Scale shape: one exchange on list id; per-list pairing is
    * quadratic in LIST size by design, kept bounded because
    * `nCentroids ≤ 0` (default) auto-scales the centroid count to
    * ~`n·nProbe/targetListSize` (the fixed-k-at-growing-n trap the
    * stress harness caught on SemDeDup), with `maxList` hard-capping
    * adversarial lists — the same bounded-recall contract as the LSH
    * bucket caps. The final top-k cut is a rank-1..k window per
    * query_id (WindowGroupLimit pre-filters map-side to k before the
    * exchange). Recall: a true neighbor is missed only when its probe
    * lists are disjoint from the query's — `nProbe` ≥ 2 keeps
    * boundary vectors in their two nearest lists, the standard IVF
    * trade.
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 0, nProbe: Int = 2, kmeansIters: Int = 2,
      maxList: Long = 100000L,
      targetListSize: Long = 1000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cq = df.select(col(idCol).as("id"),
        quantize(col(vecCol)).as("__qv"))
      .withColumn("__qn", dotQ(col("__qv"), col("__qv")))
    // persist BEFORE the auto-k count so the count and the fit's
    // iters+1 jobs share one evaluation of the scan+quantize pipeline
    // (the r6 plan audit flagged the count as a full extra pass)
    val cached = cq.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probeCol: Column =
      try {
        val nc =
          if (nCentroids > 0) nCentroids
          else {
            val n = cached.count()
            math.max(1L, math.min(
              (n * nProbe + targetListSize - 1) / targetListSize,
              65536L)).toInt
          }
        if (nc <= FlatKCeiling) {
          val cents = fitCentroidsKMeans(cached, "id", "__qv", nc,
            kmeansIters, managePersist = false)
          IvfCentroids.probeLists(col("__qv"), cents,
            math.min(nProbe, cents.length))
        } else {
          // past the flat ceiling the auto path goes hierarchical:
          // same bounded list sizes, assignment cost O(2sqrt(k)·dim)
          val k1 = math.ceil(math.sqrt(nc.toDouble)).toInt
          val tl = fitCentroidsTwoLevel(cached, "id", "__qv", k1, k1,
            kmeansIters, managePersist = false)
          IvfCentroids.probeListsTwoLevel(col("__qv"), tl,
            math.min(nProbe, k1))
        }
      } finally cached.unpersist(blocking = false)
    val listed = cq.withColumn("__list", explode(probeCol))
    val p = BucketPairs.bucketedPairs(listed, col("__list"),
      struct(col("id"), col("__qv"), col("__qn")), maxList,
      fanOut = true)
    val cos = dotQ(col("p.a.__qv"), col("p.b.__qv")).cast("double") /
      sqrt(col("p.a.__qn").cast("double") *
        col("p.b.__qn").cast("double"))
    // both directions from ONE explode — a self-union of the scored
    // frame would re-execute the whole pairing pipeline twice (the
    // plan showed two full scan→window→collect_list subtrees). The
    // cosine is projected in its OWN step first: referencing `cos`
    // from both explode structs would evaluate the dot product twice
    // per pair (CollapseProject only inlines cheap expressions, so
    // this projection survives the optimizer).
    val scoredOnce = p.select(col("p.a.id").as("__ia"),
      col("p.b.id").as("__ib"), cos.as("__c"))
    val sym = scoredOnce.select(explode(array(
        struct(col("__ia").as("q"), col("__ib").as("n"),
          col("__c").as("c")),
        struct(col("__ib").as("q"), col("__ia").as("n"),
          col("__c").as("c")))).as("e"))
      .select(col("e.q").as("query_id"), col("e.n").as("neighbor_id"),
        col("e.c").as("cosine"))
      .distinct() // a pair sharing several probe lists scores once
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic sampled k-means over a quantized-vector column.
    * Seeds: the `nCentroids` rows with the smallest `(md5(id), id)` —
    * a fixed pseudo-random sample, identical on every engine and
    * partitioning. Each iteration assigns every vector to its
    * spherical-nearest centroid (exact int64 dot / sqrt of the exact
    * centroid norm) and replaces each centroid with the floor'd
    * component-wise mean of its list; a centroid whose list empties
    * keeps its previous position. All arithmetic is exact-int or
    * single correctly-rounded double ops, so the result is
    * bit-reproducible (the DuckDB oracle replays it).
    */
  private[graft] def fitCentroidsKMeans(cq: DataFrame, idCol: String,
      vecCol: String, nCentroids: Int, iters: Int,
      managePersist: Boolean = true): Array[Seq[Long]] = {
    // the fit runs iters+1 jobs over cq (seed sample + one per
    // iteration): persist the quantized frame for the fit's duration
    // so the scan+quantize pipeline evaluates once, not per job — the
    // standard iterative-fit cache (MEMORY_AND_DISK spills instead of
    // recomputing when executors are tight). Measured 3.9 s -> ~1 s on
    // the sf0.1 embeddings fit. `managePersist = false` means the
    // caller already persisted cq (the auto-k paths, which need a
    // count of the same frame BEFORE the fit) and owns the unpersist.
    val cached = if (managePersist) cq.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else cq
    val sc = cq.sparkSession.sparkContext
    def step[T](what: String)(body: => T): T =
      graft.core.DriverJobs.described(sc,
        s"Similarity.fitCentroidsKMeans: $what")(body)
    try {
      var cents: Array[Seq[Long]] = step("seed")(cached
        .orderBy(md5(col(idCol).cast("string")), col(idCol))
        .limit(nCentroids)
        .select(col(vecCol)).collect().map(_.getSeq[Long](0)))
      require(cents.nonEmpty, "corpus is empty")
      for (i <- 0 until iters) {
        // ONE aggregation: partial (map-side) combine reduces every
        // partition to <= nCentroids rows of (count, component sums)
        // before the exchange — the corpus vectors themselves never
        // shuffle. The sums use the native VecSumLong aggregate: the
        // composed dim × sum(element_at) form re-compiled a huge
        // codegen unit EVERY iteration (the centroid literals change),
        // ~1 s per iteration of pure janino at any data size.
        val upd = step(s"iteration $i")(cached
          .withColumn("__list",
            IvfCentroids.nearestList(col(vecCol), cents))
          .groupBy("__list")
          .agg(count(lit(1)).as("__cnt"),
            graft.functions.NativeHash.vecSumColumn(col(vecCol))
              .as("__sums"))
          .collect())
        val next = cents.clone()
        upd.foreach { r =>
          val li = r.getAs[Int]("__list")
          val n  = r.getAs[Long]("__cnt").toDouble
          next(li) = r.getSeq[Long](r.fieldIndex("__sums"))
            .map(s => math.floor(s / n).toLong)
        }
        cents = next
      }
      cents
    } finally if (managePersist) cached.unpersist(blocking = false)
  }

  /** Largest centroid count the FLAT fit should carry: past this, the
    * per-row assignment cost O(k·dim) dominates the fit and the
    * listing scan itself (at k = 65536, dim = 64 that is 4M multiplies
    * per row). The auto-k paths switch to [[fitCentroidsTwoLevel]]
    * above it: assignment falls to O((k₁+k₂)·dim) = O(2√k·dim), a
    * 128× cut at the 65536 cap.
    */
  val FlatKCeiling = 4096

  /** Centroid fit for PERSISTENT index builds ([[IvfIndex]],
    * [[IvfPqIndex]]): a pinned `nCentroids > 0` keeps the flat fit
    * (the caller chose its k — small serving indexes, oracle
    * queries); `nCentroids = 0` auto-scales the list count to
    * ~`n / targetListSize` (capped at 65536) and, past
    * [[FlatKCeiling]], routes through [[fitCentroidsTwoLevel]] so the
    * per-row assignment cost stays O(2√k·dim) in the BUILD path too —
    * the hierarchy is then flattened to global (list_id, vec) order,
    * which is exactly the layout the serving side already reads, so
    * readers never know which fit produced the index. The corpus
    * frame is persisted across the auto-k count and the fit
    * (one scan+quantize evaluation, the r6 plan-audit rule).
    *
    * Returns (flat centroids in global list order, per-row
    * list-assignment column for `vecCol`). Deterministic end to end,
    * so build-twice stays byte-identical.
    */
  private[operators] def fitIndexCentroids(cq: DataFrame,
      idCol: String, vecCol: String, nCentroids: Int, iters: Int,
      targetListSize: Long): (Array[Seq[Long]], Column) = {
    require(nCentroids >= 0,
      s"nCentroids must be >= 0 (0 = auto), got $nCentroids")
    require(targetListSize >= 1,
      s"targetListSize must be >= 1, got $targetListSize")
    if (nCentroids > 0) {
      val cents = fitCentroidsKMeans(cq, idCol, vecCol, nCentroids,
        iters)
      (cents, IvfCentroids.nearestList(col(vecCol), cents))
    } else {
      val cached = cq.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = cached.count()
        val nc = math.max(1L, math.min(
          (n + targetListSize - 1) / targetListSize, 65536L)).toInt
        if (nc <= FlatKCeiling) {
          val cents = fitCentroidsKMeans(cached, idCol, vecCol, nc,
            iters, managePersist = false)
          (cents, IvfCentroids.nearestList(col(vecCol), cents))
        } else {
          val k1 = math.ceil(math.sqrt(nc.toDouble)).toInt
          val tl = fitCentroidsTwoLevel(cached, idCol, vecCol, k1, k1,
            iters, managePersist = false)
          // flatten in global list order: top 0's sub-lists first,
          // empties contributing nothing — matches tl.offsets
          val flat = tl.subs.flatten
          (flat, IvfCentroids.nearestListTwoLevel(col(vecCol), tl))
        }
      } finally cached.unpersist(blocking = false)
    }
  }

  /** Two-level centroid hierarchy: `subs(t)` are the sub-centroids
    * owned by top-level centroid `t`; global list ids are
    * `offsets(t) + s`, contiguous with empty top clusters skipped.
    */
  final case class TwoLevelCentroids(tops: Array[Seq[Long]],
      subs: Array[Array[Seq[Long]]]) {
    val offsets: Array[Int] =
      subs.map(_.length).scanLeft(0)(_ + _).init
    def nLists: Int = subs.map(_.length).sum
    private[graft] def subsSeq: Seq[Seq[Seq[Long]]] =
      subs.toSeq.map(_.toSeq)
  }

  /** Hierarchical (two-level) k-means: a flat `k1` fit picks top
    * clusters, then each top cluster fits its own `k2` sub-centroids
    * — the scale path past [[FlatKCeiling]], where the flat fit's
    * O(k·dim)-per-row assignment becomes the wall. Same deterministic
    * construction as the flat fit at both levels (md5-keyed seeds,
    * exact int64 dots, floored means, ties to the lowest index), so
    * the result is partitioning- and engine-independent; sub-seeds
    * are the k2 smallest (md5(id), id) rows WITHIN each top cluster
    * (one window rank, no per-cluster jobs), and each sub-iteration
    * is ONE grouped aggregation over all clusters at once — the
    * hierarchy never launches per-cluster Spark jobs.
    */
  private[graft] def fitCentroidsTwoLevel(cq: DataFrame, idCol: String,
      vecCol: String, k1: Int, k2: Int, iters: Int,
      managePersist: Boolean = true): TwoLevelCentroids = {
    require(k1 >= 1 && k2 >= 1, s"k1/k2 must be >= 1, got $k1/$k2")
    val cached = if (managePersist) cq.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else cq
    try {
      val tops = fitCentroidsKMeans(cached, idCol, vecCol, k1, iters,
        managePersist = false)
      val withT = cached.withColumn("__t",
        IvfCentroids.nearestList(col(vecCol), tops))
      val w = Window.partitionBy("__t")
        .orderBy(md5(col(idCol).cast("string")), col(idCol))
      val seedRows = withT
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") <= k2)
        .select(col("__t"), col("__r"), col(vecCol)).collect()
      val subs: Array[Array[Seq[Long]]] =
        Array.fill(k1)(Array.empty[Seq[Long]])
      seedRows.groupBy(_.getInt(0)).foreach { case (t, rows) =>
        subs(t) = rows.sortBy(_.getInt(1)).map(_.getSeq[Long](2))
      }
      for (_ <- 0 until iters) {
        // snapshot: the expression must not see this round's updates
        val snap = subs.map(_.toSeq).toSeq
        val upd = withT
          .withColumn("__s", graft.functions.NativeHash
            .groupedNearestCentroidColumn(col(vecCol), col("__t"),
              snap))
          .groupBy("__t", "__s")
          .agg(count(lit(1)).as("__cnt"),
            graft.functions.NativeHash.vecSumColumn(col(vecCol))
              .as("__sums"))
          .collect()
        val next = subs.map(_.clone())
        upd.foreach { r =>
          val t  = r.getAs[Int]("__t")
          val si = r.getAs[Int]("__s")
          val n  = r.getAs[Long]("__cnt").toDouble
          if (t >= 0 && t < k1 && si >= 0 && si < next(t).length)
            next(t)(si) = r.getSeq[Long](r.fieldIndex("__sums"))
              .map(x => math.floor(x / n).toLong)
        }
        var t = 0
        while (t < k1) { subs(t) = next(t); t += 1 }
      }
      TwoLevelCentroids(tops, subs)
    } finally if (managePersist) cached.unpersist(blocking = false)
  }

  /** Embedding-cosine near-duplicate pairs via BANDED hyperplane LSH
    * (multi-probe recall without giant buckets): `bands` independent
    * plane families of `planesPerBand` bits each; docs sharing ANY
    * band's bucket are candidates, verified by exact quantized cosine
    * ≥ threshold, deduplicated.
    *
    * Scale bounds: expected bucket size is N/2^planesPerBand per band
    * (4096 buckets at the default 12 bits — not the 64 of a single
    * 6-bit bucketing); buckets above `maxBucket` are dropped from
    * candidate generation, so no stage is quadratic in corpus size.
    * Recall for a pair at angle θ is 1 − (1 − (1−θ/π)^planesPerBand)^bands.
    */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bands: Int = 4,
      planesPerBand: Int = 12, maxBucket: Long = 10000L): DataFrame = {
    val b = df.select(col(idCol).as("id"),
        quantize(col(vecCol)).as("qv"))
      .withColumn("__n", dotQ(col("qv"), col("qv")))
    val bandKeys = array((0 until bands).map { bi =>
      concat_ws(":", lit(bi),
        hyperplaneBucketQ(col("qv"), dim, planesPerBand,
          planeOffset = bi * planesPerBand).cast("string"))
    }: _*)
    val exploded = b.withColumn("__bkey", explode(bandKeys))
    val p = BucketPairs.bucketedPairs(exploded, col("__bkey"),
      struct(col("id"), col("qv"), col("__n")), maxBucket,
      fanOut = true)
    // same value as cosineQ(quantize(va), quantize(vb)) — the dots are
    // exact int64, just computed once per doc instead of per pair
    p.select(least(col("p.a.id"), col("p.b.id")).as("id_a"),
        greatest(col("p.a.id"), col("p.b.id")).as("id_b"),
        (dotQ(col("p.a.qv"), col("p.b.qv")).cast("double") /
          sqrt(col("p.a.__n").cast("double") *
               col("p.b.__n").cast("double"))).as("cosine"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
      .filter(col("cosine") >= threshold)
  }

  /** Exact Euclidean top-k: d² = ‖q‖² + ‖c‖² − 2·q·c entirely in
    * int64 over the quantized vectors, so the distance — and therefore
    * the ranking — is EXACT (no doubles anywhere, no accumulation
    * order, no sqrt needed for an argmin). Same broadcast-queries
    * plan shape as [[bruteForceTopK]]; output `dist2_q` is the squared
    * distance in milli-unit² integers.
    */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cq = corpus.select(col(idCol),
        quantize(col(vecCol)).as("__cv"))
      .withColumn("__cn", dotQ(col("__cv"), col("__cv")))
    val qq = queries.select(col(idCol).as("query_id"),
        quantize(col(vecCol)).as("__qv"))
      .withColumn("__qn", dotQ(col("__qv"), col("__qv")))
    val scored = cq.join(broadcast(qq), col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (col("__qn") + col("__cn") -
          lit(2L) * dotQ(col("__qv"), col("__cv"))).as("dist2_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist2_q").asc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}

/** Centroid-scoring expressions shared by the IVF fit and probe paths.
  * The score of vector v against centroid c is
  * `dot(v,c) / sqrt(dot(c,c))` — v's own norm is constant within an
  * argmax so it is dropped; dots are exact int64, the sqrt/divide are
  * single correctly-rounded double ops, so the argmax (ties to the
  * lowest index) is bit-reproducible across engines.
  */
private[graft] object IvfCentroids {
  import org.apache.spark.sql.functions._
  import graft.functions.NativeHash

  /** Index of the best-scoring centroid (argmax, lowest index ties).
    *
    * Native [[graft.functions.NearestCentroid]] kernel: the previous
    * per-centroid `greatest(struct(score, -i))` literal tree was
    * O(nCentroids × dim) literals and stopped compiling (analysis +
    * janino blowup) in the hundreds-to-low-thousands of centroids —
    * far below the 65536 auto-k ceiling the IVF/kNN-graph/SemDeDup
    * fits scale toward. The kernel carries the centroid matrix as one
    * reference object, so expression size is constant in nCentroids.
    * [[SimilaritySpec]] pins native == tree on randomized vectors.
    */
  def nearestList(qv: Column, cents: Array[Seq[Long]]): Column =
    if (cents.length == 1) lit(0)
    else NativeHash.nearestCentroidColumn(qv, cents.toIndexedSeq)

  /** Indices of the `nProbe` best centroids, best first. */
  def probeLists(qv: Column, cents: Array[Seq[Long]], nProbe: Int)
      : Column =
    NativeHash.probeCentroidsColumn(qv, cents.toIndexedSeq,
      math.min(nProbe, cents.length))

  /** Global list id under a TWO-LEVEL hierarchy: nearest top centroid,
    * then nearest sub-centroid within it — O((k₁+k₂)·dim) per row vs
    * the flat O(k·dim). Top clusters that own NO sub-centroids (they
    * attracted no fit rows, so they have no lists) are excluded from
    * the argmax outright: a query landing near one would otherwise
    * resolve to `offsets(t) + 0`, which aliases the NEXT non-empty
    * cluster's first global list — a silently foreign assignment.
    */
  def nearestListTwoLevel(qv: Column,
      tl: Similarity.TwoLevelCentroids): Column = {
    val off = typedlit(tl.offsets.toIndexedSeq)
    val ne = nonEmptyTops(tl)
    if (ne.length == tl.tops.length) {
      val t = nearestList(qv, tl.tops)
      element_at(off, t + 1) +
        NativeHash.groupedNearestCentroidColumn(qv, t, tl.subsSeq)
    } else {
      val mapBack = typedlit(ne.toIndexedSeq)
      val t = element_at(mapBack,
        nearestList(qv, ne.map(tl.tops).toArray) + 1)
      element_at(off, t + 1) +
        NativeHash.groupedNearestCentroidColumn(qv, t, tl.subsSeq)
    }
  }

  /** Two-level probing: the `nProbe` nearest TOP clusters, entering
    * the single best sub-list inside each — the standard coarse/fine
    * IVF probe trade (recall comes from spanning top-cluster
    * boundaries, which is where near neighbors get separated). Empty
    * top clusters are excluded from the probe ranking (same aliasing
    * hazard as [[nearestListTwoLevel]]), so every probed id is a
    * genuine list of the probed cluster and `nProbe` non-empty
    * clusters are still reached.
    */
  def probeListsTwoLevel(qv: Column,
      tl: Similarity.TwoLevelCentroids, nProbe: Int): Column = {
    val off = typedlit(tl.offsets.toIndexedSeq)
    val ne = nonEmptyTops(tl)
    if (ne.length == tl.tops.length)
      transform(probeLists(qv, tl.tops, nProbe), t =>
        element_at(off, t + 1) +
          NativeHash.groupedNearestCentroidColumn(qv, t, tl.subsSeq))
    else {
      val mapBack = typedlit(ne.toIndexedSeq)
      transform(probeLists(qv, ne.map(tl.tops).toArray, nProbe),
        tne => {
          val t = element_at(mapBack, tne + 1)
          element_at(off, t + 1) +
            NativeHash.groupedNearestCentroidColumn(qv, t, tl.subsSeq)
        })
    }
  }

  /** Indices of top clusters that own at least one sub-centroid. */
  private def nonEmptyTops(tl: Similarity.TwoLevelCentroids)
      : IndexedSeq[Int] =
    tl.subs.indices.filter(t => tl.subs(t).nonEmpty)

  // ---- the replaced expression-tree forms, kept ONLY as the spec's
  // ---- independent semantics oracle (SimilaritySpec compares them
  // ---- element-for-element against the native kernels)

  private def score(qv: Column, c: Seq[Long]): Column = {
    val cn = c.map(x => x * x).sum
    if (cn == 0L) lit(Double.MinValue) // empty/zero centroid never wins
    else NativeHash.dotQColumn(qv, typedlit(c)).cast("double") /
      lit(math.sqrt(cn.toDouble))
  }

  private def scored(qv: Column, cents: Array[Seq[Long]]): Seq[Column] =
    cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(score(qv, c).as("s"), lit(-i).as("negi"))
    }

  private[graft] def treeNearestList(qv: Column,
      cents: Array[Seq[Long]]): Column =
    if (cents.length == 1) lit(0)
    else -greatest(scored(qv, cents): _*).getField("negi")

  private[graft] def treeProbeLists(qv: Column,
      cents: Array[Seq[Long]], nProbe: Int): Column = {
    val arr = array(scored(qv, cents): _*)
    transform(
      slice(reverse(array_sort(arr)), 1, math.min(nProbe, cents.length)),
      s => -s.getField("negi"))
  }
}
