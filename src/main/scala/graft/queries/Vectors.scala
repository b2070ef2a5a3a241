package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import Tables.{t, tp}
import Wrangling.groupedQuantilesSqlFor

/** Embedding queries: centroid and drift statistics, exact and
  * approximate top-k (IVF, SQ8, PQ, IVF-PQ), the kNN graph, semantic
  * dedup and semantic decontamination.
  */
object Vectors {

  /** Derived eval set for the semantic-decontamination queries: every
    * 50th vector is an eval item; every 100th swaps in its
    * SUCCESSOR's embedding — a train-side member, so those eval items
    * are planted exact-copy contamination (cosine exactly 1.0: the
    * quantized dot and both norms are the same integer, and the
    * norm product stays under 2^53 so its sqrt is exact).
    */
  private def semanticEvalSet(emb: DataFrame): DataFrame = {
    val ids = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("eval_id"),
        when(col("vec_id") % 100 === 0, col("vec_id") + 1)
          .otherwise(col("vec_id")).as("__src"))
    ids.join(emb, ids("__src") === emb("vec_id"))
      .select(col("eval_id"), col("embedding"))
  }

  def specs: Seq[QuerySpec] = Seq(
    // ----- embedding stats: exact per-label centroids (long form)
    QuerySpec("q_group_centroids",
      groupCentroidsOracle,
      (s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorStats.groupCentroids(e, "label", "embedding")
    }),
    // ----- embedding-space drift between two pseudo-snapshots (the
    // vec_id parity halves): per-dimension exact mean shift
    QuerySpec("q_embedding_drift",
      embeddingDriftOracle,
      (s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorStats.embeddingDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1), "embedding")
    }),
    // ----- embedding outliers: vectors far from their own label's
    // centroid, thresholded at the label's p95 distance quantile
    QuerySpec("q_centroid_outliers",
      centroidOutliersOracle,
      (s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorStats.centroidOutliers(e, "label", "embedding", p = 0.95)
    }),
    // ----- the distributed half of PCA: the corpus reduces to ONE
    // d(d+1)/2-long gram buffer (all-integer, partitioning-proof);
    // the eigen solve on it is driver-trivial (PcaSpec)
    QuerySpec("q_gram_matrix",
      // exact integer gram over the quantized vectors, upper triangle
      s"""WITH q AS (SELECT ${sqlQuantize("embedding")} AS qv
           FROM embeddings)
         SELECT i, j, CAST(SUM(qv[i] * qv[j]) AS BIGINT) AS s
         FROM q
           CROSS JOIN generate_series(1, 64) t1(i)
           CROSS JOIN generate_series(1, 64) t2(j)
         WHERE j >= i GROUP BY i, j""",
      (s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorStats.gramMatrix(e, "embedding")
    }),
    // ----- ANN: brute-force quantized-cosine top-10 over embeddings
    QuerySpec("q_ann_topk",
      annTopKOracle,
      (s, dir) => {
      val emb = tp(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ----- exact Euclidean top-k: the whole ranking in int64 (no
    // doubles at all — squared distances are exact)
    QuerySpec("q_l2_topk",
      l2TopKOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopKL2(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ----- ANN: IVF inverted lists, 4-of-16 probes, exact rerank
    QuerySpec("q_ivf_topk",
      ivfTopKOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nCentroids = 16, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ----- SQ8: per-dimension uniform byte grid fitted on the exact
    // milli-unit representation — all-integer fit + encode, one byte
    // per dimension
    QuerySpec("q_sq8_encode",
      sq8EncodeOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = ScalarQuant.fit(emb, "embedding")
      ScalarQuant.encode(emb, "vec_id", "embedding", m)
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("__d", "__c")))
        .select(col("vec_id"),
          (col("__d") + 1).cast("long").as("dim"),
          col("__c").as("code"))
    }),
    // ----- SQ8 serving: integer code-dot candidate scan, exact
    // quantized-cosine rerank over the candidate set only
    QuerySpec("q_sq8_topk",
      sq8TopKOracle,
      (s, dir) => {
      val emb = tp(s, dir, "embeddings")
      val m = ScalarQuant.fit(emb, "embedding")
      ScalarQuant.topK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", m, k = 10, rerank = 50)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ----- PQ: compress each vector to 4 subspace codes (pinned
    // codebook so the oracle replays the argmin), exploded to one
    // (vec_id, subspace, code) row per cell
    QuerySpec("q_pq_encode",
      pqEncodeOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      ProductQuant.pqEncode(emb, "vec_id", "embedding", pinnedPq)
        .select(col("vec_id"),
          posexplode(col("codes")).as(Seq("__s", "__c")))
        .select(col("vec_id"),
          (col("__s") + 1).cast("long").as("subspace"),
          col("__c").cast("long").as("code"))
    }),
    // ----- PQ: asymmetric-distance top-10 — full-precision queries
    // against the code-compressed corpus, exact int64 distances
    QuerySpec("q_pq_topk",
      pqTopKOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      ProductQuant.pqTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", pinnedPq, k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ----- IVF-PQ: coarse-list pruning (same deterministic k-means
    // as q_ivf_topk) + ADC scoring over the probed lists' codes
    QuerySpec("q_ivf_pq_topk",
      ivfPqTopKOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      ProductQuant.ivfPqTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", pinnedPq, k = 10, nCentroids = 16,
          nProbe = 4, kmeansIters = 2)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ----- near-dup: banded hyperplane-LSH cosine pairs (recall-tuned
    // band shape for this corpus; scale defaults documented on the op)
    QuerySpec("q_cosine_dup",
      cosineDupOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineDupPairs(emb, "vec_id", "embedding", dim = 64,
        threshold = 0.4, bands = 8, planesPerBand = 4)
    }),
    // ----- semantic dedup (SemDeDup): k-means-cluster-scoped exact
    // cosine pairs, then keep one id per connected component
    // ----- kNN graph: every vector's 5 nearest by exact quantized
    // cosine, IVF-probe-scoped self-join (pinned k-means, oracle
    // replays the fit + probes + ranking)
    QuerySpec("q_knn_graph",
      knnGraphOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnGraph(emb, "vec_id", "embedding", k = 5,
        nCentroids = 16, nProbe = 2)
    }),
    // explicit nCentroids: the DuckDB oracle replays the k-means fit
    // bit-exactly, so k is part of the contract here (the operator's
    // default is corpus-scaled auto-k)
    QuerySpec("q_semantic_pairs",
      semanticPairsOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SemanticDedup.semanticDupPairs(emb, "vec_id", "embedding",
        threshold = 0.4, nCentroids = 16)
    }),
    QuerySpec("q_semantic_dedup",
      semanticDedupOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      SemanticDedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.4, nCentroids = 16).select("vec_id")
    }),
    // ----- semantic decontamination: eval = every 50th vector, with
    // every 100th eval item REPLACED by its successor's embedding (a
    // train member → planted cosine exactly 1.0); natural eval-train
    // max cosines sit at 0.33-0.43 on this corpus, so threshold 0.8
    // flags exactly the plants. Oracle replays the brute-force scan.
    QuerySpec("q_semantic_decontaminate",
      semanticDeconOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Decontaminate.semanticOverlap(
        emb.filter(col("vec_id") % 50 =!= 0), "vec_id",
        semanticEvalSet(emb), "eval_id", "embedding", threshold = 0.8)
    }),
    QuerySpec("q_semantic_scrub",
      semanticScrubOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Decontaminate.semanticScrubTrain(
        emb.filter(col("vec_id") % 50 =!= 0), "vec_id",
        semanticEvalSet(emb), "eval_id", "embedding", threshold = 0.8)
        .select("vec_id")
    }),
    // ----- persistent IVF index: build (inverted lists bucketed by
    // list id + centroid table) then serve — the reader must
    // reproduce ivfTopK exactly, so the oracle is the same fit+probe
    // replay as q_ivf_topk
    QuerySpec("q_ivf_index",
      // the served index must reproduce ivfTopK exactly -> same replay
      ivfTopKOracle,
      (s, dir) => {
      val emb = t(s, dir, "embeddings")
      IvfIndex.build(emb, "vec_id", "embedding", "g_q_ivf_index",
        nCentroids = 16, kmeansIters = 2, buckets = 16)
      IvfIndex.query(s, "g_q_ivf_index",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
    })
  )

  /** Composed replay for q_centroid_outliers: re-quantized per-label
    * centroids (one double divide + HALF_UP round per component),
    * exact int64 squared distances, grouped-quantile threshold.
    */
  private def centroidOutliersOracle: String = {
    val distCtes =
      s"""v AS (SELECT vec_id, label,
           ${sqlQuantize("embedding")} AS qv FROM embeddings
           WHERE label IS NOT NULL AND embedding IS NOT NULL),
         pp AS (SELECT label, UNNEST(list_transform(
             generate_series(1, len(qv)),
             i -> {'pos': i, 'q': qv[i]}),
           recursive := true) FROM v),
         cs AS (SELECT label, pos,
             CAST(round(SUM(q)::DOUBLE / COUNT(*), 0) AS BIGINT) AS qc
           FROM pp GROUP BY label, pos),
         d AS (SELECT v.vec_id, v.label,
             CAST(SUM((qv[pos] - qc) * (qv[pos] - qc)) AS BIGINT)
               AS dist2
           FROM v JOIN cs ON v.label = cs.label
           GROUP BY 1, 2)"""
    val distTable =
      s"(WITH $distCtes SELECT vec_id, label, dist2 FROM d) ddt"
    val thSql = groupedQuantilesSqlFor(distTable, "label", "dist2",
      Seq(0.95),
      "lov.g AS g, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE)" +
        " AS quantile")
    s"""WITH $distCtes,
       th AS (SELECT g, quantile FROM ($thSql) z)
       SELECT d.vec_id, d.label, d.dist2,
         d.dist2::DOUBLE > th.quantile AS is_outlier
       FROM d JOIN th ON d.label = th.g"""
  }

  /** Mirror of VectorStats.groupCentroids: quantized int64 per-dim
    * sums, exact-integer division only at the end.
    */
  private def groupCentroidsOracle: String =
    s"""WITH v AS (SELECT label,
         ${sqlQuantize("embedding")} AS qv FROM embeddings),
       p AS (SELECT label, UNNEST(list_transform(
           generate_series(1, len(qv)),
           i -> {'pos': CAST(i - 1 AS BIGINT), 'q': qv[i]}),
         recursive := true) FROM v)
       SELECT label, pos,
         SUM(q)::DOUBLE / (COUNT(*) * 1000) AS centroid,
         COUNT(*) AS n_vectors
       FROM p GROUP BY label, pos"""

  /** Per-dimension exact sums of the parity-half snapshots, then the
    * same int-sum → double mean arithmetic as the Spark side.
    */
  private def embeddingDriftOracle: String = {
    def half(name: String, parity: Int) =
      s"""$name AS (SELECT pos, SUM(q) AS sq, COUNT(*) AS n FROM (
         SELECT UNNEST(list_transform(generate_series(1, len(qv)),
           i -> {'pos': CAST(i - 1 AS BIGINT), 'q': qv[i]}),
           recursive := true)
         FROM (SELECT ${sqlQuantize("embedding")} AS qv
           FROM embeddings WHERE vec_id % 2 = $parity) v) p
         GROUP BY pos)"""
    s"""WITH ${half("sa", 0)}, ${half("sb", 1)}
       SELECT sa.pos, CAST(sa.n AS BIGINT) AS n_a,
         CAST(sb.n AS BIGINT) AS n_b,
         sa.sq::DOUBLE / (sa.n * 1000) AS mean_a,
         sb.sq::DOUBLE / (sb.n * 1000) AS mean_b,
         sa.sq::DOUBLE / (sa.n * 1000) -
           sb.sq::DOUBLE / (sb.n * 1000) AS shift
       FROM sa JOIN sb ON sa.pos = sb.pos"""
  }

  /** Quantize mirror: milli-unit int64 vector. */
  private def sqlQuantize(v: String): String =
    s"list_transform($v, x -> CAST(round(x::DOUBLE * 1000, 0) AS BIGINT))"

  private def sqlDotQ(a: String, b: String, dim: Int): String =
    s"list_sum(list_transform(generate_series(1, $dim), i -> $a[i] * $b[i]))"

  /** Shared SQ8 grid CTEs: per-dimension exact milli-unit min/span
    * rebuilt from scratch, then all-integer byte codes
    * `((q_i − min_i) · 255) // span_i` (both engines' integer
    * division truncates; operands are non-negative).
    */
  private def sq8GridCtes: String =
    s"""qv AS (SELECT vec_id, ${sqlQuantize("embedding")} AS q
         FROM embeddings),
       dm AS (SELECT t.i AS i, MIN(q[t.i]) AS mn, MAX(q[t.i]) AS mx
         FROM qv, LATERAL unnest(generate_series(1, 64)) AS t(i)
         GROUP BY t.i),
       g AS (SELECT list(mn ORDER BY i) AS mins,
           list(mx - mn ORDER BY i) AS spans FROM dm),
       codes AS (SELECT vec_id, q,
           list_transform(generate_series(1, 64), i ->
             CASE WHEN spans[i] = 0 THEN 0
             ELSE ((q[i] - mins[i]) * 255) // spans[i] END) AS cc
         FROM qv, g)"""

  private def sq8EncodeOracle: String =
    s"""WITH $sq8GridCtes
       SELECT vec_id, CAST(t.i AS BIGINT) AS dim,
         CAST(cc[t.i] AS BIGINT) AS code
       FROM codes, LATERAL unnest(generate_series(1, 64)) AS t(i)"""

  private def sq8TopKOracle: String = {
    val cdot = sqlDotQ("qc", "c.cc", 64)
    val dot = sqlDotQ("qv2", "cv", 64)
    val naa = sqlDotQ("qv2", "qv2", 64)
    val nbb = sqlDotQ("cv", "cv", 64)
    s"""WITH $sq8GridCtes,
       qq AS (SELECT vec_id AS query_id, cc AS qc, q AS qv2
         FROM codes WHERE vec_id < 5),
       coarse AS (SELECT query_id, c.vec_id AS neighbor_id,
           CAST(($cdot) AS BIGINT) AS cdot, qv2, c.q AS cv
         FROM qq JOIN codes c ON query_id <> c.vec_id),
       cand AS (SELECT * FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cdot DESC, neighbor_id) AS crank FROM coarse) z
         WHERE crank <= 50),
       rer AS (SELECT query_id, neighbor_id,
           ($dot)::DOUBLE / sqrt(($naa)::DOUBLE * ($nbb)::DOUBLE)
             AS cosine
         FROM cand)
       SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT)
         AS rank
       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         ORDER BY cosine DESC, neighbor_id) AS rank FROM rer) s
       WHERE rank <= 10"""
  }

  /** Mirror of Similarity.bruteForceTopKL2: all-integer squared
    * distances (list_sum's HUGEINT cast back to BIGINT).
    */
  private def l2TopKOracle: String = {
    val dot = sqlDotQ("qv", "cv", 64)
    val naa = sqlDotQ("qv", "qv", 64)
    val nbb = sqlDotQ("cv", "cv", 64)
    s"""WITH q AS (SELECT vec_id AS query_id,
         ${sqlQuantize("embedding")} AS qv FROM embeddings
         WHERE vec_id < 5),
       c AS (SELECT vec_id, ${sqlQuantize("embedding")} AS cv
         FROM embeddings),
       scored AS (
         SELECT query_id, vec_id AS neighbor_id,
           CAST(($naa) + ($nbb) - 2 * ($dot) AS BIGINT) AS dist2_q
         FROM q JOIN c ON query_id <> vec_id)
       SELECT query_id, neighbor_id, dist2_q, rank FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY dist2_q ASC, neighbor_id) AS rank FROM scored) s
       WHERE rank <= 10"""
  }

  /** Pinned PQ codebook for the oracle rows: 4 subspaces × 16 dims ×
    * 4 constant-valued centroids. Constants chosen so all four codes
    * win on real subvectors (milli-unit components span roughly
    * ±500, mean ≈ 0); constant vectors keep the replayed SQL to one
    * `(x - c)²` lambda per centroid instead of 16 literals each.
    * Fitted codebooks (ProductQuant.pqFit) are exercised by PqSpec —
    * a fit replay would pin the k-means, which ivfTopKOracle already
    * covers.
    */
  private val pinnedPqConsts = Seq(-80L, -25L, 25L, 80L)
  private lazy val pinnedPq: ProductQuant.PqCodebook =
    ProductQuant.PqCodebook(Seq.fill(4)(
      pinnedPqConsts.map(c => Seq.fill(16)(c))))

  /** CTE fragment assuming `q(vec_id, qv)` exists: per-(vector,
    * subspace, centroid) exact int64 squared distance `d2` against
    * the pinned constant centroids, plus the argmin `codes`.
    */
  private def pqCodeCtes: String = {
    val cbVals = pinnedPqConsts.zipWithIndex
      .map { case (c, j) => s"($j, $c)" }.mkString(", ")
    s"""d AS (SELECT vec_id, s, j,
         list_sum(list_transform(qv[(s-1)*16+1:s*16],
           x -> (x - c)*(x - c))) AS d2
         FROM q
         CROSS JOIN generate_series(1, 4) ts(s)
         CROSS JOIN (VALUES $cbVals) cb(j, c)),
       codes AS (SELECT vec_id, s, j AS code FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
             ORDER BY d2, j) AS rn FROM d) z
         WHERE rn = 1)"""
  }

  /** Shared CTE body: quantize + [[pqCodeCtes]]. */
  private def pqDistCte: String =
    s"""q AS (SELECT vec_id, ${sqlQuantize("embedding")} AS qv
         FROM embeddings),
       $pqCodeCtes"""

  private def pqEncodeOracle: String =
    s"""WITH $pqDistCte
       SELECT vec_id, CAST(s AS BIGINT) AS subspace,
         CAST(code AS BIGINT) AS code
       FROM codes"""

  private def pqTopKOracle: String =
    s"""WITH $pqDistCte,
       qd AS (SELECT vec_id AS query_id, s, j, d2 FROM d
         WHERE vec_id < 5),
       pair AS (SELECT qd.query_id, c.vec_id AS neighbor_id,
           CAST(SUM(qd.d2) AS BIGINT) AS adist2
         FROM codes c JOIN qd
           ON qd.s = c.s AND qd.j = c.code AND qd.query_id <> c.vec_id
         GROUP BY 1, 2)
       SELECT query_id, neighbor_id, adist2, rank FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY adist2 ASC, neighbor_id) AS rank FROM pair) z
       WHERE rank <= 10"""

  private def annTopKOracle: String = {
    val dot = sqlDotQ("qv", "cv", 64)
    val naa = sqlDotQ("qv", "qv", 64)
    val nbb = sqlDotQ("cv", "cv", 64)
    s"""WITH q AS (SELECT vec_id AS query_id,
         ${sqlQuantize("embedding")} AS qv FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id, ${sqlQuantize("embedding")} AS cv
         FROM embeddings),
       scored AS (
         SELECT query_id, vec_id AS neighbor_id,
           $dot::DOUBLE / sqrt($naa::DOUBLE * $nbb::DOUBLE) AS cosine
         FROM q JOIN c ON query_id <> vec_id)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) s
       WHERE rank <= 10"""
  }

  /** Mirrors Similarity.ivfTopK at nCentroids=16, nProbe=4,
    * kmeansIters=2 — including the deterministic sampled k-means:
    * seeds are the 16 smallest (md5(vec_id), vec_id) vectors, each
    * iteration assigns by argmax of dot(v,c)/sqrt(dot(c,c)) (exact
    * int64 dots, lowest-ci tiebreak) and replaces centroids with
    * floor'd component means; empty lists keep their centroid. The
    * iterations are unrolled into chained CTEs.
    */
  // score of vector qv against centroid cv (zero-norm guard matches
  // the engine's Double.MinValue sentinel)
  private def kmeansScoreSql(qv: String, cv: String,
      dim: Int): String =
    s"CASE WHEN ${sqlDotQ(cv, cv, dim)} = 0 " +
    s"THEN -1.7976931348623157E308 " +
    s"ELSE ${sqlDotQ(qv, cv, dim)}::DOUBLE / " +
    s"sqrt(${sqlDotQ(cv, cv, dim)}::DOUBLE) END"

  /** CTE chain replaying Similarity.fitCentroidsKMeans at
    * nCentroids=16, kmeansIters=2 plus the final assignment: yields
    * `q` (vec_id, qv quantized), `cdots` (vec_id, ci, score vs the
    * final centroids) and `assign` (vec_id → argmax ci, lowest-ci
    * tiebreak). Shared by the IVF and SemDeDup oracles.
    */
  private def kmeansAssignCtes(dim: Int): String = {
    // one k-means iteration: assign to cent$t, recompute as cent${t+1}
    def iterCtes(t: Int): String =
      s"""sc$t AS (SELECT q.vec_id, c.ci,
           ${kmeansScoreSql("q.qv", "c.cv", dim)} AS s
           FROM q CROSS JOIN cent$t c),
         a$t AS (SELECT vec_id, ci FROM (
           SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id
             ORDER BY s DESC, ci) AS rn FROM sc$t) x WHERE rn = 1),
         u$t AS (SELECT ci, list(cc ORDER BY idx) AS cv FROM (
           SELECT a$t.ci, r.idx,
             CAST(floor(SUM(q.qv[r.idx])::DOUBLE / COUNT(*)) AS BIGINT)
               AS cc
           FROM q JOIN a$t USING (vec_id)
             CROSS JOIN range(1, ${dim + 1}) r(idx)
           GROUP BY a$t.ci, r.idx) g GROUP BY ci),
         cent${t + 1} AS (SELECT c.ci, COALESCE(u.cv, c.cv) AS cv
           FROM cent$t c LEFT JOIN u$t u USING (ci)),"""
    s"""q AS (SELECT vec_id, ${sqlQuantize("embedding")} AS qv
         FROM embeddings),
       seeds AS (SELECT vec_id, qv FROM q
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       cent0 AS (SELECT ROW_NUMBER() OVER
           (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS ci,
         qv AS cv FROM seeds),
       ${iterCtes(0)}
       ${iterCtes(1)}
       cdots AS (SELECT q.vec_id, c.ci,
         ${kmeansScoreSql("q.qv", "c.cv", dim)} AS s
         FROM q CROSS JOIN cent2 c),
       assign AS (SELECT vec_id, ci FROM (
         SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY s DESC, ci) AS rn FROM cdots) a WHERE rn = 1)"""
  }

  /** IVF-PQ: the coarse k-means replay's `assign`/`cdots` CTEs pick
    * each query's 4 probe lists, the pinned-codebook `codes` CTE
    * compresses the corpus, and the ranking sums the query's
    * per-(subspace, code) distances over each probed neighbor's
    * codes — exact int64 end to end.
    */
  private def ivfPqTopKOracle: String =
    s"""WITH ${kmeansAssignCtes(64)},
       $pqCodeCtes,
       probes AS (SELECT vec_id, ci FROM (
         SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY s DESC, ci) AS rn FROM cdots) p
         WHERE rn <= 4 AND vec_id < 5),
       pair AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
           CAST(SUM(qd.d2) AS BIGINT) AS adist2
         FROM probes p
           JOIN assign a ON a.ci = p.ci AND a.vec_id <> p.vec_id
           JOIN codes cs ON cs.vec_id = a.vec_id
           JOIN d qd ON qd.vec_id = p.vec_id AND qd.s = cs.s
             AND qd.j = cs.code
         GROUP BY 1, 2)
       SELECT query_id, neighbor_id, adist2, rank FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY adist2 ASC, neighbor_id) AS rank FROM pair) z
       WHERE rank <= 10"""

  private def ivfTopKOracle: String = {
    s"""WITH ${kmeansAssignCtes(64)},
       probes AS (SELECT vec_id, ci FROM (
         SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY s DESC, ci) AS rn FROM cdots) p
         WHERE rn <= 4 AND vec_id < 5),
       scored AS (
         SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
           ${sqlDotQ("vq.qv", "vc.qv", 64)}::DOUBLE /
             sqrt(${sqlDotQ("vq.qv", "vq.qv", 64)}::DOUBLE *
                  ${sqlDotQ("vc.qv", "vc.qv", 64)}::DOUBLE) AS cosine
         FROM probes p
           JOIN assign a ON a.ci = p.ci AND a.vec_id <> p.vec_id
           JOIN q vq ON vq.vec_id = p.vec_id
           JOIN q vc ON vc.vec_id = a.vec_id)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) s
       WHERE rank <= 10"""
  }

  private def cosineDupOracle: String = {
    // mirror of the query's bands = 8, planesPerBand = 4 configuration:
    // band bi uses planes bi*4 .. bi*4+3; bucket = Σ sign-bit << k
    val bandExprs = (0 until 8).map { bi =>
      val bits = (0 until 4).map { k =>
        val weights = (0 until 64)
          .map(j => Similarity.planeComponent(bi * 4 + k, j))
          .mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), " +
        s"i -> qv[i] * ($weights)[i])) >= 0 THEN ${1L << k} ELSE 0 END)"
      }.mkString(" + ")
      s"concat('$bi', ':', ($bits)::VARCHAR)"
    }.mkString(",\n         ")
    val dot = sqlDotQ("a.qv", "b.qv", 64)
    val naa = sqlDotQ("a.qv", "a.qv", 64)
    val nbb = sqlDotQ("b.qv", "b.qv", 64)
    s"""WITH q AS (SELECT vec_id, ${sqlQuantize("embedding")} AS qv
         FROM embeddings),
       bucketed AS (SELECT vec_id, qv,
         [$bandExprs] AS bkeys FROM q)
       SELECT id_a, id_b, cosine FROM (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           $dot::DOUBLE / sqrt($naa::DOUBLE * $nbb::DOUBLE) AS cosine
         FROM bucketed a JOIN bucketed b
           ON a.vec_id < b.vec_id AND list_has_any(a.bkeys, b.bkeys)) p
       WHERE cosine >= 0.4"""
  }

  /** Mirrors SemanticDedup.semanticDupPairs (threshold 0.4,
    * nCentroids=16, kmeansIters=2): the shared k-means replay, then
    * exact quantized cosine over same-cluster pairs.
    */
  private def semanticPairsOracle: String =
    s"""WITH ${kmeansAssignCtes(64)},
       prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ${sqlDotQ("va.qv", "vb.qv", 64)}::DOUBLE /
             sqrt(${sqlDotQ("va.qv", "va.qv", 64)}::DOUBLE *
                  ${sqlDotQ("vb.qv", "vb.qv", 64)}::DOUBLE) AS cosine
         FROM assign a JOIN assign b
           ON a.ci = b.ci AND a.vec_id < b.vec_id
           JOIN q va ON va.vec_id = a.vec_id
           JOIN q vb ON vb.vec_id = b.vec_id)
       SELECT id_a, id_b, cosine FROM prs WHERE cosine >= 0.4"""

  /** Mirrors Similarity.knnGraph at k=5, nCentroids=16, nProbe=2:
    * the shared k-means replay, each vector in its 2 highest-scoring
    * centroid lists, DISTINCT same-list candidate pairs (both
    * directions), exact quantized cosine, rank ≤ 5 per query with the
    * engine's (cosine DESC, neighbor_id) tie-break.
    */
  private def knnGraphOracle: String =
    s"""WITH ${kmeansAssignCtes(64)},
       probes AS (SELECT vec_id, ci FROM (
         SELECT vec_id, ci, ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY s DESC, ci) AS rn FROM cdots) p WHERE rn <= 2),
       cand AS (SELECT DISTINCT a.vec_id AS query_id,
           b.vec_id AS neighbor_id
         FROM probes a JOIN probes b
           ON a.ci = b.ci AND a.vec_id <> b.vec_id),
       scored AS (SELECT query_id, neighbor_id,
           ${sqlDotQ("va.qv", "vb.qv", 64)}::DOUBLE /
             sqrt(${sqlDotQ("va.qv", "va.qv", 64)}::DOUBLE *
                  ${sqlDotQ("vb.qv", "vb.qv", 64)}::DOUBLE) AS cosine
         FROM cand
           JOIN q va ON va.vec_id = query_id
           JOIN q vb ON vb.vec_id = neighbor_id)
       SELECT query_id, neighbor_id, cosine, rank FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id) AS rank FROM scored) s
       WHERE rank <= 5"""

  /** Recursive-CTE replay of SemanticDedup.semanticDedup: kept ids =
    * those whose smallest reachable id in the (symmetric) semantic
    * pair graph is themselves.
    */
  private def semanticDedupOracle: String =
    s"""WITH RECURSIVE pr AS (SELECT id_a, id_b FROM
         ($semanticPairsOracle) sp),
       e AS (SELECT id_a AS src, id_b AS dst FROM pr
             UNION SELECT id_b, id_a FROM pr),
       reach(id, lab) AS (
         SELECT vec_id, vec_id FROM embeddings
         UNION
         SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.id)
       SELECT id AS vec_id FROM reach GROUP BY id HAVING MIN(lab) = id"""

  /** Shared CTE body for the semantic-decontamination oracles: the
    * derived eval set (every 50th id; every 100th swaps in its
    * successor's embedding — a train member), the train side, and the
    * brute-force exact quantized cosine scan, zero-norm sides
    * excluded on both engines.
    */
  private def semanticDeconCtes: String = {
    val dot = sqlDotQ("evn.qv", "trn.cv", 64)
    s"""ev AS (SELECT e1.vec_id AS eval_id,
         ${sqlQuantize("e2.embedding")} AS qv
         FROM embeddings e1 JOIN embeddings e2
           ON e2.vec_id = CASE WHEN e1.vec_id % 100 = 0
             THEN e1.vec_id + 1 ELSE e1.vec_id END
         WHERE e1.vec_id % 50 = 0),
       evn AS (SELECT eval_id, qv,
           ${sqlDotQ("qv", "qv", 64)} AS nn FROM ev),
       tr AS (SELECT vec_id AS train_id,
           ${sqlQuantize("embedding")} AS cv
         FROM embeddings WHERE vec_id % 50 <> 0),
       trn AS (SELECT train_id, cv,
           ${sqlDotQ("cv", "cv", 64)} AS nn FROM tr),
       scored AS (SELECT eval_id, train_id,
           ($dot)::DOUBLE / sqrt(evn.nn::DOUBLE * trn.nn::DOUBLE)
             AS cosine
         FROM evn CROSS JOIN trn
         WHERE evn.nn > 0 AND trn.nn > 0)"""
  }

  /** Mirrors Decontaminate.semanticOverlap at threshold 0.8 over the
    * derived eval set: per-eval max cosine, argmax train id with the
    * smallest-id tie-break, ≥-threshold flag.
    */
  private def semanticDeconOracle: String =
    s"""WITH $semanticDeconCtes
       SELECT eval_id, train_id, max_cosine, contaminated FROM (
         SELECT eval_id, train_id, cosine AS max_cosine,
           cosine >= 0.8 AS contaminated,
           ROW_NUMBER() OVER (PARTITION BY eval_id
             ORDER BY cosine DESC, train_id) AS rn
         FROM scored) z WHERE rn = 1"""

  /** Mirrors Decontaminate.semanticScrubTrain at threshold 0.8: train
    * ids surviving the ≥-threshold delete.
    */
  private def semanticScrubOracle: String =
    s"""WITH $semanticDeconCtes
       SELECT t.vec_id FROM embeddings t
       WHERE t.vec_id % 50 <> 0 AND NOT EXISTS (
         SELECT 1 FROM scored s
         WHERE s.train_id = t.vec_id AND s.cosine >= 0.8)"""
}
