package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Domain link-graph analytics for crawl curation: harvest
  * (source-domain → referenced-domain) edges from document text, then
  * rank domains by link authority. The classic use at corpus scale is
  * QUALITY WEIGHTING — upweight documents from well-linked domains,
  * quarantine link-farm islands — and crawl-frontier prioritization.
  *
  * PageRank here is the exact-integer fixed-iteration form, matching
  * the repo's oracle discipline (SURVEY §5): ranks live in integer
  * micro-units, every per-edge contribution is an integer floor
  * division, and damping is applied as `(85 · x) DIV 100` — so the
  * result is bit-identical on any partitioning/engine, not a
  * float fixpoint that depends on accumulation order.
  *
  * 100 TB shape: the edge list is the big side and is shuffled ONCE
  * (distinct + out-degree join, then `localCheckpoint`); each
  * iteration shuffles only the rank table (|domains| rows, thousands
  * of times smaller than the corpus) — join on `src`, map-side
  * combined sum on `dst`: the canonical two-exchange Pregel step.
  * High-in-degree hubs (every crawl has them) are absorbed by the
  * partial aggregation — no single reducer sees a hub's full in-edge
  * list. Dangling mass is dropped (the deterministic "dangling drop"
  * variant) rather than redistributed: redistribution needs a global
  * scalar per iteration, and for curation RANKING the variant is
  * equivalent while keeping every step local.
  */
object LinkGraph {

  /** Distinct cross-domain edges from a text column: `srcCol` (the
    * document's own domain/source) links to every registrable domain
    * its text references. Self-links and null extractions drop.
    */
  def domainEdges(df: DataFrame, srcCol: String,
      textCol: String): DataFrame =
    df.select(col(srcCol).as("src"),
        explode(graft.functions.TextFunctions.urlDomains(col(textCol)))
          .as("dst"))
      .filter(col("dst").isNotNull && col("dst") =!= col("src"))
      .distinct()

  /** Fixed-iteration exact-integer PageRank over a distinct edge
    * list. Semantics (the oracle replays them verbatim):
    *
    *   nodes     = distinct(src ∪ dst)
    *   outdeg(u) = COUNT(edges from u)           (distinct edges)
    *   r₀(v)     = unitMicro
    *   rₖ₊₁(v)   = (unitMicro·(100−dampingPct)) DIV 100
    *             + (dampingPct · Σ_{u→v} (rₖ(u) DIV outdeg(u))) DIV 100
    *
    * All operations are int64; with unitMicro = 10⁶ the damped sum
    * stays under 2⁶³ past 10⁹ nodes. Nodes without in-edges settle at
    * the base term; dangling nodes (no out-edges) receive but never
    * emit mass.
    *
    * Returns (`node`, `rank_micro`). Input edges need not be
    * pre-deduplicated — a duplicate (src,dst) would otherwise double
    * its contribution, so `distinct()` is applied here.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampingPct: Int = 85,
      unitMicro: Long = 1000000L): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    // edge list with out-degree attached: built once, reused every
    // iteration (localCheckpoint truncates the growing lineage AND
    // avoids re-running the distinct per iteration)
    val linked = e
      .join(e.groupBy("src").agg(count(lit(1)).as("__od")), "src")
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val base = unitMicro * (100L - dampingPct) / 100L
    var ranks = nodes.withColumn("rank_micro", lit(unitMicro))
    for (_ <- 1 to iterations) {
      val contribs = linked
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("rank_micro DIV __od").as("__c"))
        .groupBy("dst").agg(sum("__c").as("__s"))
      ranks = nodes
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"),
          "left")
        .select(col("node"),
          (lit(base) + expr(s"$dampingPct * coalesce(__s, 0L) DIV 100"))
            .as("rank_micro"))
        .localCheckpoint()
    }
    ranks
  }

  /** Seed-personalized PageRank (the TrustRank recipe, Gyöngyi et
    * al. 2004): identical exact-integer iteration to [[pageRank]]
    * except ALL teleport mass lands on the `seeds` — trusted/curated
    * domains — so rank measures closeness-through-links to the seed
    * set, the crawl-frontier quality-propagation signal (spam islands
    * unreachable from seeds decay to exactly 0):
    *
    *   r₀(v)     = unitMicro · [v ∈ seeds]
    *   rₖ₊₁(v)   = [v ∈ seeds] · (unitMicro·(100−d)) DIV 100
    *             + (d · Σ_{u→v} (rₖ(u) DIV outdeg(u))) DIV 100
    *
    * Same int64 determinism, dangling-drop and shuffle profile as
    * [[pageRank]] (edge list exchanged once, one |nodes|-sized rank
    * table per iteration). Seeds ride the plan as a broadcast `isin`
    * literal — the seed list is a curated handful by contract.
    */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], iterations: Int = 5, dampingPct: Int = 85,
      unitMicro: Long = 1000000L): DataFrame = {
    require(seeds.nonEmpty, "trustRank needs at least one seed")
    require(iterations >= 0, "iterations must be >= 0")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100], got $dampingPct")
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val linked = e
      .join(e.groupBy("src").agg(count(lit(1)).as("__od")), "src")
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val seedLits = seeds.distinct.sorted.map(lit)
    val isSeed = col("node").isin(seedLits: _*)
    val base = unitMicro * (100L - dampingPct) / 100L
    var ranks = nodes.withColumn("rank_micro",
      when(isSeed, lit(unitMicro)).otherwise(lit(0L)))
    for (_ <- 1 to iterations) {
      val contribs = linked
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("rank_micro DIV __od").as("__c"))
        .groupBy("dst").agg(sum("__c").as("__s"))
      ranks = nodes
        .join(contribs.withColumnRenamed("dst", "node"), Seq("node"),
          "left")
        .select(col("node"),
          (when(isSeed, lit(base)).otherwise(lit(0L)) +
            expr(s"$dampingPct * coalesce(__s, 0L) DIV 100"))
            .as("rank_micro"))
        .localCheckpoint()
    }
    ranks
  }

  /** Weakly connected components of the (directed) link graph:
    * `(node, component)` with component = the smallest node label
    * reachable ignoring edge direction — the crawl-partitioning /
    * per-site-sharding primitive (every island of interlinked domains
    * lands in one component, so per-component work never crosses
    * shards).
    *
    * Rides [[Dedup.duplicateClusters]] unchanged, because an
    * undirected duplicate graph and a direction-ignored link graph are
    * the same object: the job that materializes each edge set, up front
    * or a large-star/small-star round's output (only the edge list
    * shuffles), offers it to the driver, and the first one that fits
    * the driver-heap bound is labeled there by a union-find — a graph
    * that fits from the start runs no round at all. Labels compare with the
    * column type's own ordering on both paths (UTF-8 binary for
    * strings, as in the oracle). Isolated nodes only exist here if
    * self-linked rows were dropped upstream; every node appearing in
    * `edges` gets a component.
    */
  def weakComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 20): DataFrame = {
    val nodes = edges.select(col(srcCol).as("node"))
      .unionByName(edges.select(col(dstCol).as("node")))
      .distinct()
    Dedup.duplicateClusters(nodes, "node",
        edges.select(col(srcCol).as("id_a"), col(dstCol).as("id_b")),
        maxIter)
      .select(col("id").as("node"), col("cluster_id").as("component"))
  }
}
