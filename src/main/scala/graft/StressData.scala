package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Io

/** The 10× replicas of the sf tables that the scale mains (`Sf1Point`,
  * `ScaleStress`, `KernelBench`) measure against, and the two AUTO
  * pipelines they run. Not part of the library surface.
  *
  * Each construction is a pure `copies`-fold replica of its source
  * table, replica 0 the source itself, with structure-preserving
  * perturbations (why naive copies would lie):
  *  - documents: distinct ids AND a per-replica FULL-ALPHABET char
  *    rotation. A bijection on characters maps char-shingle sets
  *    bijectively, so every within-replica Jaccard is preserved EXACTLY
  *    — each replica contributes precisely the 1× pair structure. And a
  *    full rotation (k ≠ 0) fixes no letter, so cross-replica shingles
  *    coincide only by accident and the LSH verify kills those. The
  *    alternatives fail measurably: a whole-document marker leaves
  *    every doc with 10 near-copies (~100× pairs by construction); a
  *    rotation of only the 9 most frequent letters leaves 17 letters'
  *    shingles intact and variance pushes thousands of cross-replica
  *    pairs past the verify threshold (measured: 63× pairs for 10×
  *    docs); a per-word suffix UNIFORMLY inflates within-replica
  *    similarity and explodes the base pair count itself (measured:
  *    920× shuffle).
  *  - embeddings: a per-replica DIMENSION PERMUTATION + SIGN FLIP — an
  *    orthogonal transform, so every within-replica dot product (hence
  *    cosine, hence the quantized scoring) is preserved EXACTLY, while
  *    cross-replica cosines scramble toward 0 and die at the threshold.
  *  - lineitem: id shift + a per-replica micro-jitter on the value
  *    columns, so the DISTINCT value count grows with the row count
  *    (the exact-quantile chain's cost driver is distinct values; 10
  *    exact copies would understate sf1 by collapsing in the
  *    value-count stage).
  */
object StressData {

  type Build = (SparkSession, String) => DataFrame

  /** The replica count the mains write. */
  val Copies = 10

  def documents(docs: DataFrame, copies: Int): DataFrame = {
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val abc = "abcdefghijklmnopqrstuvwxyz"
    (0 until copies).map { k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k * maxId))
        .withColumn("text",
          translate(col("text"), abc, abc.drop(k) + abc.take(k)))
    }.reduce(_ unionByName _)
  }

  def embeddings(emb: DataFrame, copies: Int): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val maxVid = emb.agg(max("vec_id")).head().getLong(0) + 1L
    (0 until copies).map { k =>
      val rnd = new scala.util.Random(k)
      val perm =
        if (k == 0) (0 until dim).toArray
        else rnd.shuffle((0 until dim).toVector).toArray
      val sign = Array.fill(dim)(
        if (k == 0) 1.0f else if (rnd.nextBoolean()) 1.0f else -1.0f)
      val shuffled = array((0 until dim).map(j =>
        element_at(col("embedding"), perm(j) + 1) * lit(sign(j))): _*)
      emb.withColumn("vec_id", col("vec_id") + lit(k * maxVid))
        .withColumn("embedding", shuffled)
    }.reduce(_ unionByName _)
  }

  def lineitem(li: DataFrame, copies: Int): DataFrame = {
    val maxOk = li.agg(max("l_orderkey")).head().getLong(0) + 1L
    (0 until copies).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * maxOk))
        .withColumn("l_extendedprice",
          col("l_extendedprice") + lit(k * 0.0001))
        .withColumn("l_quantity",
          col("l_quantity") + lit(k * 0.0001))
        .withColumn("l_discount",
          col("l_discount") + lit(k * 0.000001))
    }.reduce(_ unionByName _)
  }

  private val Replicas: Map[String, (DataFrame, Int) => DataFrame] = Map(
    "documents" -> (documents _), "embeddings" -> (embeddings _),
    "lineitem" -> (lineitem _))

  /** The directory that holds the replicas of `srcDir`, named after it
    * (`stress_data/sf0.1_x10` for `.../sf0.1`), so a different source
    * never reuses another's replicas. */
  def dirFor(srcDir: String): String =
    s"stress_data/${Paths.get(srcDir).getFileName}_x$Copies"

  /** Writes `<dirFor(srcDir)>/<table>.parquet`, the [[Copies]]-fold
    * replica of `srcDir/<table>.parquet`, for each named table, and
    * returns that directory. A table is reused only when its `_SUCCESS`
    * marker exists: a killed write leaves none and is redone.
    */
  def write(spark: SparkSession, srcDir: String, tables: String*): String = {
    val dir = dirFor(srcDir)
    tables.foreach { t =>
      val out = s"$dir/$t.parquet"
      if (Files.exists(Paths.get(out, "_SUCCESS")))
        println(s"[stress] reusing $out")
      else {
        Replicas(t)(Io.readParquet(spark, s"$srcDir/$t.parquet"), Copies)
          .write.mode("overwrite").parquet(out)
        println(s"[stress] wrote $out")
      }
    }
    dir
  }

  /** Semantic dedup and the kNN graph at their AUTO-scaled defaults.
    * The declared queries (q_semantic_dedup, q_knn_graph) pin their
    * cluster counts for the SQL oracle, and a FIXED k at growing n is
    * quadratic by construction (the pinned knn config OOMs at 10×);
    * the auto path is what a 100 TB run would use.
    */
  val autoPipelines: Seq[(String, Build)] = Seq(
    "semantic_dedup_auto" -> ((s: SparkSession, dir: String) =>
      graft.operators.SemanticDedup.semanticDedup(
        Io.readParquet(s, s"$dir/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.4,
        targetClusterSize = 200L)),
    // quadratic per probe list by design, kept linear by the
    // auto-scaled centroid count
    "knn_graph_auto" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.knnGraph(
        Io.readParquet(s, s"$dir/embeddings.parquet"),
        "vec_id", "embedding", k = 8, targetListSize = 200L)))
}
