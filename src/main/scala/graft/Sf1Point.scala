package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 10× (≈ sf1) scale point for the heaviest queries — converts the
  * "survives 100×" design arguments into a measured data point. The
  * sf0.1 tables replicate 10-fold with structure-preserving
  * perturbations (the ScaleStress constructions, extended to
  * lineitem), then each heavy query runs best-of-2 at both scales
  * and the wall ratio is reported.
  *
  * Replication constructions (why naive copies would lie):
  *  - documents: per-replica FULL-ALPHABET char rotation — a
  *    bijection on characters maps shingle sets bijectively, so
  *    within-replica Jaccard is preserved EXACTLY and each replica
  *    contributes precisely the 1× near-dup pair structure, while a
  *    naive copy would hand every doc 9 exact twins (~100× pairs by
  *    construction).
  *  - embeddings: per-replica dimension permutation + sign flip (an
  *    orthogonal transform) — within-replica cosines exact,
  *    cross-replica cosines scramble toward 0.
  *  - lineitem: id shift + a per-replica micro-jitter on the value
  *    columns, so the DISTINCT value count grows with the row count
  *    (the exact-quantile chain's cost driver is distinct values; 10
  *    exact copies would understate sf1 by collapsing in the
  *    value-count stage).
  *
  * Usage: `sbt "runMain graft.Sf1Point"` — writes the 10× tables
  * under ./stress_data/sf1/ (reused if present), prints one line per
  * (query, scale, seconds) and a final JSON summary with ratios.
  */
object Sf1Point {

  /** The 25 heaviest queries of the r13 isolated bench. Two swaps,
    * same rationale as ScaleStress: q_semantic_dedup and q_knn_graph
    * pin their cluster counts for the SQL oracle, and a FIXED k at
    * growing n is quadratic by construction (the pinned knn config
    * OOMs at 10× — measured here in round 14, which is the point of
    * the harness); the AUTO-scaled variants are what a 100 TB run
    * would use, so those are what the scale point measures.
    */
  private val Heavy: Seq[(String,
      (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "q_dedup_keep_best", "q_grouped_robust_z", "q_leakage_safe_split",
    "q_dedup_clean", "q_dedup_components", "q_neardup_increment",
    "q_classify", "q_robust_z", "q_iqr_outliers", "q_grouped_corr",
    "q_eqfreq_binning", "q_describe",
    "q_winsorize", "q_crawl_pdf", "q_entity_clusters",
    "q_video_frame_dup", "q_lang_full", "q_grouped_winsorize",
    "q_char_lm_score", "q_oriented_dup", "q_encode_multi", "q_zorder",
    "q_ivf_index",
    // the decode-heavy codec tier (round 15): per-doc KDF/decrypt,
    // the sniff-routed omni compose, the 7z walk, and the full VP8
    // pixel decode — all map-only by design; the 10x point turns
    // that claim into a measurement
    "q_pdf_encrypted", "q_crawl_omni", "q_7z_entries",
    "q_vp8_pixels",
    // the round-16 additions worth a measured point: the LZW
    // codec (pure CPU, 16-bit widths), the deb walk (three nested
    // codec chains per doc), and the infohash dedup (the round's
    // one new shuffle)
    "q_z_roundtrip", "q_deb_entries",
    "q_torrent_dedup",
    // the round-16 ML-artifact tier: the sniff-routed compose, the
    // heaviest synth (per-doc jar = classWrite × zip), the zip-
    // wrapped npz walk, the validation-routed safetensors parse
    // and the zone-map flatMap — all map-only by design; the 10×
    // point turns that claim into a measurement
    "q_ml_omni", "q_jar_meta", "q_npz_entries",
    "q_safetensors_meta", "q_parquet_stats",
    // fifth wave: the three-codec rpm walk (heaviest new synth),
    // the marshal census, the now-eleven-kind artifact dispatch
    "q_rpm_meta", "q_pyc_census", "q_artifact_omni",
    // round 17, the lakehouse tier: the six-codec avro round-trip
    // (heaviest new synth), the parse-once-probe-many bloom check
    // and the metadata dispatch — map-only by design; plus the
    // round's two new SHUFFLE queries, the partitioned-window
    // compaction packer and the anti-join orphan sweep
    "q_avro_named", "q_parquet_bloom", "q_lakehouse_omni",
    "q_compaction_plan", "q_orphan_files",
    // round 18: finish the dispatch-tier ask (x509 + pcap had no
    // measured point) and the round's own additions — the
    // metadata.json census and the bloom probe tier (map-only by
    // design) plus the compaction rewrite (broadcast + one
    // shuffle + partitioned write, deliberately write-bound)
    "q_x509_meta", "q_pcap_meta",
    "q_iceberg_snapshots", "q_orc_bloom", "q_compaction_apply",
    // the round's second wave: the MOR anti join (the round's one
    // new shuffle family), the roaring DV census and the
    // page-index probe tier (both map-only by design)
    "q_iceberg_mor", "q_delta_dv", "q_parquet_pages",
    "q_avro_evolution", "q_iceberg_seq_pairing", "q_parquet_read")
    .map(q => q -> SparkEntry.queries(q)) ++ Seq(
    "semantic_dedup_auto" -> ((s: SparkSession, dir: String) =>
      graft.operators.SemanticDedup.semanticDedup(
        s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.4,
        targetClusterSize = 200L)),
    "knn_graph_auto" -> ((s: SparkSession, dir: String) =>
      graft.operators.Similarity.knnGraph(
        s.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", k = 8, targetListSize = 200L)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val outDir = "stress_data/sf1"
    val have = new java.io.File(s"$outDir/lineitem.parquet").exists()
    if (!have) {
      // documents: char rotation (ScaleStress construction)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1L
      val abc = "abcdefghijklmnopqrstuvwxyz"
      (0 until 10).map { k =>
        docs.withColumn("doc_id", col("doc_id") + lit(k * maxId))
          .withColumn("text",
            translate(col("text"), abc, abc.drop(k) + abc.take(k)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
      // embeddings: orthogonal per-replica transform
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val maxVid = emb.agg(max("vec_id")).head().getLong(0) + 1L
      (0 until 10).map { k =>
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
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      // lineitem: id shift + micro-jitter so distinct values scale
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val maxOk = li.agg(max("l_orderkey")).head().getLong(0) + 1L
      (0 until 10).map { k =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(k * maxOk))
          .withColumn("l_extendedprice",
            col("l_extendedprice") + lit(k * 0.0001))
          .withColumn("l_quantity",
            col("l_quantity") + lit(k * 0.0001))
          .withColumn("l_discount",
            col("l_discount") + lit(k * 0.000001))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      println(s"[sf1] wrote 10x tables under $outDir")
    } else println(s"[sf1] reusing $outDir")

    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup
    try time(SparkEntry.queries("q_describe"), sfDir)
    catch { case _: Throwable => () }
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (new-tier points
    // without re-measuring the whole heavy set)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(o => SparkEntry
      .checked(SparkEntry.names(o), Heavy.map(_._1)).toSet)
    val rows = Heavy.filter { case (q, _) =>
      only.forall(_.contains(q))
    }.flatMap { case (q, fn) =>
      try {
        val t1 = (1 to 2).map(_ => time(fn, sfDir)).min
        val t10 = (1 to 2).map(_ => time(fn, outDir)).min
        println(f"[sf1] $q%-24s sf0.1 $t1%7.2f s   sf1 $t10%7.2f s" +
          f"   ratio ${t10 / t1}%5.2f")
        Some((q, t1, t10))
      } catch {
        case e: Throwable =>
          println(s"[sf1] $q FAILED: ${e.getMessage}")
          None
      }
    }
    val qs = rows.map { case (q, t1, t10) =>
      f""""$q":{"sf01":$t1%.3f,"sf1":$t10%.3f,"ratio":${t10 / t1}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"sf1_point","queries":$qs}""")
    spark.stop()
  }
}
