package graft

/** 10× (≈ sf1) scale point for the heaviest queries — converts the
  * "survives 100×" design arguments into a measured data point. The
  * sf0.1 tables replicate 10-fold with structure-preserving
  * perturbations (the [[StressData]] constructions: documents,
  * embeddings and lineitem), then each heavy query runs best-of-2 at
  * both scales and the wall ratio is reported.
  *
  * A best-of-2 run in its own process cannot resolve a ~20% change on
  * a noisy 4-vCPU host: q_entity_clusters at sf1 read 14.87-22.42 s
  * over five runs of one tree. Evidence for a gain is a same-JVM
  * interleaved A/B on the same tables, not two runs of this main.
  *
  * Usage: `sbt "runMain graft.Sf1Point"` — writes the 10× tables
  * under `StressData.dirFor(SPARK_GRAFT_SF_DIR)` (reused once
  * written), prints one line per (query, scale, seconds) and a final
  * JSON summary with ratios.
  */
object Sf1Point {

  /** The 25 heaviest queries of the r13 isolated bench. Two swaps:
    * q_semantic_dedup and q_knn_graph run as their AUTO-scaled
    * variants, [[StressData.autoPipelines]] (the pinned knn config
    * OOMed at 10× here in round 14, which is the point of the harness).
    */
  private val Heavy: Seq[(String, StressData.Build)] = Seq(
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
    .map(q => q -> SparkEntry.queries(q)) ++ StressData.autoPipelines

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = LocalRun.session(LocalRun.cpus("32"))
    val outDir = StressData.write(spark, sfDir,
      "documents", "embeddings", "lineitem")

    def time(fn: StressData.Build, dir: String): Double =
      LocalRun.noopSeconds(fn(spark, dir))
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
