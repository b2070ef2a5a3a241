package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The 100 TB contract of the document-format layer, pinned as a
  * test: every per-row decode query (synthesize → decodeBatches →
  * project) must compile to a SHUFFLE-FREE physical plan. At scale
  * these queries read N bytes and write N rows; any exchange in the
  * middle would turn a map-only pass over 100 TB into a cluster-wide
  * repartition of 100 TB. A regression here (an accidental
  * groupBy/orderBy/repartition in the pipeline) is a scale bug even
  * though sf0.001 correctness would still pass — so it fails HERE.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def countShuffles(p: SparkPlan): Int = {
    val self = p match {
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    self + kids.map(countShuffles).sum
  }

  // every decoder query in the format layer: one row in, one row out
  private val mapOnlyQueries = Seq(
    "q_doc_text", "q_xls_cells", "q_ppt_text", "q_msg_text",
    "q_ipynb_text", "q_srt_text", "q_vtt_text", "q_feed_text",
    "q_ics_text", "q_vcf_text", "q_sqlite_rows", "q_sniff_format",
    "q_docx_text", "q_xlsx_strings", "q_pptx_text", "q_odt_text",
    "q_epub_text", "q_rtf_text", "q_eml_text", "q_cfb_streams",
    "q_pdf_fonts", "q_avro_rows", "q_dbf_rows",
    "q_exif_meta", "q_png_meta", "q_md_text")

  private def shuffleNodes(p: SparkPlan): Seq[ShuffleExchangeLike] = {
    val self = p match {
      case s: ShuffleExchangeLike => Seq(s)
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other => other.children
    }
    self ++ kids.flatMap(shuffleNodes)
  }

  test("format-decode queries compile to shuffle-free plans " +
      "(modulo the guarded parameter fan-out)") {
    // r19 refinement: kernel-heavy decode queries may carry AT MOST
    // one ROUND-ROBIN exchange — queries.Tables.tp()'s fan-out of an
    // under-partitioned scan, which shuffles only the narrow
    // pre-synthesis parameter columns and is guarded to vanish when
    // the input is large enough to split (see the guard test below).
    // Any OTHER shuffle — a hash/range exchange, or anything at or
    // after the decode — is still the 100 TB scale bug this spec
    // exists to catch.
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    for (name <- mapOnlyQueries) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val shuffles = shuffleNodes(df.queryExecution.executedPlan)
      val nonRR = shuffles.filterNot(
        _.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
      assert(nonRR.isEmpty,
        s"$name has a non-round-robin shuffle (${nonRR.map(_.nodeName)
          .mkString(",")}) — the decode path must stay map-only; at " +
          "100 TB an exchange here repartitions the whole corpus")
      assert(shuffles.size <= 1,
        s"$name has ${shuffles.size} shuffles — at most the one " +
          "guarded parameter fan-out is allowed")
    }
  }

  test("the tp() fan-out vanishes when the scan splits to cluster " +
      "parallelism (scale guard)") {
    // shrink maxPartitionBytes so bytes/maxSplit >= defaultParallelism
    // — the at-scale regime — and the fan-out must disappear: zero
    // exchanges, the pre-r19 shuffle-free plan.
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "1024")
      for (name <- mapOnlyQueries) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val shuffles = countShuffles(df.queryExecution.executedPlan)
        assert(shuffles == 0,
          s"$name keeps $shuffles shuffle(s) even when the scan " +
            "splits — the fan-out guard is broken")
      }
    } finally spark.conf.set(key, old)
  }

  test("decode queries carry no driver-side collect in their plan") {
    // the plan tree must be a single linear pipeline: scan →
    // project/mapPartitions chain, no joins, no aggregates
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def offenders(p: SparkPlan): Seq[String] = {
      val self = p match {
        case _: BaseJoinExec => Seq(p.nodeName)
        case _: BaseAggregateExec => Seq(p.nodeName)
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      self ++ kids.flatMap(offenders)
    }
    for (name <- mapOnlyQueries) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val bad = offenders(df.queryExecution.executedPlan)
      assert(bad.isEmpty,
        s"$name plan contains ${bad.mkString(",")}")
    }
  }
}
