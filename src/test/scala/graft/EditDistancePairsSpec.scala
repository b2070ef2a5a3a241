package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.operators.{BucketPairs, Dedup}

/** Pins Dedup.editDistancePairs' value-keyed plan: the same bag of
  * pairs as the join formulation it replaced, three shuffles and no
  * join, and the job count of the q_entity_clusters build it feeds. */
class EditDistancePairsSpec extends SparkSpec
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The join formulation editDistancePairs had before it grouped by
    * value: value pairs from the trigram buckets, joined back to the
    * id table on both sides, plus a same-value self-join. */
  private def joinFormulation(df: DataFrame, idCol: String,
      textCol: String, maxDist: Int, dfCap: Long): DataFrame = {
    val s = df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .filter(col("__t").isNotNull)
    val vals = s.select("__t").distinct()
    val grams = when(length(col("__t")) >= 3,
      array_distinct(transform(
        sequence(lit(1), length(col("__t")) - 2),
        i => col("__t").substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val inv = vals.select(col("__t"), explode(grams).as("gram"))
    val valPairs = BucketPairs.bucketedPairs(inv, col("gram"),
        col("__t"), dfCap)
      .select(least(col("p.a"), col("p.b")).as("__ta"),
        greatest(col("p.a"), col("p.b")).as("__tb"))
      .distinct()
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("edit_dist") >= 1 && col("edit_dist") <= maxDist)
    val sameVal = s.select(col("id").as("id_a"), col("__t"))
      .join(s.select(col("id").as("id_b"), col("__t")), Seq("__t"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("edit_dist"))
    val crossVal = valPairs
      .join(s.select(col("id").as("__ia"), col("__t").as("__ta")),
        Seq("__ta"))
      .join(s.select(col("id").as("__ib"), col("__t").as("__tb")),
        Seq("__tb"))
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("edit_dist"))
    sameVal.unionByName(crossVal).select("id_a", "id_b", "edit_dist")
  }

  /** The pairs as a multiset: each distinct row with its count. */
  private def bag(df: DataFrame): Set[Row] =
    df.groupBy("id_a", "id_b", "edit_dist").count().collect().toSet

  private def id(i: Long): java.lang.Long = i
  private val noId: java.lang.Long = null

  /** Every shape the two formulations could disagree on. */
  private lazy val corpus: DataFrame = (Seq(
    // several docs share one value, one of them twice, one null id
    (id(1), "jonathan-smith"), (id(2), "jonathan-smith"),
    (id(3), "jonathan-smith"), (id(1), "jonathan-smith"),
    (noId, "jonathan-smith"),
    (id(4), "jonathan-smyth"), (id(4), "jonathan-smyth"),
    (noId, "jonathan-smyth"), (id(5), "jonathan-smithx"),
    (id(6), "jonathan-smit"), (id(1), "jonathan-smit"),
    (id(7), "margaret-jones"), (id(8), null),
    (id(9), null), (noId, null),
    // shorter than a trigram: only the same-value path reaches them
    (id(10), "ab"), (id(11), "ab"), (id(12), "ac"), (id(13), "a"),
    (id(14), "a"), (id(15), "")) ++
    // one gram ("hub") in 12 values, above a cap of 5; each value's
    // other grams are its own, so it pairs only through the hub
    (0 until 12).map(i => (id(100 + i), s"hub${('a' + i).toChar}"))
    ).toDF("id", "name")

  test("the same bag of pairs as the join formulation, on shared " +
      "values, duplicate rows, null ids and values, short fields and " +
      "a capped gram hub") {
    for ((maxDist, dfCap) <- Seq((2, 1000L), (1, 1000L), (2, 5L),
        (3, 11L))) {
      val got = Dedup.editDistancePairs(corpus, "id", "name", maxDist,
        dfCap)
      val want = joinFormulation(corpus, "id", "name", maxDist, dfCap)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)))
      assert(bag(got) == bag(want), s"maxDist $maxDist dfCap $dfCap")
    }
    // the corpus reaches each path: repeated same-value and
    // cross-value pairs, a null id turned into (x, x), short fields
    val b = bag(Dedup.editDistancePairs(corpus, "id", "name"))
    assert(b.contains(Row(1L, 2L, 0, 2L)))
    assert(b.contains(Row(4L, 4L, 1, 2L)))
    assert(b.contains(Row(10L, 11L, 0, 1L)))
    assert(b.contains(Row(100L, 101L, 1, 1L)))
    assert(!bag(Dedup.editDistancePairs(corpus, "id", "name",
      dfCap = 5L)).exists(r => !r.isNullAt(0) && r.getLong(0) >= 100L))
  }

  test("string ids pair like long ids") {
    val s = corpus.select(col("id").cast("string").as("id"), col("name"))
    assert(bag(Dedup.editDistancePairs(s, "id", "name")) ==
      bag(joinFormulation(s, "id", "name", 2, 1000L)))
  }

  test("the executed plan has no join and three shuffles: value, gram " +
      "and value pair") {
    val out = Dedup.editDistancePairs(corpus, "id", "name")
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e } ++
      collect(plan) { case r: ReusedExchangeExec => r.child }
    assert(shuffles.map(_.canonicalized).distinct.size == 3, plan)
  }

  test("q_entity_clusters builds with at most 3 edge-set jobs, one " +
      "driver-collect job and no other job") {
    val dir = Files.createTempDirectory("graft_entity").toFile.getPath
    spark.range(0, 2000, 1, 2).select(col("id").as("doc_id"))
      .write.parquet(s"$dir/documents.parquet")
    val build = SparkEntry.queries("q_entity_clusters")
    val (_, jobs) = JobFence.during(spark.sparkContext) {
      build(spark, dir)
    }
    val desc = jobs.map(_.description.getOrElse(""))
    val edgeSet = desc.count(_ == "Dedup.duplicateClusters: edge set")
    val driver = desc.count(_ == "Dedup.duplicateClusters: driver collect")
    assert(edgeSet <= 3 && driver == 1 && desc.size == edgeSet + driver,
      desc)
  }
}
