package graft

import org.apache.spark.sql.execution.FormattedMode

/** [[PlanDump.normalize]]: two builds of one query in one session
  * differ in expression ids, lambda and object identities, RDD ids
  * and exchange plan ids, and must normalise to the same text.
  */
class PlanDumpSpec extends SparkSpec {

  test("two builds of one query normalise equal") {
    import spark.implicits._
    val t = "plan_dump_spec"
    try {
      spark.range(50).selectExpr("id", "id % 5 AS k")
        .write.mode("overwrite").saveAsTable(t)
      // a warehouse scan, a Scala lambda, a checkpointed RDD, a join
      // and an aggregate: every token that varies per build
      def build(): String = {
        val base = spark.table(t).as[(Long, Long)]
          .mapPartitions(_.map { case (i, k) => (i, k * 2) })
          .toDF("id", "k2")
        val cp = spark.range(20).toDF("id").localCheckpoint()
        base.join(cp, "id").groupBy("k2").count()
          .queryExecution.explainString(FormattedMode)
      }
      val (a, b) = (build(), build())
      assert(a != b, "raw plans of two builds should differ")
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      for (token <- Seq(wh, "$$Lambda", "RDD[", "plan_id="))
        assert(a.contains(token), s"no $token in:\n$a")
      val (na, nb) = (PlanDump.normalize(a, wh), PlanDump.normalize(b, wh))
      assert(na == nb, s"normalised plans differ:\n$na\n----\n$nb")
      assert(na.contains("<warehouse>") && !na.contains(wh))
      for (token <- Seq("""#\d""", """RDD\[\d""", """plan_id=\d""",
          """Lambda\$\d"""))
        assert(token.r.findFirstIn(na).isEmpty, s"$token left in:\n$na")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
