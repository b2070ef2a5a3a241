package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QuerySpec

/** The query registry: one entry per name, each with its oracle. */
class QueryRegistrySpec extends AnyFunSuite {

  private def spec(name: String) =
    QuerySpec(name, "SELECT 1 AS x", (s, _) => s.range(1).select(lit(1)))

  test("310 declared queries, each name once") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 310)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every query has a non-empty oracle") {
    val empty = SparkEntry.registry.filter(_.oracle.trim.isEmpty)
    assert(empty.isEmpty, empty.map(_.name))
  }

  test("a name declared in two area lists is rejected") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.index(Seq(Seq(spec("q_a"), spec("q_b")), Seq(spec("q_a"))))
    }
    assert(e.getMessage.contains("q_a"))
    assert(SparkEntry.index(Seq(Seq(spec("q_a")), Seq(spec("q_b"))))
      .map(_.name) == Seq("q_a", "q_b"))
  }

  test("select keeps the given order and rejects an unknown name") {
    val picked = Seq("q_fillna", "q1_pricing_summary", "q_minhash_pairs")
    assert(SparkEntry.select(picked).map(_.name) == picked)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("q_fillna", "q_filna"))
    }
    assert(e.getMessage.contains("q_filna"))
    assert(SparkEntry.names(" q_a, ,q_b,") == Seq("q_a", "q_b"))
  }
}
