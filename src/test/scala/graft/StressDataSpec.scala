package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, countDistinct}

/** The [[StressData]] replica constructions keep what their scaladoc
  * claims, on tiny in-memory frames, and the writer reuses only a
  * finished write of the same source.
  */
class StressDataSpec extends SparkSpec {
  import spark.implicits._

  private val copies = StressData.Copies

  /** The rows of `df` with `id` in replica `k` of a source whose ids
    * are `0 until span`, shifted back to the source ids. */
  private def replica(df: DataFrame, id: String, span: Long,
      k: Int): DataFrame =
    df.filter(col(id) >= k * span && col(id) < (k + 1) * span)
      .withColumn(id, col(id) - k * span)

  /** Same columns, types (nullability aside) and rows as a multiset. */
  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    def types(df: DataFrame) =
      df.schema.map(f => f.name -> f.dataType.simpleString)
    assert(types(a) == types(b))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  private val docs = Seq(
    0L -> "the quick brown fox jumps over the lazy dog",
    1L -> "the quick brown fox jumped over a lazy dog",
    2L -> "Lorem ipsum dolor sit amet, 42 times",
    3L -> "lorem ipsum dolor sat amet",
    4L -> "zebra xylophone quartz").toDF("doc_id", "text")

  test("documents: replica 0 is the source, ids disjoint across replicas") {
    val rep = StressData.documents(docs, copies)
    assertSameRows(replica(rep, "doc_id", 5L, 0), docs)
    assert(rep.count() == 5L * copies)
    assert(rep.select("doc_id").distinct().count() == 5L * copies)
  }

  test("documents: every replica keeps each pair's 3-shingle Jaccard") {
    def shingles(s: String): Set[String] = s.sliding(3).toSet
    def jaccards(texts: Map[Long, String]): Map[(Long, Long), Double] =
      (for (a <- texts.keys; b <- texts.keys if a < b) yield {
        val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
        (a, b) -> (sa & sb).size.toDouble / (sa | sb).size
      }).toMap
    def texts(df: DataFrame): Map[Long, String] =
      df.as[(Long, String)].collect().toMap
    val src = texts(docs)
    val rep = StressData.documents(docs, copies)
    for (k <- 0 until copies) {
      val rk = texts(replica(rep, "doc_id", 5L, k))
      assert(rk.keySet == src.keySet)
      assert(jaccards(rk) == jaccards(src), s"replica $k")
      if (k > 0) assert(rk(0L) != src(0L), s"replica $k not rotated")
    }
  }

  test("embeddings: each replica is a signed permutation of its source") {
    val dim = 8
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 6L).map(i =>
      i -> Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val emb = vecs.toDF("vec_id", "embedding")
    val src = vecs.toMap
    val rep = StressData.embeddings(emb, copies)
    assert(rep.select("vec_id").distinct().count() == 6L * copies)
    assertSameRows(replica(rep, "vec_id", 6L, 0), emb)
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    var moved = 0
    for (k <- 0 until copies) {
      val rk = replica(rep, "vec_id", 6L, k)
        .as[(Long, Seq[Float])].collect().toMap
      assert(rk.keySet == src.keySet)
      // target dimension j takes source dimension perm(j) times sign(j),
      // the same for every vector of the replica
      val perm = (0 until dim).map { j =>
        val hits = (0 until dim).filter(p => src.keys.forall(v =>
          math.abs(rk(v)(j)) == math.abs(src(v)(p))))
        assert(hits.size == 1, s"replica $k dim $j")
        val p = hits.head
        val sign = math.signum(rk(0L)(j) * src(0L)(p))
        assert(src.keys.forall(v => rk(v)(j) == sign * src(v)(p)))
        p
      }
      assert(perm.sorted == (0 until dim))
      if (perm != (0 until dim)) moved += 1
      // relative to |a|·|b|, the scale of every summand
      for (a <- src.keys; b <- src.keys) {
        val (sa, sb) = (src(a).toSeq, src(b).toSeq)
        val (d0, dk) = (dot(sa, sb), dot(rk(a), rk(b)))
        val scale = math.sqrt(dot(sa, sa) * dot(sb, sb))
        assert(math.abs(dk - d0) <= 1e-6 * scale,
          s"replica $k dot($a, $b): $dk vs $d0")
      }
    }
    assert(moved == copies - 1)
  }

  test("lineitem: distinct value counts grow with the replica count") {
    val li = Seq((0L, 10.0, 1.0, 0.05), (1L, 10.0, 1.0, 0.05),
      (2L, 20.0, 2.0, 0.10), (3L, 20.0, 1.0, 0.05))
      .toDF("l_orderkey", "l_extendedprice", "l_quantity", "l_discount")
    assertSameRows(StressData.lineitem(li, 1), li)
    assertSameRows(replica(StressData.lineitem(li, copies),
      "l_orderkey", 4L, 0), li)
    val cols = Seq("l_orderkey", "l_extendedprice", "l_quantity",
      "l_discount")
    val counts = (1 to 3).map { n =>
      val row = StressData.lineitem(li, n)
        .agg(countDistinct(col(cols.head)),
          cols.tail.map(c => countDistinct(col(c))): _*).head()
      cols.indices.map(row.getLong)
    }
    assert(counts.head == Seq(4L, 2L, 2L, 2L))
    for (Seq(a, b) <- counts.sliding(2); i <- cols.indices)
      assert(b(i) > a(i), s"${cols(i)}: $counts")
  }

  test("write: named after the source, reuses only a finished write") {
    assert(StressData.dirFor("/data/sf0.1") == "stress_data/sf0.1_x10")
    assert(StressData.dirFor("/data/sf0.1/") == "stress_data/sf0.1_x10")
    val src = Files.createTempDirectory("graft_stress_src")
    val dir = StressData.dirFor(src.toString)
    def writeSource(n: Long): Unit =
      spark.range(n).selectExpr("id AS doc_id", "'abc' AS text")
        .write.mode("overwrite").parquet(s"$src/documents.parquet")
    def rows: Long = spark.read.parquet(s"$dir/documents.parquet").count()
    try {
      writeSource(3)
      assert(StressData.write(spark, src.toString, "documents") == dir)
      assert(rows == 3L * copies)
      // a finished write is reused even when the source changed
      writeSource(4)
      StressData.write(spark, src.toString, "documents")
      assert(rows == 3L * copies)
      // a write without its marker (killed) is redone
      Files.delete(Paths.get(dir, "documents.parquet", "_SUCCESS"))
      StressData.write(spark, src.toString, "documents")
      assert(rows == 4L * copies)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(src.toFile)
    }
  }
}
