package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.sources.Io

/** Measured comparison of the CodegenFallback scan kernels against
  * their expression-tree twins (diagnostic main, not part of the
  * bench): RedactIbans, WordGramHashes and HashingVectorize sit on
  * hot scan paths inside whole-stage-codegen'd plans, and the
  * fallback breaks the stage — this main answers, with wall numbers
  * at 1× and 10× docs, whether that break actually costs anything
  * next to the interpreted-HOF tree forms (the r9 review's "measure
  * before promoting to doGenCode"). Each variant's checksum is
  * printed so a twin that silently diverges is visible in the
  * artifact. README records the current table.
  *
  * Usage: `sbt "runMain graft.KernelBench"` (env SPARK_GRAFT_SF_DIR
  * overrides the base dir; 10× replicas go under
  * `StressData.dirFor(SPARK_GRAFT_SF_DIR)`, reused once written).
  */
object KernelBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = LocalRun.session(LocalRun.cpus("32"))
    val T = graft.functions.TextFunctions
    val H = graft.functions.HashFunctions

    // 10x replication with the StressData alphabet rotation (distinct
    // ids, bijectively remapped shingles)
    val stressDir = StressData.write(spark, sfDir, "documents")

    val dim = 64
    // xor-fold + modular sum: order-insensitive, never overflows
    def sumArr(c: Column): Column =
      sum(pmod(aggregate(c, lit(0L), (a, x) => a.bitwiseXOR(x)),
        lit(1000003L)))
    // the honest tree form of the hashing trick: an aggregate HOF
    // carrying the dim-wide state — O(dim) per token, which is
    // exactly why the native kernel exists. dim = 64, so the sign
    // bit (h DIV dim) & 1 is bit 6 — Column./ is DOUBLE division and
    // would shred a 60-bit hash's parity
    def hashingTree(c: Column): Column =
      aggregate(T.tokens(c), array_repeat(lit(0L), dim), (acc, t) => {
        val h = H.stableHash60(t)
        val sign = when(shiftrightunsigned(h, 6)
            .bitwiseAND(lit(1L)) === 1L, -1L).otherwise(1L)
        transform(acc, (x, i) =>
          x + when(h % dim === i.cast("long"), sign).otherwise(0L))
      })
    val kernels: Seq[(String, Column, Column, Column => Column)] = Seq(
      ("redact_ibans",
        T.redactIbans(col("text")),
        T.redactIbansTree(col("text")),
        (c: Column) => sum(length(c))),
      ("word_gram_hashes(3)",
        graft.functions.NativeHash.wordGramHashesColumn(col("text"), 3),
        transform(T.wordNGrams(col("text"), 3), g => H.stableHash60(g)),
        sumArr _),
      ("hashing_vectorize(64)",
        T.hashingVector(col("text"), dim),
        hashingTree(col("text")),
        sumArr _))

    println(f"${"kernel"}%-22s ${"variant"}%-8s ${"scale"}%5s " +
      f"${"wall_s"}%8s  checksum")
    for ((name, native, tree, agg) <- kernels;
         (scale, dir) <- Seq(("1x", sfDir), ("10x", stressDir));
         (variant, expr) <- Seq(("native", native), ("tree", tree))) {
      val d = Io.readParquet(spark, s"$dir/documents.parquet")
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val cs = d.select(agg(expr).cast("long")).head().getLong(0)
        ((System.nanoTime() - t0) / 1e9, cs)
      }
      run() // warm: codegen + JIT
      val (w1, cs) = run()
      val (w2, _) = run()
      println(f"$name%-22s $variant%-8s $scale%5s " +
        f"${math.min(w1, w2)}%8.2f  $cs%d")
    }
    spark.stop()
  }
}
