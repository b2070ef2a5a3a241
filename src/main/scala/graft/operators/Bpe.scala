package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding tokenization — the merge-table side of an LLM
  * data pipeline's token accounting (length budgeting, packing,
  * per-token pricing).
  *
  * Encode semantics are CLASSIC greedy BPE: merges apply in rank
  * order, one left-to-right non-overlapping pass per rank ("aaaa"
  * with (a,a) → [aa, aa]; the merged token never re-merges within
  * its own rank, but later ranks see it). The pass is a per-document
  * JVM loop inside `mapPartitions` — map-only, zero shuffle, zero
  * driver state, O(ranks × chars) per document — because no chain of
  * string `replace`s can express greedy pairing (a literal
  * replacement consumes the boundary its right neighbor needs, so
  * alternating pairs go unmerged; the window-function oracle of the
  * q_bpe_* queries re-derives greedy pairing independently via the
  * odd-position-within-candidate-run rule).
  *
  * 100 TB shape: encode scans each partition once. Training is
  * `numMerges` small aggregations whose shuffle is O(distinct
  * adjacent token pairs) after map-side combine — alphabet-bounded,
  * not corpus-bounded.
  */
object Bpe {

  /** Token separator in the emitted stream; scrubbed from input. */
  val Sep = "\u0001"

  /** One greedy left-to-right merge pass of rank (a, b). */
  private def mergePass(toks: Array[String], a: String, b: String)
      : Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += (a + b)
        i += 2
      } else {
        out += toks(i)
        i += 1
      }
    }
    out.result()
  }

  /** Greedy-encode one text against an ordered merge table: code-
    * point symbols (astral chars stay single tokens, matching SQL
    * substring semantics), then one merge pass per rank.
    */
  def encodeText(text: String, merges: Seq[(String, String)])
      : Array[String] = {
    val scrubbed =
      if (text == null) "" else text.replace(Sep, "")
    var toks = scrubbed.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    merges.foreach { case (a, b) => toks = mergePass(toks, a, b) }
    toks
  }

  val encodeSchema: StructType = StructType(Seq(
    StructField("token_stream", StringType),
    StructField("n_tokens", LongType)))

  /** Encode `textCol`: appends the SEP-joined token stream (engine-
    * replayable verbatim) and the token count. Map-only.
    */
  def encode(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val ti = df.schema.fieldIndex(textCol)
    val schema = StructType(df.schema.fields ++ encodeSchema.fields)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val toks = encodeText(r.getString(ti), merges)
        Row.fromSeq(r.toSeq ++
          Seq(toks.mkString(Sep), toks.length.toLong))
      }
    }(enc)
  }

  val chunkSchema: StructType = StructType(Seq(
    StructField("chunk_id", IntegerType),
    StructField("chunk_text", StringType),
    StructField("n_tokens", LongType)))

  /** Sliding-window chunking with context overlap: windows of up to
    * `maxTokens` BPE tokens starting at every multiple of `stride`
    * (< document length) — `stride < maxTokens` makes consecutive
    * chunks share `maxTokens − stride` tokens of context, the
    * standard RAG-indexing / long-document-training shape where a
    * fact straddling a hard cut would otherwise be unlearnable in
    * either chunk. `stride = maxTokens` degenerates to [[chunk]]'s
    * partition (plus the explicit `start_token` column). Map-only
    * per-partition kernel like [[chunk]]; output grows by
    * ~`maxTokens/stride`×. Returns (`idCol`, `chunk_id` =
    * start/stride, `chunk_text`, `n_tokens`, `start_token`); tail
    * windows are shorter, empty documents emit no rows.
    */
  def chunkOverlap(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], maxTokens: Int,
      stride: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(stride >= 1 && stride <= maxTokens,
      s"stride must be in 1..maxTokens, got $stride")
    val (ii, ti) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol))
    val schema = StructType(Seq(df.schema.fields(ii)) ++
      chunkSchema.fields :+ StructField("start_token", LongType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(ii)
        val toks = Bpe.encodeText(r.getString(ti), merges)
        (0 until toks.length by stride).iterator.map { s =>
          val w = toks.slice(s, math.min(s + maxTokens, toks.length))
          Row(id, s / stride, w.mkString(""), w.length.toLong,
            s.toLong)
        }
      }
    }(enc)
  }

  /** Token-budgeted chunking: split each document into consecutive
    * windows of at most `maxTokens` BPE tokens (the unit a training
    * pipeline actually packs by, unlike character windows). Chunk
    * text is the exact concatenation of its tokens, so chunks
    * partition the scrubbed document verbatim. Documents with no
    * tokens produce no rows. Map-only explode — each task fans out
    * its own rows.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    val (ii, ti) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol))
    val schema = StructType(Seq(df.schema.fields(ii)) ++
      chunkSchema.fields)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(ii)
        Bpe.encodeText(r.getString(ti), merges)
          .grouped(maxTokens).zipWithIndex.map { case (w, ci) =>
            Row(id, ci, w.mkString(""), w.length.toLong)
          }
      }
    }(enc)
  }

  /** Train a merge table: `numMerges` rounds of "count adjacent token
    * pairs, take the most frequent" (ties broken lexicographically —
    * deterministic and partitioning-invariant). Each round re-encodes
    * with the merges so far and runs one partially-aggregated count;
    * rounds stop early when no pair reaches `minCount`.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 0 && minCount >= 1)
    val merges = Seq.newBuilder[(String, String)]
    var current = Seq.empty[(String, String)]
    var rounds = 0
    var exhausted = false
    while (rounds < numMerges && !exhausted) {
      val toks = split(col("token_stream"), Sep)
      val best = encode(df.select(col(textCol)), textCol, current)
        .select(toks.as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2), " +
            "i -> struct(t[i] AS a, t[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("a"), asc("b"))
        .limit(1)
        .collect()
      best.headOption match {
        case Some(r) if r.getLong(2) >= minCount =>
          val m = (r.getString(0), r.getString(1))
          merges += m
          current = current :+ m
        case _ => exhausted = true
      }
      rounds += 1
    }
    merges.result()
  }
}
