package graft.operators

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

/** bzip2 codec — the dump-distribution format (Wikipedia dumps,
  * Common Crawl index shards, classic tar.bz2 datasets ship in it):
  * full from-spec decode of the BWT + MTF + RLE + multi-table
  * Huffman stack, with both CRC layers VERIFIED (per-block CRC over
  * the reconstructed bytes and the combined stream CRC). Fixture
  * streams come from commons-compress ([[compress]]); golden streams
  * produced by the reference bzip2 implementation pin the decoder
  * (Bzip2Spec).
  *
  * Format walked (public format documentation; the container is
  * BIT-packed, MSB-first, blocks are not byte-aligned):
  * `BZh<level>` stream header; per block: the 48-bit block magic,
  * stored CRC, the deprecated randomized flag (refused), the BWT
  * origin pointer, the two-level used-symbol bitmap, 2..6 Huffman
  * tables with delta-coded lengths, MTF+unary-coded table selectors
  * switching every 50 symbols, RUNA/RUNB bijective-base-2 zero runs
  * through the MTF alphabet, then the inverse BWT and the RLE1
  * (4-byte-run + count) expansion; 48-bit end magic + stream CRC;
  * concatenated streams (pbzip2 output) supported. Any structural
  * damage or CRC mismatch refuses — never silently-wrong bytes.
  *
  * Why not commons-compress `BZip2CompressorInputStream` (on
  * Spark's classpath): it decodes every golden bit-exactly, but in a
  * same-JVM, interleaved A/B on q_bzip2_roundtrip's 500 streams
  * (median of 9 reps, 4-core host) it took ~29 ms per pass against
  * ~22 ms here: it allocates ~170 KiB of block tables per stream
  * (measured on a ~370-byte text). A codec whose jar decode is
  * slower keeps its from-spec decoder.
  *
  * Scale: map-only per-row byte work like [[Zstd]]/[[Brotli]]; the
  * decoder allocates per call (the 900 KiB max block is the spec's
  * own bound); output capped at [[CodecGuard.MaxOut]].
  *
  * Reference behavior studied: pytrousse has no compression layer
  * (/root/reference/src/trousse/dataset.py:1); beyond-parity
  * crawl-curation surface.
  */
object Bzip2 {

  import CodecGuard.MaxOut

  private final case class Bzip2Fail(why: String)
    extends RuntimeException(why, null, false, false)
  private def fail(why: String): Nothing = throw Bzip2Fail(why)

  // bzip2's CRC-32: polynomial 0x04c11db7, MSB-first (NOT the
  // reflected zlib variant), init ~0, final complement
  private val CrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80000000) != 0) (c << 1) ^ 0x04c11db7
          else c << 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private final class Crc {
    private var v = 0xffffffff
    def update(b: Byte): Unit =
      v = (v << 8) ^ CrcTable(((v >>> 24) ^ (b & 0xff)) & 0xff)
    def value: Int = ~v
  }

  private final class Reader(b: Array[Byte]) {
    var pos = 0 // bit index, MSB-first
    private val limit = b.length.toLong * 8
    def bit(): Int = {
      val p = pos
      if (p >= limit) fail("eof")
      pos = p + 1
      (b(p >> 3) >> (7 - (p & 7))) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def bits48(): Long = {
      (bits(24).toLong << 24) | (bits(24).toLong & 0xffffffL)
    }
    def alignByte(): Unit = pos = (pos + 7) & ~7
    def atEnd: Boolean = pos >= limit
    def remainingBits: Long = limit - pos
  }

  private val BlockMagic = 0x314159265359L
  private val EndMagic = 0x177245385090L

  /** Canonical Huffman decoder over lengths 1..23, codes assigned in
    * (length, symbol-index) order — the bzip2 canonical form.
    */
  private final class Huff(lens: Array[Int]) {
    private val count = new Array[Int](24)
    private val syms: Array[Int] = {
      var n = 0
      lens.foreach { l =>
        if (l < 1 || l > 23) fail("bad code length")
        count(l) += 1
        n += 1
      }
      val out = new Array[Int](n)
      var k = 0
      var l = 1
      while (l <= 23) {
        var s = 0
        while (s < lens.length) {
          if (lens(s) == l) { out(k) = s; k += 1 }
          s += 1
        }
        l += 1
      }
      out
    }
    def read(r: Reader): Int = {
      var code = 0
      var first = 0
      var idx = 0
      var l = 1
      while (l <= 23) {
        code = (code << 1) | r.bit()
        val c = count(l)
        if (code - first < c) return syms(idx + code - first)
        idx += c
        first = (first + c) << 1
        l += 1
      }
      fail("bad huffman code")
    }
  }

  /** Decode one block's BWT buffer (post-MTF/RLE2) + verify its CRC
    * after inverse BWT and RLE1; returns the original bytes.
    */
  private def decodeBlock(r: Reader, maxBlock: Int,
      out: java.io.ByteArrayOutputStream, budget: Int): Int = {
    val storedCrc = r.bits(24) << 8 | r.bits(8)
    if (r.bit() != 0) fail("randomized blocks unsupported")
    val origPtr = r.bits(24)
    // two-level used-symbol map
    val ranges = r.bits(16)
    val used = new Array[Boolean](256)
    var nUsed = 0
    var i = 0
    while (i < 16) {
      if ((ranges & (0x8000 >>> i)) != 0) {
        val bitsv = r.bits(16)
        var j = 0
        while (j < 16) {
          if ((bitsv & (0x8000 >>> j)) != 0) {
            used(i * 16 + j) = true
            nUsed += 1
          }
          j += 1
        }
      }
      i += 1
    }
    if (nUsed == 0) fail("empty symbol map")
    val alpha = nUsed + 2
    val nGroups = r.bits(3)
    if (nGroups < 2 || nGroups > 6) fail("bad group count")
    val nSelectors = r.bits(15)
    if (nSelectors < 1) fail("no selectors")
    // selectors: unary + MTF over group ids
    val selMtf = Array.tabulate(nGroups)(identity)
    val selectors = new Array[Int](nSelectors)
    i = 0
    while (i < nSelectors) {
      var j = 0
      while (r.bit() == 1) {
        j += 1
        if (j >= nGroups) fail("bad selector")
      }
      val v = selMtf(j)
      while (j > 0) { selMtf(j) = selMtf(j - 1); j -= 1 }
      selMtf(0) = v
      selectors(i) = v
      i += 1
    }
    // delta-coded code lengths per group
    val tables = new Array[Huff](nGroups)
    var g = 0
    while (g < nGroups) {
      val lens = new Array[Int](alpha)
      var len = r.bits(5)
      var s = 0
      while (s < alpha) {
        var guard = 0
        while (r.bit() == 1) {
          if (r.bit() == 0) len += 1 else len -= 1
          if (len < 1 || len > 23) fail("bad delta length")
          guard += 1
          if (guard > 64) fail("length loop")
        }
        lens(s) = len
        s += 1
      }
      tables(g) = new Huff(lens)
      g += 1
    }
    // MTF alphabet over the used byte values
    val mtf = new Array[Int](nUsed)
    var k = 0
    i = 0
    while (i < 256) {
      if (used(i)) { mtf(k) = i; k += 1 }
      i += 1
    }
    // symbol stream → BWT buffer
    val bwt = new Array[Byte](maxBlock)
    var n = 0
    var groupPos = 0
    var selIdx = -1
    var table: Huff = null
    def nextSym(): Int = {
      if (groupPos == 0) {
        selIdx += 1
        if (selIdx >= nSelectors) fail("selectors exhausted")
        table = tables(selectors(selIdx))
        groupPos = 50
      }
      groupPos -= 1
      table.read(r)
    }
    val eob = alpha - 1
    var run = 0L
    var runK = 0
    var done = false
    while (!done) {
      val s = nextSym()
      if (s <= 1) { // RUNA / RUNB
        run += (s + 1).toLong << runK
        runK += 1
        if (run > maxBlock) fail("run too long")
      } else {
        if (run > 0) {
          val b = mtf(0).toByte
          if (n + run > maxBlock) fail("block overflow")
          var c = 0L
          while (c < run) { bwt(n) = b; n += 1; c += 1 }
          run = 0; runK = 0
        }
        if (s == eob) done = true
        else {
          // MTF decode of index s-1
          var j = s - 1
          val v = mtf(j)
          while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
          mtf(0) = v
          if (n >= maxBlock) fail("block overflow")
          bwt(n) = v.toByte
          n += 1
        }
      }
    }
    if (origPtr >= n) fail("origPtr out of range")
    // inverse BWT
    val cum = new Array[Int](257)
    i = 0
    while (i < n) { cum((bwt(i) & 0xff) + 1) += 1; i += 1 }
    i = 1
    while (i <= 256) { cum(i) += cum(i - 1); i += 1 }
    val tt = new Array[Int](n)
    i = 0
    while (i < n) {
      val c = bwt(i) & 0xff
      tt(cum(c)) = i
      cum(c) += 1
      i += 1
    }
    // walk + RLE1 expansion + CRC
    val crc = new Crc
    var j2 = tt(origPtr)
    var emitted = 0
    var prev = -1
    var runLen = 0
    var produced = 0
    while (emitted < n) {
      val b = bwt(j2) & 0xff
      j2 = tt(j2)
      emitted += 1
      if (runLen == 4) {
        // b is the repeat COUNT for the preceding 4-byte run
        var c = 0
        while (c < b) {
          out.write(prev); crc.update(prev.toByte); produced += 1
          c += 1
        }
        if (produced > budget) fail("output too large")
        runLen = 0
        prev = -1
      } else {
        if (b == prev) runLen += 1 else { runLen = 1; prev = b }
        out.write(b); crc.update(b.toByte); produced += 1
        if (produced > budget) fail("output too large")
      }
    }
    if (runLen == 4) fail("truncated RLE1 run")
    if (crc.value != storedCrc) fail("block crc mismatch")
    storedCrc
  }

  /** Decode a (possibly multi-stream) bzip2 payload. None for
    * anything structurally damaged or CRC-failing. Trailing bytes
    * after a complete stream are tolerated only if they form
    * further streams (the reference tool's multi-stream behavior);
    * other trailing garbage refuses.
    */
  def decompress(b: Array[Byte], maxOut: Int = MaxOut)
      : Option[Array[Byte]] = {
    if (b == null || b.length < 10) return None
    try {
      val r = new Reader(b)
      // size HINT only — clamp so inputs past ~715 MB cannot
      // overflow Int into a negative initial capacity
      val out = new java.io.ByteArrayOutputStream(
        math.max(16L, math.min(b.length.toLong * 3, maxOut.toLong))
          .toInt)
      var streams = 0
      var more = true
      while (more) {
        if (r.bits(8) != 'B' || r.bits(8) != 'Z' || r.bits(8) != 'h')
          fail("bad stream header")
        val level = r.bits(8) - '0'
        if (level < 1 || level > 9) fail("bad level")
        val maxBlock = level * 100000
        var streamCrc = 0
        var blocks = true
        while (blocks) {
          val magic = r.bits48()
          if (magic == BlockMagic) {
            val blockCrc = decodeBlock(r, maxBlock, out,
              maxOut - out.size)
            streamCrc = ((streamCrc << 1) | (streamCrc >>> 31)) ^
              blockCrc
          } else if (magic == EndMagic) {
            val stored = r.bits(24) << 8 | r.bits(8)
            if (stored != streamCrc) fail("stream crc mismatch")
            blocks = false
          } else fail("bad block magic")
        }
        streams += 1
        r.alignByte()
        more = r.remainingBits >= 80 // another full header possible
        if (!more && r.remainingBits > 0) {
          // sub-header trailing bits: must be zero padding only if
          // less than a potential stream; non-zero junk refuses
          while (!r.atEnd) if (r.bit() != 0) fail("trailing garbage")
        }
      }
      Some(out.toByteArray)
    } catch {
      case Bzip2Fail(_) => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  // ------------------------------------------------------------------
  // Spark plumbing (mirrors Zstd/Brotli)
  // ------------------------------------------------------------------

  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types.{BinaryType, StringType,
    StructField, StructType}

  val bzip2TextSchema: StructType = StructType(Seq(
    StructField("bzip2_text", StringType)))

  /** Decode kernel for `Multimodal.decodeBatches`. */
  def decodeBzip2Text(bytes: Array[Byte]): Seq[Any] =
    decompress(bytes) match {
      case Some(plain) => Seq[Any](new String(plain,
        java.nio.charset.StandardCharsets.UTF_8))
      case None => Seq[Any](null)
    }

  /** Per-row bzip2 synthesizer. */
  def synthBzip2(df: DataFrame, idCol: String, textCol: String,
      outCol: String): DataFrame = {
    val ti = df.schema.fieldIndex(textCol)
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        Row.fromSeq(r.toSeq :+ compress(text.getBytes(
          java.nio.charset.StandardCharsets.UTF_8)))
      }
    }(enc)
  }

  /** Fixture side: one bzip2 stream from commons-compress at the block
    * size it picks for the input length.
    */
  def compress(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val out = new BZip2CompressorOutputStream(bos,
      BZip2CompressorOutputStream.chooseBlockSize(data.length))
    try out.write(data) finally out.close()
    bos.toByteArray
  }
}
