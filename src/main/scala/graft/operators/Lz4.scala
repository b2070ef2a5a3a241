package graft.operators

/** LZ4 frame + block codec (lz4_Frame_format.md /
  * lz4_Block_format.md in the lz4 project). xxHash32 is lz4-java's
  * pure-Java safe hash (on Spark's classpath).
  *
  * Frames keep the from-spec decoder below: in a same-JVM,
  * interleaved A/B on q_lz4_roundtrip's 500 frames (median of 9
  * reps, 4-core host), commons-compress's
  * `FramedLZ4CompressorInputStream` took ~25 ms per pass and
  * lz4-java's `LZ4FrameInputStream` ~12 ms, against ~1 ms here: they
  * allocate ~200 KiB and ~140 KiB of window/block buffers per frame
  * (measured on a ~370-byte text). Neither jar reads legacy frames,
  * and lz4-java's frame stream also refuses linked blocks. Raw
  * blocks ([[decodeRawBlock]]) share that block decoder rather than
  * call lz4-java's, so the repository carries one block decoder.
  *
  * Decode handles the modern frame (magic 0x184D2204) with every
  * descriptor option — independent AND linked blocks, block
  * checksums, content size, content checksum, dictionary-ID
  * presence — plus skippable frames (0x184D2A5x), the legacy frame
  * (0x184C2102, what `lz4 -l` writes), and concatenated frames,
  * which the reference CLI produces for multi-input cat-style use.
  * Every stored checksum is VERIFIED: header HC, per-block XXH32,
  * content XXH32, and the declared content size. Anything torn,
  * lying, or out of bounds refuses to None — never throws, never
  * returns a prefix.
  *
  * The fixture encoder ([[encodeFrame]]) frames lz4-java's block
  * compressor: independent ≤64 KiB blocks with content size +
  * content checksum. Frames from the reference `lz4` CLI pin the
  * decoder in Lz4Spec.
  *
  * Scale: decode is per-value and stateless — a crawl column of
  * .lz4 bodies decodes map-only with no shuffle; the 64 MiB output
  * cap is [[CodecGuard.MaxOut]], the bomb guard every sibling codec
  * shares.
  */
object Lz4 {

  import CodecGuard.MaxOut

  private val FrameMagic = 0x184d2204
  private val LegacyMagic = 0x184c2102
  private val SkipMagicBase = 0x184d2a50

  @inline private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  private val xxh32 =
    net.jpountz.xxhash.XXHashFactory.safeInstance().hash32()

  /** XXH32 over `b[off, off+len)` with `seed` — LZ4's header, block
    * and content checksum.
    */
  def xxhash32(b: Array[Byte], off: Int, len: Int, seed: Int): Int =
    xxh32.hash(b, off, len, seed)

  // ---------------------------------------------------------------
  // block decode — into a shared growable output so linked blocks
  // (B.Indep=0) can reference the previous blocks' 64 KiB window
  // ---------------------------------------------------------------

  private final class Out(var buf: Array[Byte], var len: Int) {
    def ensure(n: Int): Boolean = {
      if (len + n > MaxOut) return false
      if (len + n > buf.length) {
        var cap = math.max(buf.length * 2, 1024)
        while (cap < len + n) cap *= 2
        buf = java.util.Arrays.copyOf(buf, math.min(cap, MaxOut))
      }
      true
    }
  }

  /** Decode one RAW LZ4 block (no frame) — the shape ORC and other
    * columnar containers embed in their compression chunks. None on
    * structural damage or output past `maxOut`.
    */
  def decodeRawBlock(b: Array[Byte], from: Int, until: Int,
      maxOut: Int): Option[Array[Byte]] = {
    if (b == null || from < 0 || until > b.length || from >= until)
      return None
    try {
      val out = new Out(new Array[Byte](math.min(maxOut, 1024)), 0)
      if (!decodeBlock(b, from, until, out) || out.len > maxOut) None
      else Some(java.util.Arrays.copyOf(out.buf, out.len))
    } catch {
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Decode one LZ4 block from `b[from, until)` appending to `out`.
    * Matches may reach back past the block start (linked blocks).
    * False on any structural violation.
    */
  private def decodeBlock(b: Array[Byte], from: Int, until: Int,
      out: Out): Boolean = {
    var p = from
    while (p < until) {
      val token = b(p) & 0xff
      p += 1
      // literal run
      var litLen = token >>> 4
      if (litLen == 15) {
        var x = 255
        while (x == 255) {
          if (p >= until) return false
          x = b(p) & 0xff
          p += 1
          litLen += x
          if (litLen > MaxOut) return false
        }
      }
      if (p + litLen > until) return false
      if (!out.ensure(litLen)) return false
      System.arraycopy(b, p, out.buf, out.len, litLen)
      out.len += litLen
      p += litLen
      if (p == until) return true // last sequence: literals only
      // match
      if (p + 2 > until) return false
      val offset = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      p += 2
      if (offset == 0 || offset > out.len) return false
      var matchLen = (token & 0x0f) + 4
      if ((token & 0x0f) == 15) {
        var x = 255
        while (x == 255) {
          if (p >= until) return false
          x = b(p) & 0xff
          p += 1
          matchLen += x
          if (matchLen > MaxOut) return false
        }
      }
      if (!out.ensure(matchLen)) return false
      var src = out.len - offset
      var k = 0
      while (k < matchLen) { // byte-wise: overlap is the point
        out.buf(out.len) = out.buf(src)
        out.len += 1
        src += 1
        k += 1
      }
    }
    false // a block may not end mid-sequence
  }

  // ---------------------------------------------------------------
  // frame decode
  // ---------------------------------------------------------------

  /** Decode a (possibly concatenated) LZ4 stream: modern frames,
    * legacy frames, skippable frames. None on damage, checksum or
    * declared-size lies, or output past the 64 MiB guard.
    */
  def decodeFrame(b: Array[Byte]): Option[Array[Byte]] =
    try decodeFrame0(b)
    catch { // totality: near-2GB inputs could wrap an Int bound
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  private def decodeFrame0(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 7) return None
    val out = new Out(new Array[Byte](1024), 0)
    var p = 0
    var frames = 0
    while (p < b.length) {
      if (p + 4 > b.length) return None
      val magic = le32(b, p)
      p += 4
      if (magic == FrameMagic) {
        val np = decodeModern(b, p, out)
        if (np < 0) return None
        p = np
        frames += 1
      } else if (magic == LegacyMagic) {
        val np = decodeLegacy(b, p, out)
        if (np < 0) return None
        p = np
        frames += 1
      } else if ((magic & 0xfffffff0) == SkipMagicBase) {
        if (p + 4 > b.length) return None
        val sz = le32(b, p)
        p += 4
        if (sz < 0 || p + sz > b.length) return None
        p += sz
      } else return None
    }
    if (frames == 0) None
    else Some(java.util.Arrays.copyOf(out.buf, out.len))
  }

  /** Modern frame after its magic; returns next offset or -1. */
  private def decodeModern(b: Array[Byte], from: Int, out: Out)
      : Int = {
    var p = from
    if (p + 3 > b.length) return -1
    val flg = b(p) & 0xff
    val bd = b(p + 1) & 0xff
    if ((flg >>> 6) != 1) return -1 // version
    if ((flg & 0x02) != 0) return -1 // reserved bit
    val hasBlockCk = (flg & 0x10) != 0
    val hasCSize = (flg & 0x08) != 0
    val hasCCk = (flg & 0x04) != 0
    val hasDictId = (flg & 0x01) != 0
    val bmsCode = (bd >>> 4) & 0x07
    if (bmsCode < 4 || (bd & 0x8f) != 0) return -1
    val blockMax = 1 << (8 + 2 * bmsCode) // 4→64K … 7→4M
    var descLen = 2
    var declared = -1L
    if (hasCSize) {
      if (p + descLen + 8 > b.length) return -1
      declared = 0L
      var i = 0
      while (i < 8) {
        declared |= (b(p + descLen + i) & 0xffL) << (8 * i)
        i += 1
      }
      if (declared < 0 || declared > MaxOut) return -1
      descLen += 8
    }
    if (hasDictId) descLen += 4
    if (p + descLen + 1 > b.length) return -1
    val hc = b(p + descLen) & 0xff
    if (((xxhash32(b, p, descLen, 0) >>> 8) & 0xff) != hc) return -1
    p += descLen + 1
    val contentStart = out.len
    var done = false
    while (!done) {
      if (p + 4 > b.length) return -1
      val bsz = le32(b, p)
      p += 4
      if (bsz == 0) done = true
      else {
        val uncompressed = (bsz & 0x80000000) != 0
        val dataLen = bsz & 0x7fffffff
        if (dataLen > blockMax || p + dataLen > b.length) return -1
        if (uncompressed) {
          if (!out.ensure(dataLen)) return -1
          System.arraycopy(b, p, out.buf, out.len, dataLen)
          out.len += dataLen
        } else if (!decodeBlock(b, p, p + dataLen, out)) return -1
        p += dataLen
        if (hasBlockCk) { // over the block data as stored
          if (p + 4 > b.length) return -1
          if (le32(b, p) !=
            xxhash32(b, p - dataLen, dataLen, 0)) return -1
          p += 4
        }
      }
    }
    if (declared >= 0 &&
      (out.len - contentStart).toLong != declared) return -1
    if (hasCCk) {
      if (p + 4 > b.length) return -1
      if (le32(b, p) != xxhash32(out.buf, contentStart,
        out.len - contentStart, 0)) return -1
      p += 4
    }
    p
  }

  /** Legacy frame (`lz4 -l`): raw 8 MiB blocks, no end mark — the
    * frame runs until EOF or the next magic number.
    */
  private def decodeLegacy(b: Array[Byte], from: Int, out: Out)
      : Int = {
    val LegacyBlock = 8 << 20
    var p = from
    var sawBlock = false
    while (p < b.length) {
      if (p + 4 > b.length) return -1
      val v = le32(b, p)
      if (v == FrameMagic || v == LegacyMagic ||
        (v & 0xfffffff0) == SkipMagicBase)
        return if (sawBlock) p else -1
      p += 4
      if (v <= 0 || p + v > b.length) return -1
      val before = out.len
      if (!decodeBlock(b, p, p + v, out)) return -1
      if (out.len - before > LegacyBlock) return -1
      p += v
      sawBlock = true
    }
    if (sawBlock) p else -1
  }

  // ---------------------------------------------------------------
  // encode
  // ---------------------------------------------------------------

  private lazy val blockCompressor =
    net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()

  /** Encode a modern single frame: independent ≤64 KiB blocks, each
    * compressed by lz4-java's block compressor and stored raw when
    * that does not shrink it, content size + content checksum (so the
    * reference CLI verifies the round trip), no dict, no per-block
    * checksums.
    *
    * The frame is written here rather than by lz4-java's
    * `LZ4FrameOutputStream`, which allocates two 64 KiB buffers per
    * frame: on the 500 q_lz4_roundtrip values (sf0.01, same JVM,
    * interleaved, 9 reps × 20 passes, 4-core host, JDK 17) it took
    * 12.8 ms per pass, this writer 1.0 ms.
    */
  def encodeFrame(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    def w32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
    }
    w32(FrameMagic)
    val desc = new Array[Byte](10)
    desc(0) = 0x6c.toByte // v01 | B.Indep | C.Size | C.Checksum
    desc(1) = 0x40.toByte // BD: 64 KiB max block
    var i = 0
    while (i < 8) {
      desc(2 + i) = ((data.length.toLong >> (8 * i)) & 0xff).toByte
      i += 1
    }
    out.write(desc, 0, 10)
    out.write((xxhash32(desc, 0, 10, 0) >>> 8) & 0xff)
    val Block = 64 << 10
    val buf = new Array[Byte](
      blockCompressor.maxCompressedLength(math.min(Block, data.length)))
    var p = 0
    while (p < data.length) {
      val n = math.min(Block, data.length - p)
      val c = blockCompressor.compress(data, p, n, buf, 0, buf.length)
      if (c < n) { w32(c); out.write(buf, 0, c) }
      else { w32(n | 0x80000000); out.write(data, p, n) }
      p += n
    }
    w32(0) // EndMark
    w32(xxhash32(data, 0, data.length, 0))
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Spark plumbing (mirrors the gzip/zstd roundtrip queries)
  // ---------------------------------------------------------------

  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types._

  val lz4TextSchema: StructType = StructType(Seq(
    StructField("lz4_text", StringType)))

  def decodeLz4Text(bytes: Array[Byte]): Seq[Any] =
    decodeFrame(bytes) match {
      case Some(d) => Seq(new String(d,
        java.nio.charset.StandardCharsets.UTF_8))
      case None => Seq(null)
    }

  /** Per-row synth: encode the text column as one LZ4 frame. */
  def synthLz4(df: DataFrame, textCol: String, outCol: String)
      : DataFrame = {
    val ti = df.schema.fieldIndex(textCol)
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        Row.fromSeq(r.toSeq :+ encodeFrame(
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
    }(enc)
  }
}
