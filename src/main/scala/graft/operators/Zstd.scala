package graft.operators

import com.github.luben.zstd.ZstdDecompressCtx
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Zstandard (RFC 8878) — Common Crawl distribution is moving to
  * zstd. Decoding is zstd-jni, the libzstd binding on Spark's
  * classpath, with one exception kept here: a frame of raw/RLE
  * blocks only is copied by the container walk ([[walkFrame]]),
  * because libzstd refuses every frame whose header carries a
  * dictionary id ("Dictionary mismatch"), even one that needs no
  * dictionary, and [[synthZstd]] plants exactly such frames. The
  * stored content checksum (low 32 bits of XXH64) is verified on
  * both paths: a frame whose stored checksum lies classifies as
  * None, never as silently-wrong bytes.
  *
  * [[frameMeta]] surfaces the container layer (frame headers, block
  * types, planted dictionary ids) without decoding anything.
  *
  * The fixture side has a real compressed-block encoder — hash-chain
  * LZ77 matching, per-block canonical Huffman literals with
  * direct-weight descriptions, and sequences coded through the
  * predefined FSE tables (states encoded last-symbol-first) — so the
  * oracle queries face genuinely entropy-coded frames; golden frames
  * produced by the reference zstd implementation pin the decode
  * (ZstdEntropySpec resources).
  */
object Zstd {

  import CodecGuard.MaxOut

  private val Magic = 0xfd2fb528L
  private val SkippableMin = 0x184d2a50L
  private val SkippableMax = 0x184d2a5fL
  private val MaxFrames = 4096
  private val MaxBlocks = 1 << 20
  /** Block_Maximum_Size (RFC 8878 §3.1.1.2.4): no block decodes to
    * more, whatever window the frame declares.
    */
  private val MaxBlock = 128 << 10

  private final case class ZstdFail(why: String)
    extends RuntimeException(why, null, false, false)
  private def fail(why: String): Nothing = throw ZstdFail(why)

  private def highBit(v: Int): Int =
    31 - Integer.numberOfLeadingZeros(v)

  /** One frame's container metadata. `contentSize` −1 when the
    * header does not declare it; `dictId` 0 when absent;
    * `checksum` −1 unless the checksum flag is set (then the stored
    * 32-bit value); skippable frames carry only `skipSize`.
    */
  final case class ZstdFrame(skippable: Boolean, skipSize: Long,
    contentSize: Long, windowSize: Long, dictId: Long,
    nBlocks: Int, nRaw: Int, nRle: Int, nCompressed: Int,
    hasChecksum: Boolean, checksum: Long)

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def leN(b: Array[Byte], o: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v |= (b(o + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  private val xxh64 =
    net.jpountz.xxhash.XXHashFactory.safeInstance().hash64()

  /** XXH64 over `b[off, off+len)` with `seed` — zstd's content
    * checksum is the low 32 bits of this at seed 0.
    */
  def xxhash64(b: Array[Byte], off: Int, len: Int,
      seed: Long = 0L): Long = xxh64.hash(b, off, len, seed)

  // ------------------------------------------------------------------
  // FSE / Huffman tables shared by the entropy encoder
  // ------------------------------------------------------------------

  /** Classic FSE symbol spread: "less than 1" symbols one cell each
    * at the top (full-reset state), the rest spread with the
    * standard step — the cell order the encoder's state table
    * follows.
    */
  private def fseSpread(norm: Array[Int], accLog: Int): Array[Int] = {
    val size = 1 << accLog
    val sym = new Array[Int](size)
    var highThreshold = size - 1
    var s = 0
    while (s < norm.length) {
      if (norm(s) == -1) {
        if (highThreshold < 0) fail("fse lowprob overflow")
        sym(highThreshold) = s
        highThreshold -= 1
      }
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < norm.length) {
      var i = 0
      while (i < norm(s)) {
        sym(pos) = s
        pos = (pos + step) & mask
        while (pos > highThreshold) pos = (pos + step) & mask
        i += 1
      }
      s += 1
    }
    if (pos != 0) fail("fse spread incomplete")
    sym
  }

  // RFC 8878 predefined distributions (§3.1.1.3.2.2)
  private val LLnorm = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2,
    1, 1, 1, 2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1)
  private val MLnorm = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OFnorm = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)

  // literals-length / match-length code baselines + extra bits
  private val LLbase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11,
    12, 13, 14, 15, 16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128,
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768, 65536)
  private val LLbits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13,
    14, 15, 16)
  private val MLbase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13,
    14, 15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29,
    30, 31, 32, 33, 34, 35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99,
    131, 259, 515, 1027, 2051, 4099, 8195, 16387, 32771, 65539)
  private val MLbits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1,
    1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  private final class HufTable(val log: Int, val sym: Array[Byte],
    val len: Array[Byte]) {
    /** (code value, code length) per symbol — the encoder derives
      * its codes from the canonical table a decoder builds from the
      * same weights, one source of truth for the assignment.
      */
    lazy val codes: Array[(Int, Int)] = {
      val c = new Array[(Int, Int)](256)
      var p = 0
      while (p < sym.length) {
        val s = sym(p) & 0xff
        val l = len(p)
        if (c(s) == null) c(s) = (p >>> (log - l), l)
        p += (1 << (log - l))
      }
      c
    }
  }

  /** Weights → canonical decode table. The LAST present symbol's
    * weight is implied (the remainder must be a power of two); fill
    * order is (weight ascending, symbol ascending) per the RFC.
    */
  private def hufFromWeights(weights: Array[Int]): HufTable = {
    val n = weights.length
    if (n < 1 || n > 255) fail("huf weight count")
    var total = 0L
    var i = 0
    while (i < n) {
      val w = weights(i)
      if (w < 0 || w > 11) fail("huf weight range")
      if (w > 0) total += 1L << (w - 1)
      i += 1
    }
    if (total == 0) fail("huf all-zero weights")
    val log = highBit(total.toInt) + 1
    if (log > 11) fail("huf table log too large")
    val rest = (1L << log) - total
    if (rest <= 0 || (rest & (rest - 1)) != 0) fail("huf weights sum")
    val lastW = highBit(rest.toInt) + 1
    val all = java.util.Arrays.copyOf(weights, n + 1)
    all(n) = lastW
    val size = 1 << log
    val sym = new Array[Byte](size)
    val len = new Array[Byte](size)
    var pos = 0
    var w = 1
    while (w <= log) {
      var s = 0
      while (s <= n) {
        if (all(s) == w) {
          val span = 1 << (w - 1)
          val l = (log + 1 - w).toByte
          var k = 0
          while (k < span) {
            sym(pos) = s.toByte
            len(pos) = l
            pos += 1
            k += 1
          }
        }
        s += 1
      }
      w += 1
    }
    if (pos != size) fail("huf table underfull")
    new HufTable(log, sym, len)
  }

  // ------------------------------------------------------------------
  // container walk
  // ------------------------------------------------------------------

  /** Growable decode output: raw/RLE copies and zstd-jni's one-shot
    * decodes land here. Doubles up to the global bomb cap.
    */
  private final class ByteBuf {
    var a = new Array[Byte](1 << 12)
    var n = 0
    def ensure(extra: Int): Unit = {
      if (extra < 0 || n + extra > MaxOut) fail("decode bomb")
      if (n + extra > a.length) {
        var c = a.length
        while (c < n + extra) c <<= 1
        a = java.util.Arrays.copyOf(a, c)
      }
    }
    def append(src: Array[Byte], off: Int, len: Int): Unit = {
      ensure(len)
      System.arraycopy(src, off, a, n, len)
      n += len
    }
    def fill(v: Byte, len: Int): Unit = {
      ensure(len)
      java.util.Arrays.fill(a, n, n + len, v)
      n += len
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, n)
  }

  /** Walk one frame starting at `p0`; returns (frame, next offset).
    * `sink` receives the frame's content when non-null: a frame of
    * raw/RLE blocks only is copied here, with the declared content
    * size and the stored checksum (low 32 bits of XXH64) VERIFIED; a
    * frame with a compressed block is decoded by zstd-jni instead.
    */
  private def walkFrame(b: Array[Byte], p0: Int,
      sink: ByteBuf): (ZstdFrame, Int) = {
    var p = p0
    if (p + 4 > b.length) fail("truncated magic")
    val magic = le32(b, p)
    p += 4
    if (magic >= SkippableMin && magic <= SkippableMax) {
      if (p + 4 > b.length) fail("truncated skippable size")
      val sz = le32(b, p)
      p += 4
      if (sz < 0 || p + sz > b.length) fail("skippable oob")
      return (ZstdFrame(skippable = true, sz, -1L, -1L, 0L, 0, 0, 0,
        0, hasChecksum = false, -1L), (p + sz).toInt)
    }
    if (magic != Magic) fail("bad magic")
    if (p >= b.length) fail("truncated descriptor")
    val fhd = b(p) & 0xff
    p += 1
    val fcsFlag = (fhd >> 6) & 3
    val singleSegment = (fhd & 0x20) != 0
    if ((fhd & 0x08) != 0) fail("reserved descriptor bit")
    val checksumFlag = (fhd & 0x04) != 0
    val dictFlag = fhd & 3
    var windowSize = -1L
    if (!singleSegment) {
      if (p >= b.length) fail("truncated window descriptor")
      val wd = b(p) & 0xff
      p += 1
      val exp = 10 + (wd >> 3)
      val mantissa = wd & 7
      if (exp > 41) fail("window too large")
      val base = 1L << exp
      windowSize = base + (base / 8) * mantissa
    }
    val dictBytes = dictFlag match {
      case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
    }
    if (p + dictBytes > b.length) fail("truncated dict id")
    val dictId = if (dictBytes == 0) 0L else leN(b, p, dictBytes)
    p += dictBytes
    val fcsBytes = fcsFlag match {
      case 0 => if (singleSegment) 1 else 0
      case 1 => 2
      case 2 => 4
      case _ => 8
    }
    if (p + fcsBytes > b.length) fail("truncated content size")
    var contentSize = -1L
    if (fcsBytes > 0) {
      contentSize = leN(b, p, fcsBytes)
      if (fcsBytes == 2) contentSize += 256
      if (contentSize < 0) fail("content size overflow")
      p += fcsBytes
    }
    if (singleSegment) windowSize = contentSize
    val frameStart = if (sink != null) sink.n else 0
    var nBlocks = 0; var nRaw = 0; var nRle = 0; var nComp = 0
    var last = false
    var decoded = 0L
    while (!last) {
      if (p + 3 > b.length) fail("truncated block header")
      val hdr = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16)
      p += 3
      last = (hdr & 1) != 0
      val typ = ((hdr >> 1) & 3).toInt
      val size = (hdr >> 3).toInt
      nBlocks += 1
      if (nBlocks > MaxBlocks) fail("block bomb")
      typ match {
        case 0 => // raw
          if (p + size > b.length) fail("raw block oob")
          if (sink != null && nComp == 0) sink.append(b, p, size)
          decoded += size
          p += size
          nRaw += 1
        case 1 => // RLE: one byte, repeated `size` times
          if (p >= b.length) fail("rle block oob")
          if (size < 0 || decoded + size > MaxOut)
            fail("rle bomb")
          if (sink != null && nComp == 0) sink.fill(b(p), size)
          decoded += size
          p += 1
          nRle += 1
        case 2 => // entropy-compressed: the frame goes to zstd-jni
          if (p + size > b.length) fail("compressed block oob")
          p += size
          nComp += 1
        case _ => fail("reserved block type")
      }
      if (decoded > MaxOut) fail("decode bomb")
    }
    var checksum = -1L
    if (checksumFlag) {
      if (p + 4 > b.length) fail("truncated checksum")
      checksum = le32(b, p)
      p += 4
    }
    if (sink != null && nComp > 0) {
      // the walk bounds the output of any valid frame before a byte
      // is allocated; zstd-jni verifies the content size and checksum
      val bound = decoded + nComp.toLong * MaxBlock
      if (contentSize > bound) fail("content size past the block bound")
      sink.n = frameStart
      jarDecode(b, p0, p, contentSize, bound, sink)
    } else if (sink != null) {
      if (contentSize >= 0 && decoded != contentSize)
        fail("content size mismatch")
      if (checksumFlag && checksum != (xxhash64(sink.a, frameStart,
          sink.n - frameStart) & 0xffffffffL))
        fail("content checksum mismatch")
    }
    (ZstdFrame(skippable = false, -1L, contentSize, windowSize,
      dictId, nBlocks, nRaw, nRle, nComp, checksumFlag, checksum), p)
  }

  /** Container walk over every frame (skippables included). None
    * for non-zstd or structurally corrupt input.
    */
  def frameMeta(b: Array[Byte]): Option[Seq[ZstdFrame]] = {
    if (b == null || b.length < 4) return None
    val m = le32(b, 0)
    if (m != Magic && !(m >= SkippableMin && m <= SkippableMax))
      return None
    try {
      val out = Seq.newBuilder[ZstdFrame]
      var p = 0
      var n = 0
      while (p < b.length) {
        val (f, next) = walkFrame(b, p, null)
        out += f
        p = next
        n += 1
        if (n > MaxFrames) fail("frame bomb")
      }
      Some(out.result())
    } catch {
      case ZstdFail(_) => None
      case _: IndexOutOfBoundsException => None
    }
  }

  /** A zstd-jni context with its scratch output. Creating a native
    * context costs more than decoding a small frame, so idle ones are
    * reused: at most one per core, the rest are closed.
    */
  private final class JarDecoder {
    val ctx = new ZstdDecompressCtx
    var scratch = new Array[Byte](0)
  }
  private val idle = new java.util.concurrent.ArrayBlockingQueue[
    JarDecoder](Runtime.getRuntime.availableProcessors)
  /** Largest scratch an idle decoder keeps: eight blocks. */
  private val ScratchKeep = 8 * MaxBlock

  /** Decode one frame `b[from, until)` that holds a compressed block
    * with zstd-jni, one-shot, into `sink`. A declared `contentSize`
    * is exact, so the frame decodes in place; otherwise `bound` (128
    * KiB a block) is loose, so it decodes into the reused scratch and
    * only its output is copied. The one-shot decode allocates no
    * window, so neither a missing size nor a large window is refused;
    * output past the room (cut at the output cap) makes libzstd throw.
    */
  private def jarDecode(b: Array[Byte], from: Int, until: Int,
      contentSize: Long, bound: Long, sink: ByteBuf): Unit = {
    val room = math.min(if (contentSize >= 0) contentSize else bound,
      (MaxOut - sink.n).toLong).toInt
    val d = Option(idle.poll()).getOrElse(new JarDecoder)
    try {
      if (contentSize >= 0) {
        sink.ensure(room)
        sink.n += d.ctx.decompressByteArray(sink.a, sink.n, room, b, from,
          until - from)
      } else {
        if (d.scratch.length < room) d.scratch = new Array[Byte](room)
        val n = d.ctx.decompressByteArray(d.scratch, 0, room, b, from,
          until - from)
        sink.append(d.scratch, 0, n)
      }
    } finally {
      if (d.scratch.length > ScratchKeep) d.scratch = new Array[Byte](0)
      if (!idle.offer(d)) d.ctx.close()
    }
  }

  /** Full decode: the concatenated content of every non-skippable
    * frame, stored checksums verified. None when the container is
    * corrupt, a checksum lies, the output passes the cap, or a frame
    * needs an external dictionary.
    */
  def decompress(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 4) return None
    val m = le32(b, 0)
    if (m != Magic && !(m >= SkippableMin && m <= SkippableMax))
      return None
    CodecGuard.guard {
      val sink = new ByteBuf
      var p = 0
      var n = 0
      while (p < b.length) {
        p = walkFrame(b, p, sink)._2
        n += 1
        if (n > MaxFrames) fail("frame bomb")
      }
      Some(sink.toArray)
    }
  }

  // ------------------------------------------------------------------
  // encoder (fixture side) — stored blocks
  // ------------------------------------------------------------------

  /** Frame writer over `data`: blocks of ≤ `blockSize`, any block
    * whose bytes are all equal emitted as RLE, others raw.
    * `fcsSel` cycles the content-size field width (0 none/1-byte,
    * 1 two-byte, 2 four-byte, 3 eight-byte), `dictSel` the dict-id
    * width with the planted id, `withChecksum` appends the stored
    * 32-bit checksum field (now VERIFIED by decompress — pass the
    * true XXH64 low32, or a lie to exercise the refusal),
    * `singleSegment` drops the window descriptor.
    */
  def encodeFrame(data: Array[Byte], blockSize: Int = 96,
      singleSegment: Boolean = false, fcsSel: Int = 2,
      dictSel: Int = 0, dictId: Long = 0L,
      withChecksum: Boolean = false, checksum: Long = 0L)
      : Array[Byte] = {
    require(blockSize > 0, "blockSize")
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def wle(v: Long, n: Int): Unit = {
      var i = 0
      while (i < n) { w8((v >> (8 * i)).toInt); i += 1 }
    }
    wle(Magic, 4)
    val fcs = math.floorMod(fcsSel, 4)
    // fcs 0 without single-segment means "no content size field";
    // with single-segment a 1-byte field (content must fit)
    val fcsOk =
      if (fcs == 0 && singleSegment) data.length < 256
      else if (fcs == 1) data.length + 256 >= 256 // 2-byte: 256..65791
      else true
    val useFcs =
      if (!fcsOk) 2
      else if (fcs == 1 && (data.length < 256 ||
        data.length > 65535 + 256)) 2
      else fcs
    val dsel = math.floorMod(dictSel, 4)
    val fhd = (useFcs << 6) | (if (singleSegment) 0x20 else 0) |
      (if (withChecksum) 0x04 else 0) | dsel
    w8(fhd)
    if (!singleSegment) {
      // smallest window ≥ max(data, 1KB): exponent-only descriptor
      var exp = 10
      while ((1L << exp) < data.length && exp < 41) exp += 1
      w8((exp - 10) << 3)
    }
    dsel match {
      case 0 => ()
      case 1 => wle(dictId, 1)
      case 2 => wle(dictId, 2)
      case _ => wle(dictId, 4)
    }
    useFcs match {
      case 0 => if (singleSegment) wle(data.length.toLong, 1)
      case 1 => wle(data.length.toLong - 256, 2)
      case 2 => wle(data.length.toLong, 4)
      case _ => wle(data.length.toLong, 8)
    }
    // blocks
    if (data.isEmpty) {
      wle(1L, 3) // one empty raw block, last
    } else {
      var off = 0
      while (off < data.length) {
        val n = math.min(blockSize, data.length - off)
        val isLast = off + n >= data.length
        var allEq = true
        var i = off + 1
        while (i < off + n && allEq) {
          if (data(i) != data(off)) allEq = false
          i += 1
        }
        if (allEq && n >= 4) { // RLE block
          wle((n.toLong << 3) | 2L | (if (isLast) 1L else 0L), 3)
          w8(data(off))
        } else {
          wle((n.toLong << 3) | (if (isLast) 1L else 0L), 3)
          out.write(data, off, n)
        }
        off += n
      }
    }
    if (withChecksum) wle(checksum, 4)
    out.toByteArray
  }

  /** Skippable frame (metadata carrier) around opaque payload. */
  def encodeSkippable(payload: Array[Byte], nibble: Int = 0)
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wle(v: Long, n: Int): Unit = {
      var i = 0
      while (i < n) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    wle(SkippableMin + math.floorMod(nibble, 16), 4)
    wle(payload.length.toLong, 4)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // encoder (fixture side) — entropy-compressed blocks
  // ------------------------------------------------------------------

  /** Forward LSB-first bit writer; `finish` appends the sentinel
    * 1-bit and zero-pads, producing a stream a zstd decoder consumes
    * top-down.
    */
  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nb = 0
    def write(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >>> i) & 1) << nb
        nb += 1
        if (nb == 8) { buf.write(cur); cur = 0; nb = 0 }
        i += 1
      }
    }
    def finish(): Array[Byte] = {
      write(1, 1)
      if (nb > 0) { buf.write(cur); cur = 0; nb = 0 }
      buf.toByteArray
    }
  }

  /** FSE encode tables for the predefined distributions — classic
    * CTable build (cumulative spread positions, per-symbol
    * deltaNbBits/deltaFindState). Symbols are encoded last-first;
    * the bits written at each step are exactly what the decoder's
    * post-emit state update reads.
    */
  private final class FseEnc(norm: Array[Int], accLog: Int) {
    private val size = 1 << accLog
    private val spread = fseSpread(norm, accLog)
    private val stateTable = new Array[Int](size)
    private val deltaNb = new Array[Int](norm.length)
    private val deltaFind = new Array[Int](norm.length)
    locally {
      val cumul = new Array[Int](norm.length + 1)
      var s = 0
      while (s < norm.length) {
        cumul(s + 1) = cumul(s) +
          (if (norm(s) == -1) 1 else norm(s))
        s += 1
      }
      val cum = cumul.clone()
      var u = 0
      while (u < size) {
        val sy = spread(u)
        stateTable(cum(sy)) = size + u
        cum(sy) += 1
        u += 1
      }
      var total = 0
      s = 0
      while (s < norm.length) {
        norm(s) match {
          case 0 =>
            deltaNb(s) = ((accLog + 1) << 16) - size
          case -1 | 1 =>
            deltaNb(s) = (accLog << 16) - size
            deltaFind(s) = total - 1
            total += 1
          case n =>
            val maxBitsOut = accLog - highBit(n - 1)
            val minStatePlus = n << maxBitsOut
            deltaNb(s) = (maxBitsOut << 16) - minStatePlus
            deltaFind(s) = total - n
            total += n
        }
        s += 1
      }
    }
    def init(sym: Int): Int = {
      val nbBits = (deltaNb(sym) + (1 << 15)) >> 16
      val v = (nbBits << 16) - deltaNb(sym)
      stateTable((v >>> nbBits) + deltaFind(sym))
    }
    def encode(state: Int, sym: Int, bw: BitWriter): Int = {
      val nbBits = (state + deltaNb(sym)) >> 16
      bw.write(state & ((1 << nbBits) - 1), nbBits)
      stateTable((state >>> nbBits) + deltaFind(sym))
    }
    def flush(state: Int, bw: BitWriter): Unit =
      bw.write(state & (size - 1), accLog)
  }

  private lazy val LLenc = new FseEnc(LLnorm, 6)
  private lazy val MLenc = new FseEnc(MLnorm, 6)
  private lazy val OFenc = new FseEnc(OFnorm, 5)

  private def llCodeOf(v: Int): Int = {
    if (v < 16) return v
    var c = 35
    while (LLbase(c) > v) c -= 1
    c
  }
  private def mlCodeOf(v: Int): Int = {
    if (v - 3 < 32) return v - 3
    var c = 52
    while (MLbase(c) > v) c -= 1
    c
  }

  private final case class LzSeq(ll: Int, off: Int, ml: Int)

  /** Greedy hash-chain LZ77 over one block: 4-byte probes into a
    * most-recent-position table, matches extended byte-wise, min
    * match 4, lengths capped inside the ML code range. Offsets are
    * always emitted as new (offset+3 coding) — the decoder's
    * repeat-offset slots are exercised by the reference-zstd golden
    * fixtures instead.
    */
  private def lz77(data: Array[Byte], from: Int, to: Int)
      : (Array[Byte], Seq[LzSeq]) = {
    val tabBits = 15
    val tab = new Array[Int](1 << tabBits)
    java.util.Arrays.fill(tab, -1)
    val seqs = Seq.newBuilder[LzSeq]
    val lits = new java.io.ByteArrayOutputStream()
    var i = from
    var lastLit = from
    while (i + 4 <= to) {
      val h = (((data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) |
        ((data(i + 3) & 0xff) << 24)) * -1640531527) >>> (32 - tabBits)
      val cand = tab(h)
      tab(h) = i
      if (cand >= from && i - cand <= (1 << 24) &&
        data(cand) == data(i) && data(cand + 1) == data(i + 1) &&
        data(cand + 2) == data(i + 2) &&
        data(cand + 3) == data(i + 3)) {
        var len = 4
        while (i + len < to && len < 131070 &&
          data(cand + len) == data(i + len)) len += 1
        lits.write(data, lastLit, i - lastLit)
        seqs += LzSeq(i - lastLit, i - cand, len)
        i += len
        lastLit = i
      } else i += 1
    }
    lits.write(data, lastLit, to - lastLit)
    (lits.toByteArray, seqs.result())
  }

  /** Canonical Huffman weights for `data`'s byte population with
    * the RFC limits (max code length 11, exact Kraft sum): plain
    * two-queue Huffman then clamp + lengthen-to-fit. None when the
    * population cannot be Huffman-coded under a direct-weights
    * description (fewer than 2 distinct bytes, or a symbol value
    * beyond 128 making the explicit list unexpressible).
    */
  private def hufWeightsFor(data: Array[Byte]): Option[Array[Int]] = {
    val freq = new Array[Long](256)
    var i = 0
    while (i < data.length) { freq(data(i) & 0xff) += 1; i += 1 }
    var maxSym = -1
    var distinct = 0
    i = 0
    while (i < 256) {
      if (freq(i) > 0) { maxSym = i; distinct += 1 }
      i += 1
    }
    if (distinct < 2 || maxSym > 128) return None
    // two-queue Huffman on (count, node) — deterministic tie-break
    final case class Node(count: Long, depthOf: List[Int])
    val leaves = (0 to maxSym).filter(freq(_) > 0)
      .map(s => Node(freq(s), List(s))).sortBy(_.count)
    var q1 = scala.collection.immutable.Queue(leaves: _*)
    var q2 = scala.collection.immutable.Queue.empty[Node]
    val depth = new Array[Int](maxSym + 1)
    def pop(): Node = {
      if (q2.isEmpty || (q1.nonEmpty && q1.head.count <= q2.head.count)) {
        val (n, r) = q1.dequeue; q1 = r; n
      } else { val (n, r) = q2.dequeue; q2 = r; n }
    }
    while (q1.length + q2.length > 1) {
      val a = pop(); val b = pop()
      (a.depthOf ++ b.depthOf).foreach(s => depth(s) += 1)
      q2 = q2.enqueue(Node(a.count + b.count, a.depthOf ++ b.depthOf))
    }
    // clamp to 11 then restore the exact Kraft sum in 2^-11 units
    val L = 11
    var kraft = 0L
    (0 to maxSym).foreach { s =>
      if (freq(s) > 0) {
        if (depth(s) < 1) depth(s) = 1
        if (depth(s) > L) depth(s) = L
        kraft += 1L << (L - depth(s))
      }
    }
    var iters = 0
    while (kraft > (1L << L)) {
      iters += 1
      if (iters > 4096) return None
      // lengthen the longest-coded lowest-frequency symbol that
      // still has room
      var pick = -1
      (0 to maxSym).foreach { s =>
        if (freq(s) > 0 && depth(s) < L &&
          (pick < 0 || depth(s) > depth(pick) ||
            (depth(s) == depth(pick) && freq(s) < freq(pick))))
          pick = s
      }
      if (pick < 0) return None
      kraft -= 1L << (L - depth(pick) - 1)
      depth(pick) += 1
    }
    while (kraft < (1L << L)) {
      iters += 1
      if (iters > 4096) return None
      // shorten the shortest-coded highest-frequency symbol whose
      // promotion still fits
      var pick = -1
      (0 to maxSym).foreach { s =>
        if (freq(s) > 0 && depth(s) > 1 &&
          kraft + (1L << (L - depth(s))) <= (1L << L) &&
          (pick < 0 || freq(s) > freq(pick)))
          pick = s
      }
      if (pick < 0) return None
      kraft += 1L << (L - depth(pick))
      depth(pick) -= 1
    }
    // lengths → weights against the actual max length
    var maxLen = 0
    (0 to maxSym).foreach(s => if (freq(s) > 0 && depth(s) > maxLen)
      maxLen = depth(s))
    val w = new Array[Int](maxSym + 1)
    (0 to maxSym).foreach { s =>
      w(s) = if (freq(s) == 0) 0 else maxLen + 1 - depth(s)
    }
    Some(w)
  }

  /** Huffman-compressed literals section (type 2, direct-weights
    * description, 1 or 4 streams). None when Huffman coding is
    * impossible or not smaller than raw.
    */
  private def encodeLiteralsSection(lits: Array[Byte],
      fourStreams: Boolean): Option[Array[Byte]] = {
    if (lits.length < 32) return None
    val w = hufWeightsFor(lits) match {
      case Some(x) => x
      case None => return None
    }
    val tab =
      try hufFromWeights(java.util.Arrays.copyOf(w, w.length - 1))
      catch { case ZstdFail(_) => return None }
    // description check: the implied last weight must match
    if (tab.codes(w.length - 1) == null ||
      (0 until w.length).exists(s => w(s) > 0 && tab.codes(s) == null))
      return None
    def enc(from: Int, until: Int): Array[Byte] = {
      val bw = new BitWriter
      var i = until - 1
      while (i >= from) {
        val c = tab.codes(lits(i) & 0xff)
        bw.write(c._1, c._2)
        i -= 1
      }
      bw.finish()
    }
    val desc = {
      val n = w.length - 1 // last weight implied
      val out = new java.io.ByteArrayOutputStream()
      out.write(127 + n)
      var i = 0
      while (i < n) {
        val hi = w(i)
        val lo = if (i + 1 < n) w(i + 1) else 0
        out.write((hi << 4) | lo)
        i += 2
      }
      out.toByteArray
    }
    val body = new java.io.ByteArrayOutputStream()
    body.write(desc, 0, desc.length)
    if (!fourStreams) {
      val s = enc(0, lits.length)
      body.write(s, 0, s.length)
    } else {
      val n13 = (lits.length + 3) / 4
      if (lits.length - 3 * n13 <= 0) return None
      val s1 = enc(0, n13)
      val s2 = enc(n13, 2 * n13)
      val s3 = enc(2 * n13, 3 * n13)
      val s4 = enc(3 * n13, lits.length)
      if (s1.length > 0xffff || s2.length > 0xffff ||
        s3.length > 0xffff) return None
      body.write(s1.length & 0xff); body.write(s1.length >> 8)
      body.write(s2.length & 0xff); body.write(s2.length >> 8)
      body.write(s3.length & 0xff); body.write(s3.length >> 8)
      body.write(s1, 0, s1.length); body.write(s2, 0, s2.length)
      body.write(s3, 0, s3.length); body.write(s4, 0, s4.length)
    }
    val comp = body.toByteArray
    val regen = lits.length
    if (comp.length + 5 >= regen) return None
    // 18-bit sizes, size_format 3 (4 streams) or 14-bit sf 2 is
    // enough for 1<<14; use the wide forms unconditionally
    val out = new java.io.ByteArrayOutputStream()
    if (!fourStreams) {
      // sf 0: 1 stream, 10-bit sizes — fall back to 4-stream
      // headers when too big
      if (regen < (1 << 10) && comp.length < (1 << 10)) {
        val v = 2 | (0 << 2) | (regen << 4) | (comp.length << 14)
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff)
      } else return None
    } else {
      val v = 2L | (3L << 2) | (regen.toLong << 4) |
        (comp.length.toLong << 22)
      var i = 0
      while (i < 5) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    out.write(comp, 0, comp.length)
    Some(out.toByteArray)
  }

  /** Sequences section through the predefined FSE tables: nbSeq
    * varint, modes byte 0, then the backward bitstream written in
    * the exact reverse of the decoder's read order (states
    * initialized from the last sequence, extras LL→ML→OF per
    * sequence, symbol encodes OF→ML→LL, final flushes ML→OF→LL).
    */
  private def encodeSequencesSection(seqs: Seq[LzSeq])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = seqs.length
    if (n < 128) out.write(n)
    else if (n < 0x7f00) { out.write((n >> 8) + 128); out.write(n & 0xff) }
    else { out.write(255); out.write((n - 0x7f00) & 0xff)
      out.write(((n - 0x7f00) >> 8) & 0xff) }
    if (n == 0) return out.toByteArray
    out.write(0) // all predefined
    val ll = seqs.map(q => llCodeOf(q.ll)).toArray
    val ml = seqs.map(q => mlCodeOf(q.ml)).toArray
    val of = seqs.map(q => highBit(q.off + 3)).toArray
    val bw = new BitWriter
    var sLL = LLenc.init(ll(n - 1))
    var sOF = OFenc.init(of(n - 1))
    var sML = MLenc.init(ml(n - 1))
    def extras(i: Int): Unit = {
      val q = seqs(i)
      bw.write(q.ll - LLbase(ll(i)), LLbits(ll(i)))
      bw.write(q.ml - MLbase(ml(i)), MLbits(ml(i)))
      bw.write(q.off + 3 - (1 << of(i)), of(i))
    }
    extras(n - 1)
    var i = n - 2
    while (i >= 0) {
      sOF = OFenc.encode(sOF, of(i), bw)
      sML = MLenc.encode(sML, ml(i), bw)
      sLL = LLenc.encode(sLL, ll(i), bw)
      extras(i)
      i -= 1
    }
    MLenc.flush(sML, bw)
    OFenc.flush(sOF, bw)
    LLenc.flush(sLL, bw)
    val bits = bw.finish()
    out.write(bits, 0, bits.length)
    out.toByteArray
  }

  /** One entropy-compressed block body for `data[from, until)`, or
    * None when compression does not win (caller stores raw).
    */
  private def encodeCompressedBlockBody(data: Array[Byte], from: Int,
      until: Int, fourStreams: Boolean): Option[Array[Byte]] = {
    val (lits, seqs) = lz77(data, from, until)
    val litSec = encodeLiteralsSection(lits, fourStreams)
      .getOrElse {
        // raw literals section (sequences may still win)
        if (seqs.isEmpty) return None
        val out = new java.io.ByteArrayOutputStream()
        val sz = lits.length
        out.write(((sz << 4) | (3 << 2)) & 0xff)
        out.write((sz >> 4) & 0xff)
        out.write((sz >> 12) & 0xff)
        out.write(lits, 0, lits.length)
        out.toByteArray
      }
    val seqSec = encodeSequencesSection(seqs)
    val total = litSec.length + seqSec.length
    if (total >= until - from) return None
    val out = new java.io.ByteArrayOutputStream(total)
    out.write(litSec, 0, litSec.length)
    out.write(seqSec, 0, seqSec.length)
    Some(out.toByteArray)
  }

  /** Full-fidelity frame writer with ENTROPY-compressed blocks:
    * LZ77 + Huffman literals + predefined-FSE sequences per block
    * of ≤ `blockSize`, incompressible blocks stored raw, content
    * size declared, and the true XXH64 checksum appended when
    * `withChecksum`. The output exercises the same decode path as
    * reference-encoder frames.
    */
  def encodeEntropyFrame(data: Array[Byte], blockSize: Int = 65536,
      fourStreams: Boolean = false, withChecksum: Boolean = true,
      singleSegment: Boolean = false): Array[Byte] = {
    require(blockSize > 0 && blockSize <= (1 << 17) - 1, "blockSize")
    val out = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = out.write(v & 0xff)
    def wle(v: Long, n: Int): Unit = {
      var i = 0
      while (i < n) { w8((v >> (8 * i)).toInt); i += 1 }
    }
    wle(Magic, 4)
    val fhd = (2 << 6) | (if (singleSegment) 0x20 else 0) |
      (if (withChecksum) 0x04 else 0)
    w8(fhd)
    if (!singleSegment) {
      var exp = 10
      while ((1L << exp) < data.length && exp < 41) exp += 1
      w8((exp - 10) << 3)
    }
    wle(data.length.toLong, 4)
    if (data.isEmpty) wle(1L, 3)
    else {
      var off = 0
      while (off < data.length) {
        val n = math.min(blockSize, data.length - off)
        val isLast = off + n >= data.length
        encodeCompressedBlockBody(data, off, off + n,
            fourStreams) match {
          case Some(body) =>
            wle((body.length.toLong << 3) | 4L |
              (if (isLast) 1L else 0L), 3)
            out.write(body, 0, body.length)
          case None =>
            wle((n.toLong << 3) | (if (isLast) 1L else 0L), 3)
            out.write(data, off, n)
        }
        off += n
      }
    }
    if (withChecksum)
      wle(xxhash64(data, 0, data.length) & 0xffffffffL, 4)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark plumbing
  // ------------------------------------------------------------------

  val zstdMetaSchema: StructType = StructType(Seq(
    StructField("frame_idx", IntegerType),
    StructField("skippable", BooleanType),
    StructField("content_size", LongType),
    StructField("dict_id", LongType),
    StructField("n_blocks", IntegerType),
    StructField("n_raw", IntegerType),
    StructField("n_rle", IntegerType),
    StructField("has_checksum", BooleanType),
    StructField("checksum", LongType)))

  /** One metadata row per frame (flatMap decode kernel shape — used
    * via [[zstdFrameRows]], not decodeBatches, because a stream may
    * carry several frames).
    */
  def zstdFrameRows(df: DataFrame, idCol: String,
      contentCol: String): DataFrame = {
    val (ii, ci) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(contentCol))
    val schema = StructType(df.schema.fields(ii) +:
      zstdMetaSchema.fields)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(ii)
        frameMeta(r.getAs[Array[Byte]](ci)) match {
          case Some(frames) => frames.zipWithIndex.map {
            case (f, idx) => Row(id, idx, f.skippable,
              if (f.skippable) f.skipSize else f.contentSize,
              f.dictId, f.nBlocks, f.nRaw, f.nRle, f.hasChecksum,
              f.checksum)
          }
          case None => Seq(Row(id, null, null, null, null, null,
            null, null, null, null))
        }
      }
    }(enc)
  }

  val zstdTextSchema: StructType = StructType(Seq(
    StructField("zstd_text", StringType)))

  /** Decode kernel for `Multimodal.decodeBatches`: full zstd
    * decompression back to UTF-8 text.
    */
  def decodeZstdText(bytes: Array[Byte]): Seq[Any] =
    decompress(bytes) match {
      case Some(d) => Seq[Any](new String(d, "UTF-8"))
      case None => Seq[Any](null)
    }

  /** Per-row fixture synthesizer, the CC-member-style layout:
    * [optional skippable frame] + a content frame carrying the doc
    * text (layout cycled by `selCol`: single-segment / fcs widths /
    * dict-id widths / checksum flag) + a second content frame that
    * is one pure RLE block of `runCol` 'z' bytes — so raw decode,
    * RLE decode, skippable skip, and every header-field width all
    * face the oracle. Decompression yields text ++ 'z'×run. The
    * planted checksum is the TRUE XXH64 low32 of the frame content
    * — decompress verifies it now.
    */
  def synthZstd(df: DataFrame, idCol: String, textCol: String,
      selCol: String, skipCol: String, runCol: String,
      outCol: String): DataFrame = {
    val (ii, ti, si, ki, ri) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol), df.schema.fieldIndex(selCol),
      df.schema.fieldIndex(skipCol), df.schema.fieldIndex(runCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(ii)
        val text = Option(r.getString(ti)).getOrElse("")
        val sel = r.getInt(si)
        val run = r.getInt(ri)
        val data = text.getBytes("UTF-8")
        val textFrame = encodeFrame(data,
          blockSize = 96,
          singleSegment = sel == 0,
          fcsSel = sel,
          dictSel = sel,
          dictId = if (sel == 0) 0L else id % 200 + 1,
          withChecksum = sel % 2 == 1,
          checksum = xxhash64(data, 0, data.length) & 0xffffffffL)
        val rleFrame = encodeFrame(Array.fill[Byte](run)('z'),
          blockSize = 256, fcsSel = 2)
        val head =
          if (r.getInt(ki) == 1)
            encodeSkippable(Array.fill[Byte](8)(0x5a), id.toInt)
          else Array.emptyByteArray
        Row.fromSeq(r.toSeq :+ (head ++ textFrame ++ rleFrame))
      }
    }(enc)
  }

  /** Per-row entropy-frame synthesizer: one frame per doc through
    * [[encodeEntropyFrame]], layout cycled by `selCol` (block size
    * 4 KiB vs 64 KiB, 1-stream vs 4-stream literals, single-segment
    * header, checksum on/off — the checksum is always the true
    * XXH64 when present).
    */
  def synthZstdEntropy(df: DataFrame, idCol: String,
      textCol: String, selCol: String, outCol: String): DataFrame = {
    val (ii, ti, si) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol), df.schema.fieldIndex(selCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        val sel = r.getInt(si)
        val data = text.getBytes("UTF-8")
        val frame = encodeEntropyFrame(data,
          blockSize = if (sel % 2 == 0) 4096 else 65536,
          fourStreams = (sel >> 1) % 2 == 0,
          withChecksum = sel % 3 != 0,
          singleSegment = sel % 5 == 0)
        Row.fromSeq(r.toSeq :+ frame)
      }
    }(enc)
  }
}
