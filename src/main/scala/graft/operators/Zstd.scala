package graft.operators

import com.github.luben.zstd.{ZstdCompressCtx, ZstdDecompressCtx}
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
  * Fixture side: [[compress]] writes entropy-coded frames with
  * zstd-jni; [[encodeFrame]] writes the raw/RLE frames (any header
  * field width, planted dictionary ids) that libzstd cannot write.
  * Golden frames produced by the reference zstd implementation pin
  * the decode (ZstdEntropySpec resources).
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
  // encoder (fixture side)
  // ------------------------------------------------------------------

  /** Raw/RLE frame writer over `data`: blocks of ≤ `blockSize`, any
    * block whose bytes are all equal emitted as RLE, others raw. Kept
    * beside [[compress]] because zstd-jni exposes neither the field
    * widths nor a dictionary id without a dictionary.
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

  /** Idle encoder contexts, reused like the decoders' (at most one per
    * core): a fresh native context costs a third of a small frame's
    * encode. Every call sets all three parameters, and each `compress`
    * starts a new frame, so a reused context writes the bytes a fresh
    * one writes. */
  private val idleEncoders = new java.util.concurrent.ArrayBlockingQueue[
    ZstdCompressCtx](Runtime.getRuntime.availableProcessors)

  /** One zstd-jni frame at level 3: entropy-coded blocks (raw when a
    * block does not shrink), the XXH64 checksum when `checksum`, the
    * content size when `contentSize` (a sized frame of one segment
    * drops the window descriptor).
    */
  def compress(data: Array[Byte], checksum: Boolean = true,
      contentSize: Boolean = true): Array[Byte] = {
    val ctx = Option(idleEncoders.poll()).getOrElse(new ZstdCompressCtx)
    try ctx.setLevel(3).setChecksum(checksum).setContentSize(contentSize)
      .compress(data)
    finally if (!idleEncoders.offer(ctx)) ctx.close()
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

  /** Per-row entropy-frame synthesizer: one [[compress]] frame per
    * doc, `selCol` cycling the checksum (odd) and dropping the content
    * size (bit 1), so sized and size-less frames both face the oracle.
    */
  def synthZstdEntropy(df: DataFrame, textCol: String, selCol: String,
      outCol: String): DataFrame = {
    val (ti, si) = (df.schema.fieldIndex(textCol),
      df.schema.fieldIndex(selCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        val sel = r.getInt(si)
        val frame = compress(text.getBytes("UTF-8"),
          checksum = sel % 2 == 1, contentSize = (sel >> 1) % 2 == 0)
        Row.fromSeq(r.toSeq :+ frame)
      }
    }(enc)
  }
}
