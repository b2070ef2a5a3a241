package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Unix compress(1) `.Z` — LZW with variable 9..16-bit codes, LSB-
  * first bit packing, and block mode's CLEAR code (256). The format
  * is public (the ncompress sources and the gzip manual document
  * it); old corpora and FTP mirrors still carry it.
  *
  * The infamous historical quirk is honored on both sides: the
  * original compress buffers codes in groups of eight, so whenever
  * the code width changes (or a CLEAR resets it) the bit position
  * must jump to the next multiple of `oldWidth × 8` bits — a
  * decoder without the realignment desynchronizes on any file the
  * real tool wrote. [[LzwGoldenSpec]]'s TIFF/GIF LZW is a different
  * dialect (MSB-first, early-change) and shares nothing here.
  *
  * Pinning: the system `uncompress` (gzip 1.12) decodes this
  * writer's output byte-exactly — recorded at generation time by
  * UnixZPinGen. No compress(1) encoder exists here (probed:
  * ncompress absent, gzip cannot write .Z), so the forward
  * direction is covered by the writer/decoder round-trip plus the
  * realignment trap the reference decoder enforces.
  *
  * Why not commons-compress `ZCompressorInputStream` (on Spark's
  * classpath): it decodes this writer's output, but in a same-JVM,
  * interleaved A/B on q_z_roundtrip's 500 streams (median of 9
  * reps, 4-core host) it took ~33 ms per pass against ~27 ms here:
  * it allocates ~390 KiB of 16-bit code tables per stream (measured
  * on a ~370-byte text). A codec whose jar decode is slower keeps
  * its from-spec decoder.
  *
  * Totality: None on damage; [[CodecGuard.MaxOut]] output guard.
  */
object UnixZ {

  import CodecGuard.MaxOut
  private val Clear = 256

  /** Decode a .Z stream. None on damage or a non-.Z payload. */
  def decompress(b: Array[Byte]): Option[Array[Byte]] =
    try decompress0(b)
    catch { // totality: damage refuses, never crashes
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  private def decompress0(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 3) return None
    if ((b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x9d) return None
    val flags = b(2) & 0xff
    val maxBits = flags & 0x1f
    val blockMode = (flags & 0x80) != 0
    if (maxBits < 9 || maxBits > 16) return None
    val out = new java.io.ByteArrayOutputStream(b.length * 3)
    // code table: prefix code + appended byte
    val maxEntries = 1 << maxBits
    val prefix = new Array[Int](maxEntries)
    val suffix = new Array[Byte](maxEntries)
    var nextFree = if (blockMode) 257 else 256
    var nBits = 9
    var posBits = 3 * 8 // bit cursor past the header
    var segBase = 3 * 8 // gzip rebases to a byte after each change
    val totalBits = b.length.toLong * 8
    var oldCode = -1
    var finChar = 0
    val stack = new Array[Byte](maxEntries + 16)

    def align(): Unit = {
      // the 8-code-group quirk: round up to a multiple of the OLD
      // width × 8 bits, relative to the LAST width-change/clear
      // point (gzip's resetbuf rebases there); a full segment
      // (256×9, 512×10, …) is already aligned, so clear-free
      // streams never skip bits
      val group = nBits * 8
      val rem = (posBits - segBase) % group
      if (rem != 0) posBits += group - rem
      segBase = posBits
    }

    val firstEntry = if (blockMode) 257 else 256
    while (posBits + nBits <= totalBits) {
      // read nBits LSB-first at posBits
      val byteOff = (posBits >> 3).toInt
      val bitOff = (posBits & 7).toInt
      var v = 0L
      var i = 0
      while (i < 3 && byteOff + i < b.length) {
        v |= (b(byteOff + i) & 0xffL) << (8 * i)
        i += 1
      }
      val code = ((v >> bitOff) & ((1 << nBits) - 1)).toInt
      posBits += nBits

      if (blockMode && code == Clear) {
        align()
        nextFree = 257
        nBits = 9
        oldCode = -1
      } else {
        if (code > nextFree) return None // gap: corrupt
        if (code == nextFree && oldCode < 0) return None
        var sp = 0
        var cur = code
        if (code == nextFree) { // the KwKwK case
          stack(sp) = finChar.toByte
          sp += 1
          cur = oldCode
        }
        while (cur >= firstEntry) {
          if (cur >= nextFree) return None
          stack(sp) = suffix(cur)
          sp += 1
          if (sp >= stack.length) return None
          cur = prefix(cur)
        }
        if (blockMode && cur == Clear) return None // stale chain
        finChar = cur & 0xff
        stack(sp) = finChar.toByte
        sp += 1
        var k = sp - 1
        while (k >= 0) {
          out.write(stack(k))
          k -= 1
        }
        if (out.size > MaxOut) return None
        if (oldCode >= 0 && nextFree < maxEntries) {
          prefix(nextFree) = oldCode
          suffix(nextFree) = finChar.toByte
          nextFree += 1
          if (nextFree == (1 << nBits) && nBits < maxBits) {
            align()
            nBits += 1
          }
        }
        oldCode = code
      }
    }
    Some(out.toByteArray)
  }

  /** Encode to .Z exactly as compress(1) lays it out: block mode,
    * maxbits 16, the 8-code-group realignment on width change.
    */
  def compress(data: Array[Byte]): Array[Byte] = {
    val maxBits = 16
    val out = new java.io.ByteArrayOutputStream(
      data.length / 2 + 16)
    out.write(0x1f); out.write(0x9d); out.write(0x80 | maxBits)
    var bitBuf = 0L
    var bitCnt = 0
    var posBits = 0L // bits emitted after the header
    var segBase = 0L // last width-change point (see decoder align)
    var nBits = 9
    def flushByte(): Unit =
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt)
        bitBuf >>= 8
        bitCnt -= 8
      }
    def putCode(c: Int): Unit = {
      bitBuf |= c.toLong << bitCnt
      bitCnt += nBits
      posBits += nBits
      flushByte()
    }
    def align(): Unit = {
      // segment-relative 8-code-group padding; zero for the full
      // segments a clear-free encoder produces (kept for symmetry
      // with the decoder and the reference)
      val group = nBits * 8
      val rem = (posBits - segBase) % group
      if (rem != 0) {
        val pad = group - rem
        bitCnt += pad.toInt
        posBits += pad
        flushByte()
      }
      segBase = posBits
    }
    // dictionary: (prefixCode, byte) -> code
    val dict = new java.util.HashMap[Long, Integer](1 << 17)
    var nextFree = 257
    var cur = -1
    var i = 0
    while (i < data.length) {
      val c = data(i) & 0xff
      if (cur < 0) cur = c
      else {
        val key = (cur.toLong << 8) | c
        val hit = dict.get(key)
        if (hit != null) cur = hit.intValue()
        else {
          putCode(cur)
          if (nextFree < (1 << maxBits)) {
            dict.put(key, Integer.valueOf(nextFree))
            nextFree += 1
            // the WIDTH of the just-emitted code space grows when
            // nextFree outruns it (compress grows after assigning)
            if (nextFree - 1 == (1 << nBits) && nBits < maxBits) {
              align()
              nBits += 1
            }
          }
          cur = c
        }
      }
      i += 1
    }
    if (cur >= 0) putCode(cur)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Spark plumbing
  // ---------------------------------------------------------------

  val zTextSchema: StructType = StructType(Seq(
    StructField("z_text", StringType)))

  def decodeZText(bytes: Array[Byte]): Seq[Any] =
    decompress(bytes) match {
      case Some(d) => Seq(new String(d,
        java.nio.charset.StandardCharsets.UTF_8))
      case None => Seq(null)
    }

  def synthZ(df: DataFrame, textCol: String, outCol: String)
      : DataFrame = {
    val ti = df.schema.fieldIndex(textCol)
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        Row.fromSeq(r.toSeq :+ compress(
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
    }(enc)
  }
}
