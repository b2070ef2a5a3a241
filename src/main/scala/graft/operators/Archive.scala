package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Archive container codecs — the ingest-side reality that crawl
  * payloads arrive WRAPPED (zips of documents, gzipped pages):
  * real byte-level ZIP central-directory and gzip member parsing, no
  * external libraries beyond `java.util.zip.Inflater`/`CRC32` (the
  * same JDK primitives the PNG path uses). Same contract as the media
  * codecs: malformed/unsupported → None/null rows, never a thrown
  * task.
  *
  * Scale shape: both operators are map-only flatMap/map passes —
  * entry listing is archive-local, extraction touches only the
  * requested member's bytes, nothing shuffles.
  */
object Archive {

  /** One central-directory entry: `method` 0 = stored, 8 = deflate. */
  final case class ZipEntryMeta(name: String, method: Int,
      compressedSize: Long, uncompressedSize: Long, crc32: Long,
      localHeaderOffset: Long)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def le64(b: Array[Byte], o: Int): Long =
    le32(b, o) | (le32(b, o + 4) << 32)

  /** Central-directory listing via the end-of-central-directory
    * record (scanned backward through a possible trailing comment,
    * the spec-prescribed approach): entry name, method,
    * compressed/uncompressed sizes, CRC32, local-header offset.
    * ZIP64 is fully supported — the EOCD64 locator/record chain when
    * the EOCD carries 0xffff/0xffffffff sentinels, and per-entry
    * 0x0001 extended-information extra fields for sentinel
    * size/offset values (APPNOTE 4.5) — at crawl scale >4 GB
    * archives are routine. None for non-ZIP bytes, truncation, or a
    * corrupt directory.
    */
  def zipEntries(b: Array[Byte]): Option[Seq[ZipEntryMeta]] = {
    if (b == null || b.length < 22) return None
    // EOCD: 0x06054b50 within the last 64k+22 bytes
    var eocd = -1
    var p = b.length - 22
    val stop = math.max(0, b.length - 22 - 65535)
    while (p >= stop && eocd < 0) {
      if ((b(p) & 0xff) == 0x50 && (b(p + 1) & 0xff) == 0x4b &&
        (b(p + 2) & 0xff) == 0x05 && (b(p + 3) & 0xff) == 0x06)
        eocd = p
      p -= 1
    }
    if (eocd < 0) return None
    var nEntries: Long = le16(b, eocd + 10)
    var cdSize: Long = le32(b, eocd + 12)
    var cdOff: Long = le32(b, eocd + 16)
    var cdEnd: Long = eocd
    if (nEntries == 0xffffL || cdSize == 0xffffffffL ||
      cdOff == 0xffffffffL) {
      // ZIP64: the EOCD64 locator sits immediately before the EOCD
      val loc = eocd - 20
      if (loc < 0 || le32(b, loc) != 0x07064b50L) return None
      val rec = le64(b, loc + 8)
      if (rec < 0 || rec + 56 > loc ||
        le32(b, rec.toInt) != 0x06064b50L) return None
      val r = rec.toInt
      nEntries = le64(b, r + 32)
      cdSize = le64(b, r + 40)
      cdOff = le64(b, r + 48)
      cdEnd = rec
    }
    if (cdOff < 0 || cdSize < 0 || cdOff + cdSize > cdEnd ||
      nEntries > 1000000) return None
    val out = Seq.newBuilder[ZipEntryMeta]
    var q = cdOff.toInt
    var i = 0L
    try {
      while (i < nEntries) {
        if (q + 46 > cdEnd || le32(b, q) != 0x02014b50L) return None
        val method = le16(b, q + 10)
        val crc = le32(b, q + 16)
        var csize = le32(b, q + 20)
        var usize = le32(b, q + 24)
        val nameLen = le16(b, q + 28)
        val extraLen = le16(b, q + 30)
        val commentLen = le16(b, q + 32)
        var lho = le32(b, q + 42)
        if (q + 46 + nameLen + extraLen > cdEnd) return None
        val name = new String(b, q + 46, nameLen, "UTF-8")
        // ZIP64 extended info (id 0x0001): 8-byte values replace the
        // 0xffffffff sentinels, in usize/csize/lho order, present
        // only for the fields that are sentinels
        if (csize == 0xffffffffL || usize == 0xffffffffL ||
          lho == 0xffffffffL) {
          var x = q + 46 + nameLen
          val extraEnd = x + extraLen
          while (x + 4 <= extraEnd) {
            val id = le16(b, x)
            val sz = le16(b, x + 2)
            if (id == 1) {
              var f = x + 4
              val fEnd = math.min(x + 4 + sz, extraEnd)
              if (usize == 0xffffffffL && f + 8 <= fEnd) {
                usize = le64(b, f); f += 8
              }
              if (csize == 0xffffffffL && f + 8 <= fEnd) {
                csize = le64(b, f); f += 8
              }
              if (lho == 0xffffffffL && f + 8 <= fEnd) {
                lho = le64(b, f); f += 8
              }
            }
            x += 4 + sz
          }
          if (csize == 0xffffffffL || usize == 0xffffffffL ||
            lho == 0xffffffffL) return None
        }
        out += ZipEntryMeta(name, method, csize, usize, crc, lho)
        q += 46 + nameLen + extraLen + commentLen
        i += 1
      }
      Some(out.result())
    } catch {
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Extract one entry's bytes through its LOCAL header (whose name/
    * extra lengths differ from the central directory's — the classic
    * offset mistake): stored copied verbatim, deflate through a raw
    * `Inflater`, output CRC32-verified against the directory. None
    * for unsupported methods, bad data, or a CRC mismatch.
    */
  def zipExtract(b: Array[Byte], e: ZipEntryMeta)
      : Option[Array[Byte]] = {
    try {
      val p = e.localHeaderOffset.toInt
      if (p + 30 > b.length || le32(b, p) != 0x04034b50L) return None
      val nameLen = le16(b, p + 26)
      val extraLen = le16(b, p + 28)
      val dataOff = p + 30 + nameLen + extraLen
      if (dataOff + e.compressedSize > b.length) return None
      if (e.uncompressedSize > 268435456L) return None // 256 MB bomb guard
      val data: Array[Byte] = e.method match {
        case 0 =>
          if (e.compressedSize != e.uncompressedSize) return None
          java.util.Arrays.copyOfRange(b, dataOff,
            dataOff + e.compressedSize.toInt)
        case 8 =>
          val inf = new java.util.zip.Inflater(true) // raw deflate
          try {
            inf.setInput(b, dataOff, e.compressedSize.toInt)
            val out = new Array[Byte](e.uncompressedSize.toInt)
            var done = 0
            while (done < out.length && !inf.finished()) {
              val n = inf.inflate(out, done, out.length - done)
              if (n == 0 && inf.needsInput()) return None
              done += n
            }
            if (done != out.length) return None
            out
          } finally inf.end()
        case 93 =>
          // zstd entry (APPNOTE 6.3.7): a whole frame sequence
          val comp = java.util.Arrays.copyOfRange(b, dataOff,
            dataOff + e.compressedSize.toInt)
          Zstd.decompress(comp) match {
            case Some(d) if d.length == e.uncompressedSize => d
            case _ => return None
          }
        case 12 =>
          // bzip2-compressed entry (APPNOTE 4.6.x): a whole stream
          val comp = java.util.Arrays.copyOfRange(b, dataOff,
            dataOff + e.compressedSize.toInt)
          Bzip2.decompress(comp) match {
            case Some(d) if d.length == e.uncompressedSize => d
            case _ => return None
          }
        case 14 =>
          // LZMA entry (APPNOTE 5.8): version u16, props size u16,
          // props bytes (lzma props byte + dict size), raw LZMA1
          if (e.compressedSize < 9) return None
          val psz = le16(b, dataOff + 2)
          if (psz < 5 ||
            dataOff + 4 + psz > dataOff + e.compressedSize)
            return None
          val props = b(dataOff + 4) & 0xff
          Xz.lzma1Raw(b, dataOff + 4 + psz,
            dataOff + e.compressedSize.toInt, props,
            e.uncompressedSize.toInt) match {
            case Some(d) if d.length == e.uncompressedSize => d
            case _ => return None
          }
        case _ => return None
      }
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      if (crc.getValue != e.crc32) None else Some(data)
    } catch {
      case _: ArrayIndexOutOfBoundsException => None
      case _: java.util.zip.DataFormatException => None
      case _: NegativeArraySizeException => None
    }
  }

  /** One gzip member to its bytes: magic/method/flag parse (FEXTRA /
    * FNAME / FCOMMENT / FHCRC skipped per RFC 1952), raw-deflate
    * inflate, then BOTH trailer checks — CRC32 and ISIZE mod 2³². A
    * wrong trailer means truncated/corrupt content: None, not a
    * partial document.
    */
  def gunzip(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 18) return None
    if ((b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b) return None
    if ((b(2) & 0xff) != 8) return None // deflate only
    val flg = b(3) & 0xff
    try {
      var p = 10
      if ((flg & 0x04) != 0) p += 2 + le16(b, p) // FEXTRA
      if ((flg & 0x08) != 0) { while (b(p) != 0) p += 1; p += 1 } // FNAME
      if ((flg & 0x10) != 0) { while (b(p) != 0) p += 1; p += 1 } // FCOMMENT
      if ((flg & 0x02) != 0) p += 2 // FHCRC
      if (p + 8 >= b.length) return None
      val inf = new java.util.zip.Inflater(true)
      val out = new java.io.ByteArrayOutputStream()
      try {
        inf.setInput(b, p, b.length - p - 8)
        val tmp = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = inf.inflate(tmp)
          // a 0-byte return can also mean "finished on this call"
          // (empty streams) — only starvation is an error
          if (n == 0 && !inf.finished() &&
            (inf.needsInput() || inf.needsDictionary()))
            return None
          out.write(tmp, 0, n)
          if (out.size() > 268435456) return None // bomb guard
        }
      } finally inf.end()
      val data = out.toByteArray
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val tOff = b.length - 8
      if (le32(b, tOff) != crc.getValue) return None
      if (le32(b, tOff + 4) != (data.length.toLong & 0xffffffffL))
        return None
      Some(data)
    } catch {
      case _: ArrayIndexOutOfBoundsException => None
      case _: java.util.zip.DataFormatException => None
    }
  }

  // ------------------------------------------------------------------
  // DataFrame surface
  // ------------------------------------------------------------------

  /** One row per archive entry: (id, entry_name, method, c_size,
    * u_size) — map-only flatMap, non-ZIP content yields no rows.
    */
  def zipEntryRows(df: DataFrame, idCol: String,
      contentCol: String): DataFrame = {
    val (ii, ci) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(contentCol))
    val schema = StructType(Seq(
      df.schema.fields(ii),
      StructField("entry_name", StringType),
      StructField("method", IntegerType),
      StructField("c_size", LongType),
      StructField("u_size", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(ii)
        zipEntries(r.getAs[Array[Byte]](ci)).toSeq.flatten.map { e =>
          Row(id, e.name, e.method, e.compressedSize,
            e.uncompressedSize)
        }
      }
    }(enc)
  }

  /** One row per TEXT entry with its extracted UTF-8 content — the
    * nested-document unwrap a zipped crawl drop needs before any text
    * operator can run. Entries that fail extraction (bad method, CRC
    * mismatch) carry a null text, keeping failures visible.
    */
  def zipExtractTextRows(df: DataFrame, idCol: String,
      contentCol: String): DataFrame = {
    val (ii, ci) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(contentCol))
    val schema = StructType(Seq(
      df.schema.fields(ii),
      StructField("entry_name", StringType),
      StructField("entry_text", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(ii)
        val bytes = r.getAs[Array[Byte]](ci)
        zipEntries(bytes).toSeq.flatten.map { e =>
          Row(id, e.name, zipExtract(bytes, e)
            .map(new String(_, "UTF-8")).orNull)
        }
      }
    }(enc)
  }

  val gunzipTextSchema: StructType = StructType(Seq(
    StructField("gz_text", StringType)))

  /** Decode kernel for [[Multimodal.decodeBatches]]: gzip member →
    * UTF-8 text, null when malformed.
    */
  def decodeGunzipText(bytes: Array[Byte]): Seq[Any] =
    gunzip(bytes) match {
      case Some(d) => Seq[Any](new String(d, "UTF-8"))
      case None    => Seq[Any](null)
    }

  // ------------------------------------------------------------------
  // TAR (POSIX ustar) — the other half of the archive-wrapped world
  // ------------------------------------------------------------------

  /** One tar entry: `typeflag` '0' = regular file, '5' = directory
    * (other flags pass through for the caller to filter).
    */
  final case class TarEntry(name: String, size: Long, typeflag: Char,
      dataOffset: Long)

  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = off
    val end = off + len
    // skip leading spaces/NULs, stop at the first terminator
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = v * 8 + (b(i) - '0')
      i += 1
    }
    v
  }

  /** Walk 512-byte ustar blocks: name (prefix-joined), size, type,
    * data offset per entry; every header's checksum is verified (sum
    * of header bytes with the chksum field as spaces). Ends at the
    * two-zero-block terminator or clean EOF. None for non-tar bytes,
    * checksum mismatches, or a size running past the buffer.
    */
  def tarEntries(b: Array[Byte]): Option[Seq[TarEntry]] = {
    if (b == null || b.length < 512) return None
    val out = Seq.newBuilder[TarEntry]
    var p = 0
    var sawOne = false
    // GNU 'L' / PAX 'x' metadata applying to the NEXT real entry
    var pendingName: Option[String] = None
    var pendingSize: Option[Long] = None
    try {
      while (p + 512 <= b.length) {
        var allZero = true
        var z = 0
        while (allZero && z < 512) {
          if (b(p + z) != 0) allZero = false
          z += 1
        }
        if (allZero) return if (sawOne) Some(out.result()) else None
        // checksum: unsigned byte sum, chksum field (148..155) as ' '
        var sum = 0L
        var i = 0
        while (i < 512) {
          sum += (if (i >= 148 && i < 156) ' '.toInt
            else b(p + i) & 0xff)
          i += 1
        }
        if (octal(b, p + 148, 8) != sum) return None
        def str(off: Int, len: Int): String = {
          var n = 0
          while (n < len && b(p + off + n) != 0) n += 1
          new String(b, p + off, n, "UTF-8")
        }
        val magic = str(257, 6)
        if (magic != "ustar" && magic != "ustar ") return None
        val prefix = str(345, 155)
        val name0 = str(0, 100)
        var name = if (prefix.isEmpty) name0 else s"$prefix/$name0"
        // GNU base-256 size (>8 GB): high bit of the first byte set
        val size0 =
          if ((b(p + 124) & 0x80) != 0) {
            var v = (b(p + 124) & 0x7f).toLong
            var k = 1
            while (k < 12) { v = (v << 8) | (b(p + 124 + k) & 0xffL); k += 1 }
            v
          } else octal(b, p + 124, 12)
        var size = size0
        val tf = (b(p + 156) & 0xff).toChar
        val dataOff = p + 512L
        if (dataOff + size > b.length) return None
        tf match {
          case 'L' =>
            // GNU longname: the data block is the NEXT entry's name
            pendingName = Some(new String(b, dataOff.toInt,
              size.toInt, "UTF-8").takeWhile(_ != '\u0000'))
          case 'x' | 'g' =>
            // PAX extended header: "len key=value\n" records; 'x'
            // overrides the next entry, 'g' (git-archive's
            // pax_global_header) is consumed and ignored — neither
            // is a real member
            if (tf == 'x') {
              val body = new String(b, dataOff.toInt, size.toInt,
                "UTF-8")
              var q = 0
              while (q < body.length) {
                val sp = body.indexOf(' ', q)
                if (sp < 0) q = body.length
                else {
                  val recLen =
                    try body.substring(q, sp).trim.toInt
                    catch { case _: NumberFormatException => -1 }
                  // a valid record spans at least "len key=v\n":
                  // the value slice [sp+1, q+recLen-1) must be
                  // non-negative or substring throws on malformed
                  // bodies like "2 \n"
                  if (recLen <= 0 || q + recLen > body.length ||
                      q + recLen - 1 < sp + 1)
                    q = body.length
                  else {
                    val rec = body.substring(sp + 1, q + recLen - 1)
                    val eq = rec.indexOf('=')
                    if (eq > 0) rec.substring(0, eq) match {
                      case "path" =>
                        pendingName = Some(rec.substring(eq + 1))
                      case "size" =>
                        try pendingSize =
                          Some(rec.substring(eq + 1).toLong)
                        catch { case _: NumberFormatException => () }
                      case _ => ()
                    }
                    q += recLen
                  }
                }
              }
            }
          case 'K' => () // GNU longlink: link target, not modeled
          case _ =>
            // a PAX 'size' override replaces the header size (which
            // octal cannot represent past 8 GB) — the data blocks on
            // disk follow the EFFECTIVE size
            pendingName.foreach(n => name = n)
            pendingSize.foreach(s2 => size = s2)
            pendingName = None
            pendingSize = None
            if (size < 0 || dataOff + size > b.length) return None
            out += TarEntry(name, size,
              if (tf == 0) '0' else tf, dataOff)
        }
        sawOne = true
        val blocks = (size + 511) / 512
        p += 512 + (blocks * 512L).toInt
      }
      if (sawOne) Some(out.result()) else None
    } catch {
      // IndexOutOfBounds (not just Array-) so malformed PAX record
      // substrings also refuse instead of killing the task
      case _: IndexOutOfBoundsException => None
    }
  }

  /** Entry bytes (regular files): a plain slice at the recorded
    * offset — tar stores uncompressed.
    */
  def tarExtract(b: Array[Byte], e: TarEntry): Option[Array[Byte]] =
    if (e.dataOffset + e.size > b.length || e.size > 268435456L) None
    else Some(java.util.Arrays.copyOfRange(b, e.dataOffset.toInt,
      (e.dataOffset + e.size).toInt))

  /** One row per tar entry, with `.tar.gz` handled by composing
    * [[gunzip]] (`gzipped`): (id, entry_name, typeflag, u_size).
    * Map-only; non-tar content yields no rows.
    */
  def tarEntryRows(df: DataFrame, idCol: String, contentCol: String,
      gzipped: Boolean): DataFrame = {
    val (ii, ci) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(contentCol))
    val schema = StructType(Seq(
      df.schema.fields(ii),
      StructField("entry_name", StringType),
      StructField("typeflag", StringType),
      StructField("u_size", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(ii)
        val raw = r.getAs[Array[Byte]](ci)
        val plain = if (gzipped) gunzip(raw) else Option(raw)
        plain.flatMap(tarEntries).toSeq.flatten.map { e =>
          Row(id, e.name, e.typeflag.toString, e.size)
        }
      }
    }(enc)
  }

  /** ustar writer for fixtures: correct checksums, prefix unused,
    * two-zero-block terminator.
    */
  def tarWrite(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((name, data) <- entries) {
      val h = new Array[Byte](512)
      val nameB = name.getBytes("UTF-8")
      require(nameB.length <= 100, s"name too long: $name")
      System.arraycopy(nameB, 0, h, 0, nameB.length)
      def oct(off: Int, len: Int, v: Long): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val padded = ("0" * (len - 1 - s.length)) + s
        System.arraycopy(padded.getBytes("US-ASCII"), 0, h, off,
          len - 1)
      }
      oct(100, 8, 420) // mode 0644
      oct(108, 8, 0); oct(116, 8, 0)
      oct(124, 12, data.length.toLong)
      oct(136, 12, 0)
      h(156) = '0'
      System.arraycopy("ustar\u0000".getBytes("US-ASCII"), 0, h, 257, 6)
      System.arraycopy("00".getBytes("US-ASCII"), 0, h, 263, 2)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L
      for (i <- 0 until 512) sum += h(i) & 0xff
      oct(148, 8, sum)
      h(155) = ' '
      out.write(h, 0, 512)
      out.write(data, 0, data.length)
      val pad = (512 - data.length % 512) % 512
      (0 until pad).foreach(_ => out.write(0))
    }
    (0 until 1024).foreach(_ => out.write(0))
    out.toByteArray
  }

  /** Per-row tar synthesizer: `nCol` members per doc, member j named
    * `m<j>.txt` holding `t<j>:` + the doc text; `gzCol` = 1 wraps the
    * whole tar in one gzip member (.tar.gz).
    */
  def synthTars(df: DataFrame, idCol: String, textCol: String,
      nCol: String, gzCol: String, outCol: String): DataFrame = {
    val (ti, ni, gi) = (df.schema.fieldIndex(textCol),
      df.schema.fieldIndex(nCol), df.schema.fieldIndex(gzCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        val n = r.getInt(ni)
        val tar = tarWrite((0 until n).map { j =>
          (s"m$j.txt", (s"t$j:" + text).getBytes("UTF-8"))
        })
        val bytes = if (r.getInt(gi) == 1) gzipWrite(tar, "a.tar")
          else tar
        Row.fromSeq(r.toSeq :+ bytes)
      }
    }(enc)
  }

  // ------------------------------------------------------------------
  // WARC (ISO 28500) — the web-crawl interchange format
  // ------------------------------------------------------------------

  /** One WARC record: headers are case-insensitively matched; absent
    * optional headers surface as null.
    */
  final case class WarcRecord(warcType: String, targetUri: String,
      date: String, contentType: String, contentLength: Long,
      payload: Array[Byte])

  /** Parse concatenated WARC records (the plain-.warc layout):
    * version line, CRLF header block, Content-Length-delimited
    * payload, double-CRLF separator. None for non-WARC bytes or a
    * structurally corrupt stream — a stream that starts well and
    * truncates mid-record is corrupt, not partially usable (the
    * record boundary cannot be trusted past the break).
    */
  def warcRecords(b: Array[Byte]): Option[Seq[WarcRecord]] = {
    if (b == null || b.length < 12) return None
    if (!(b(0) == 'W' && b(1) == 'A' && b(2) == 'R' && b(3) == 'C' &&
      b(4) == '/')) return None
    val out = Seq.newBuilder[WarcRecord]
    var p = 0
    try {
      while (p < b.length) {
        // skip trailing separators between/after records
        while (p + 1 < b.length && b(p) == '\r' && b(p + 1) == '\n')
          p += 2
        if (p >= b.length) return Some(out.result())
        def line(from: Int): (String, Int) = {
          var q = from
          while (q + 1 < b.length && !(b(q) == '\r' && b(q + 1) == '\n'))
            q += 1
          if (q + 1 >= b.length) throw new ArrayIndexOutOfBoundsException
          (new String(b, from, q - from, "UTF-8"), q + 2)
        }
        val (version, afterV) = line(p)
        if (!version.startsWith("WARC/")) return None
        var q = afterV
        var wType: String = null
        var uri: String = null
        var date: String = null
        var cType: String = null
        var cLen = -1L
        var done = false
        while (!done) {
          val (l, nq) = line(q)
          q = nq
          if (l.isEmpty) done = true
          else {
            val i = l.indexOf(':')
            if (i <= 0) return None
            val k = l.substring(0, i).trim.toLowerCase
            val v = l.substring(i + 1).trim
            k match {
              case "warc-type" => wType = v
              case "warc-target-uri" => uri = v
              case "warc-date" => date = v
              case "content-type" => cType = v
              case "content-length" =>
                cLen = try v.toLong catch {
                  case _: NumberFormatException => return None
                }
              case _ => ()
            }
          }
        }
        if (cLen < 0 || q + cLen > b.length) return None
        val payload = java.util.Arrays.copyOfRange(b, q,
          q + cLen.toInt)
        out += WarcRecord(wType, uri, date, cType, cLen, payload)
        p = q + cLen.toInt
      }
      Some(out.result())
    } catch {
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Split CONCATENATED gzip members (the .warc.gz layout — one
    * member per record, the seekability trick): each member fully
    * inflated and trailer-verified like [[gunzip]]. None if any
    * member is corrupt.
    */
  def gunzipMembers(b: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (b == null || b.length < 18) return None
    val out = Seq.newBuilder[Array[Byte]]
    var p = 0
    try {
      while (p < b.length) {
        if ((b(p) & 0xff) != 0x1f || (b(p + 1) & 0xff) != 0x8b ||
          (b(p + 2) & 0xff) != 8) return None
        val flg = b(p + 3) & 0xff
        var q = p + 10
        if ((flg & 0x04) != 0) q += 2 + le16(b, q)
        if ((flg & 0x08) != 0) { while (b(q) != 0) q += 1; q += 1 }
        if ((flg & 0x10) != 0) { while (b(q) != 0) q += 1; q += 1 }
        if ((flg & 0x02) != 0) q += 2
        val inf = new java.util.zip.Inflater(true)
        val buf = new java.io.ByteArrayOutputStream()
        try {
          inf.setInput(b, q, b.length - q)
          val tmp = new Array[Byte](8192)
          while (!inf.finished()) {
            val n = inf.inflate(tmp)
            if (n == 0 && !inf.finished() &&
              (inf.needsInput() || inf.needsDictionary())) return None
            buf.write(tmp, 0, n)
            if (buf.size() > 268435456) return None
          }
          val data = buf.toByteArray
          val crc = new java.util.zip.CRC32()
          crc.update(data)
          val tOff = q + inf.getBytesRead.toInt
          if (tOff + 8 > b.length) return None
          if (le32(b, tOff) != crc.getValue) return None
          if (le32(b, tOff + 4) != (data.length.toLong & 0xffffffffL))
            return None
          out += data
          p = tOff + 8
        } finally inf.end()
      }
      Some(out.result())
    } catch {
      case _: ArrayIndexOutOfBoundsException => None
      case _: java.util.zip.DataFormatException => None
    }
  }

  /** Magic-sniffing unwrap for compressed WARC payloads — the
    * per-row detection a crawl ingest needs because one archive
    * batch mixes plain `.warc`, `.warc.gz`, and (Common Crawl's
    * announced direction) `.warc.zst` files: plain "WARC/" bytes
    * pass through; a gzip magic routes to [[gunzipMembers]]
    * (member-per-record concatenation inflated and
    * trailer-verified); a zstd magic — normal or skippable frame —
    * routes to [[Zstd.decompress]], which likewise walks
    * CONCATENATED frames (the frame-per-record seekability layout)
    * and decodes each through zstd-jni (or copies a raw/RLE-only
    * frame) with checksum verification. None for any other magic or any
    * corrupt member, so one bad file classifies instead of killing
    * the task.
    */
  def unwrapWarcBytes(b: Array[Byte]): Option[Array[Byte]] = {
    if (b == null || b.length < 4) return None
    if (b(0) == 'W' && b(1) == 'A' && b(2) == 'R' && b(3) == 'C')
      return Some(b)
    if ((b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b)
      return gunzipMembers(b).map(_.foldLeft(
        new java.io.ByteArrayOutputStream()) { (acc, m) =>
          acc.write(m, 0, m.length); acc
        }.toByteArray)
    Zstd.decompress(b)
  }

  /** HTTP response payload decode for one WARC record: (status,
    * mime, charset, text). Goes through the full [[Http]] stack —
    * chunked de-framing, Content-Encoding, charset sniffing. A
    * payload that is not an HTTP response yields the whole payload
    * read as UTF-8 (metadata/request records). An HTTP body whose
    * declared framing or encoding cannot be decoded yields null
    * text — honest refusal beats chunk-size lines or compressed
    * bytes masquerading as content.
    */
  private def httpDecode(payload: Array[Byte])
      : (Integer, String, String, String) =
    Http.bodyText(payload) match {
      case Some(bt) => (bt.status, bt.mime, bt.charset, bt.text)
      case None => (null, null, null, new String(payload, "UTF-8"))
    }

  /** One row per WARC record — the crawl-ingest explode: (id,
    * rec_idx, warc_type, target_uri, content_length, http_status,
    * content_mime, charset, body_text). `gzipped` selects the
    * .warc.gz member-per-record layout. HTTP response payloads go
    * through the full HTTP decode (chunked, Content-Encoding,
    * charset — see [[Http]]); other record types carry the raw
    * payload as body_text. Non-WARC content yields no rows.
    * Map-only.
    */
  def warcRecordRows(df: DataFrame, idCol: String,
      contentCol: String, gzipped: Boolean): DataFrame =
    warcRows(df, idCol, contentCol) { raw =>
      if (!gzipped) Option(raw)
      else gunzipMembers(raw).map(_.foldLeft(
        new java.io.ByteArrayOutputStream()) { (acc, m) =>
          acc.write(m, 0, m.length); acc
        }.toByteArray)
    }

  /** [[warcRecordRows]] with per-row compression sniffing via
    * [[unwrapWarcBytes]] — one call handles a batch mixing plain,
    * .warc.gz, and .warc.zst files. Map-only; a corrupt or foreign
    * payload yields no rows.
    */
  def warcRecordRowsAuto(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    warcRows(df, idCol, contentCol)(unwrapWarcBytes)

  private def warcRows(df: DataFrame, idCol: String,
      contentCol: String)(unwrap: Array[Byte] => Option[Array[Byte]])
      : DataFrame = {
    val (ii, ci) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(contentCol))
    val schema = StructType(Seq(
      df.schema.fields(ii),
      StructField("rec_idx", IntegerType),
      StructField("warc_type", StringType),
      StructField("target_uri", StringType),
      StructField("content_length", LongType),
      StructField("http_status", IntegerType),
      StructField("content_mime", StringType),
      StructField("charset", StringType),
      StructField("body_text", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(ii)
        val raw = r.getAs[Array[Byte]](ci)
        unwrap(raw).flatMap(warcRecords).toSeq.flatten.zipWithIndex
          .map { case (rec, idx) =>
            val (status, mime, cs, text) = httpDecode(rec.payload)
            Row(id, idx, rec.warcType, rec.targetUri,
              rec.contentLength, status, mime, cs, text)
        }
      }
    }(enc)
  }

  /** WARC writer for fixtures: records as (type, uri, payload);
    * `gzipped` emits one gzip member per record.
    */
  def warcWrite(records: Seq[(String, String, Array[Byte])],
      gzipped: Boolean): Array[Byte] =
    warcWriteComp(records, if (gzipped) 1 else 0)

  /** [[warcWrite]] with a compression selector: 0 plain, 1 one gzip
    * member per record (.warc.gz), 2 one zstd frame per record
    * (.warc.zst through [[Zstd.compress]], XXH64 checksum on — the
    * frame-per-record seekability layout).
    */
  def warcWriteComp(records: Seq[(String, String, Array[Byte])],
      comp: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((wType, uri, payload) <- records) {
      val rec = new java.io.ByteArrayOutputStream()
      val hdr = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append(s"WARC-Type: $wType\r\n")
      if (uri != null) hdr.append(s"WARC-Target-URI: $uri\r\n")
      hdr.append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
        .append(s"Content-Length: ${payload.length}\r\n")
        .append("\r\n")
      rec.write(hdr.toString.getBytes("UTF-8"))
      rec.write(payload)
      rec.write("\r\n\r\n".getBytes("UTF-8"))
      val bytes = rec.toByteArray
      comp match {
        case 1 =>
          val gz = gzipWrite(bytes, "rec")
          out.write(gz, 0, gz.length)
        case 2 =>
          val zs = Zstd.compress(bytes)
          out.write(zs, 0, zs.length)
        case _ => out.write(bytes, 0, bytes.length)
      }
    }
    out.toByteArray
  }

  /** Per-row WARC synthesizer: request + response record pairs, the
    * response wrapping an HTTP 200 with the doc text as body.
    * `gzCol` = 1 emits the member-per-record .warc.gz layout.
    */
  def synthWarcs(df: DataFrame, idCol: String, textCol: String,
      gzCol: String, outCol: String): DataFrame = {
    val (ii, ti, gi) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol), df.schema.fieldIndex(gzCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val id = r.get(ii)
        val text = Option(r.getString(ti)).getOrElse("")
        val bytes = synthWarcBytes(id, text, r.getInt(gi))
        Row.fromSeq(r.toSeq :+ bytes)
      }
    }(enc)
  }

  /** The [[synthWarcs]] payload for one doc at compression `comp`
    * (see [[warcWriteComp]]) — shared so the .warc.zst variant
    * plants byte-identical record structure.
    */
  private[graft] def synthWarcBytes(id: Any, text: String,
      comp: Int): Array[Byte] = {
    val uri = s"http://example.test/doc/$id"
    val req = s"GET /doc/$id HTTP/1.1\r\nHost: example.test\r\n\r\n"
      .getBytes("UTF-8")
    val resp = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      "\r\n" + text).getBytes("UTF-8")
    warcWriteComp(Seq(
      ("request", uri, req), ("response", uri, resp)), comp)
  }

  /** Per-row WARC synthesizer exercising the REAL HTTP decode
    * surface: the response wraps `bodyCol` (a string the caller
    * built, including any `<meta charset>` prefix) with
    *
    * `framingCol`: 0 identity + Content-Length; 1 chunked (chunk
    * extension on the first size line, trailer header after the 0
    * chunk); 2 Content-Encoding gzip; 3 chunked + gzip; 4 deflate
    * (zlib-wrapped); 5 declared `br` over plain bytes — the decoder
    * must refuse (null body_text), not mis-read; 6 raw deflate
    * under the `deflate` label (the in-the-wild fallback); 7
    * Content-Encoding zstd (real entropy frame).
    *
    * `charsetModeCol`: 0 `charset=utf-8` in Content-Type; 1
    * `charset=windows-1251` in Content-Type; 2 bare text/html — the
    * charset only discoverable from the caller-planted
    * `<meta charset="shift_jis">`; 3 UTF-8 BOM, no declaration; 4
    * bare text/html with a caller-planted http-equiv tag naming
    * euc-kr. Header-name casing alternates by id so the parse stays
    * case-insensitive.
    */
  def synthHttpWarcs(df: DataFrame, idCol: String, bodyCol: String,
      framingCol: String, charsetModeCol: String, outCol: String)
      : DataFrame = {
    val (ii, bi, fi, ci) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(bodyCol), df.schema.fieldIndex(framingCol),
      df.schema.fieldIndex(charsetModeCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val id = r.get(ii)
        val body = Option(r.getString(bi)).getOrElse("")
        val bytes = synthHttpWarcBytes(id, body, r.getInt(fi),
          r.getInt(ci))
        Row.fromSeq(r.toSeq :+ bytes)
      }
    }(enc)
  }

  private[graft] def synthHttpWarcBytes(id: Any, body: String,
      framing: Int, csMode: Int): Array[Byte] = {
    val cs = csMode match {
      case 1 => java.nio.charset.Charset.forName("windows-1251")
      case 2 => java.nio.charset.Charset.forName("Shift_JIS")
      case 4 => java.nio.charset.Charset.forName("EUC-KR")
      case _ => java.nio.charset.StandardCharsets.UTF_8
    }
    val plain0 = body.getBytes(cs)
    val plain =
      if (csMode == 3)
        Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ plain0
      else plain0
    val contentType = csMode match {
      case 0 => "text/plain; charset=utf-8"
      case 1 => "text/html; charset=windows-1251"
      case 3 => "text/plain"
      case _ => "text/html"
    }
    // header-name casing alternates so parsing stays case-blind
    val upper = (id match {
      case n: java.lang.Number => n.longValue()
      case other => other.hashCode.toLong
    }) % 2 == 0
    def h(name: String): String =
      if (upper) name
      else name.toLowerCase(java.util.Locale.ROOT)
    val hdr = new StringBuilder("HTTP/1.1 200 OK\r\n")
    hdr.append(s"${h("Content-Type")}: $contentType\r\n")
    val framed: Array[Byte] = framing match {
      case 1 =>
        hdr.append(s"${h("Transfer-Encoding")}: chunked\r\n")
        Http.chunkEncode(plain, 100)
      case 2 =>
        hdr.append(s"${h("Content-Encoding")}: gzip\r\n")
        gzipWrite(plain, "body")
      case 3 =>
        hdr.append(s"${h("Content-Encoding")}: gzip\r\n")
        hdr.append(s"${h("Transfer-Encoding")}: chunked\r\n")
        Http.chunkEncode(gzipWrite(plain, "body"), 77)
      case 4 =>
        hdr.append(s"${h("Content-Encoding")}: deflate\r\n")
        Http.zlibDeflate(plain)
      case 5 =>
        hdr.append(s"${h("Content-Encoding")}: br\r\n")
        Brotli.encodeEntropy(plain) // real brotli since round 14
      case 6 =>
        hdr.append(s"${h("Content-Encoding")}: deflate\r\n")
        Http.rawDeflate(plain) // the in-the-wild raw variant
      case 7 =>
        hdr.append(s"${h("Content-Encoding")}: zstd\r\n")
        Zstd.compress(plain)
      case _ =>
        hdr.append(s"${h("Content-Length")}: ${plain.length}\r\n")
        plain
    }
    hdr.append("\r\n")
    val resp =
      hdr.toString.getBytes(java.nio.charset.StandardCharsets
        .ISO_8859_1) ++ framed
    val uri = s"http://example.test/doc/$id"
    val req = s"GET /doc/$id HTTP/1.1\r\nHost: example.test\r\n\r\n"
      .getBytes("UTF-8")
    warcWriteComp(Seq(
      ("request", uri, req), ("response", uri, resp)), 0)
  }

  /** [[synthWarcs]] with the three-way compression selector of
    * [[warcWriteComp]] in `compCol` — the mixed plain/.gz/.zst batch
    * the sniffing reader faces in practice.
    */
  def synthWarcsComp(df: DataFrame, idCol: String, textCol: String,
      compCol: String, outCol: String): DataFrame = {
    val (ii, ti, ci) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol), df.schema.fieldIndex(compCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val id = r.get(ii)
        val text = Option(r.getString(ti)).getOrElse("")
        val bytes = synthWarcBytes(id, text, r.getInt(ci))
        Row.fromSeq(r.toSeq :+ bytes)
      }
    }(enc)
  }

  // ------------------------------------------------------------------
  // fixture encoders
  // ------------------------------------------------------------------

  /** Real ZIP writer for fixtures: local headers + central directory
    * + EOCD with true CRC32s; per-entry `deflate` flag picks method 8
    * (raw Deflater) or 0 (stored).
    */
  def zipWrite(entries: Seq[(String, Array[Byte], Boolean)])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    val metas = entries.map { case (name, data, deflate) =>
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val payload =
        if (!deflate) data
        else {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          try {
            d.setInput(data); d.finish()
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](8192)
            while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
            buf.toByteArray
          } finally d.end()
        }
      val nameB = name.getBytes("UTF-8")
      val off = out.size()
      w32(0x04034b50L); w16(20); w16(0)
      w16(if (deflate) 8 else 0)
      w16(0); w16(0) // time/date
      w32(crc.getValue); w32(payload.length.toLong)
      w32(data.length.toLong)
      w16(nameB.length); w16(0)
      out.write(nameB); out.write(payload)
      (nameB, if (deflate) 8 else 0, crc.getValue,
        payload.length.toLong, data.length.toLong, off.toLong)
    }
    val cdOff = out.size()
    metas.foreach { case (nameB, method, crc, csize, usize, off) =>
      w32(0x02014b50L); w16(20); w16(20); w16(0); w16(method)
      w16(0); w16(0)
      w32(crc); w32(csize); w32(usize)
      w16(nameB.length); w16(0); w16(0)
      w16(0); w16(0); w32(0)
      w32(off)
      out.write(nameB)
    }
    val cdSize = out.size() - cdOff
    w32(0x06054b50L); w16(0); w16(0)
    w16(metas.length); w16(metas.length)
    w32(cdSize.toLong); w32(cdOff.toLong)
    w16(0)
    out.toByteArray
  }

  /** ZIP64 fixture writer: the same entries as [[zipWrite]] but the
    * central directory carries 0xffffffff sentinels with 0x0001
    * extended-info extra fields, and the archive ends with the full
    * EOCD64 record → locator → sentinel-EOCD chain — the exact
    * layout a >4 GB archive uses, synthesized small so the reader's
    * ZIP64 path is provable without 4 GB fixtures.
    */
  def zipWrite64(entries: Seq[(String, Array[Byte], Boolean)])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def w64(v: Long): Unit = { w32(v & 0xffffffffL); w32(v >>> 32) }
    val metas = entries.map { case (name, data, deflate) =>
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val payload =
        if (!deflate) data
        else {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          try {
            d.setInput(data); d.finish()
            val buf = new java.io.ByteArrayOutputStream()
            val tmp = new Array[Byte](8192)
            while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
            buf.toByteArray
          } finally d.end()
        }
      val nameB = name.getBytes("UTF-8")
      val off = out.size()
      w32(0x04034b50L); w16(45); w16(0)
      w16(if (deflate) 8 else 0)
      w16(0); w16(0)
      w32(crc.getValue); w32(payload.length.toLong)
      w32(data.length.toLong)
      w16(nameB.length); w16(0)
      out.write(nameB); out.write(payload)
      (nameB, if (deflate) 8 else 0, crc.getValue,
        payload.length.toLong, data.length.toLong, off.toLong)
    }
    val cdOff = out.size()
    metas.foreach { case (nameB, method, crc, csize, usize, off) =>
      w32(0x02014b50L); w16(45); w16(45); w16(0); w16(method)
      w16(0); w16(0)
      w32(crc)
      w32(0xffffffffL); w32(0xffffffffL) // csize/usize sentinels
      w16(nameB.length)
      w16(4 + 24) // extra: header + usize + csize + lho
      w16(0)
      w16(0); w16(0); w32(0)
      w32(0xffffffffL) // lho sentinel
      out.write(nameB)
      w16(1); w16(24) // 0x0001 extended info
      w64(usize); w64(csize); w64(off)
    }
    val cdSize = out.size() - cdOff
    val eocd64Off = out.size()
    w32(0x06064b50L) // EOCD64 record
    w64(44) // size of remaining record
    w16(45); w16(45)
    w32(0); w32(0) // disk numbers
    w64(metas.length.toLong); w64(metas.length.toLong)
    w64(cdSize.toLong); w64(cdOff.toLong)
    w32(0x07064b50L) // EOCD64 locator
    w32(0); w64(eocd64Off.toLong); w32(1)
    w32(0x06054b50L) // sentinel EOCD
    w16(0); w16(0)
    w16(0xffff); w16(0xffff)
    w32(0xffffffffL); w32(0xffffffffL)
    w16(0)
    out.toByteArray
  }

  /** Real gzip writer for fixtures (FNAME flag set so the decoder's
    * header-skip path runs): JDK Deflater raw stream + RFC 1952
    * header/trailer by hand.
    */
  def gzipWrite(data: Array[Byte], name: String = "doc"): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1f); out.write(0x8b); out.write(8)
    out.write(0x08) // FNAME
    (0 until 6).foreach(_ => out.write(0)) // mtime/xfl/os
    out.write(name.getBytes("UTF-8")); out.write(0)
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(data); d.finish()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    } finally d.end()
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    def w32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    w32(crc.getValue)
    w32(data.length.toLong & 0xffffffffL)
    out.toByteArray
  }

  /** Per-row ZIP synthesizer for fixtures: `nCol` entries per doc,
    * entry j named `f<j>.txt` holding `prefix<j>:` + the doc text,
    * odd entries deflated, even stored.
    */
  def synthZips(df: DataFrame, idCol: String, textCol: String,
      nCol: String, outCol: String): DataFrame = {
    val (ii, ti, ni) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol), df.schema.fieldIndex(nCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        val n = r.getInt(ni)
        val entries = (0 until n).map { j =>
          (s"f$j.txt", (s"e$j:" + text).getBytes("UTF-8"), j % 2 == 1)
        }
        // odd docs ride the ZIP64 layout: metadata must come back
        // identical through the EOCD64 + extended-info path
        val id = r.get(ii) match {
          case l: java.lang.Long => l.longValue()
          case i: java.lang.Integer => i.longValue()
          case other => other.hashCode().toLong
        }
        val bytes =
          if (id % 2 == 1) zipWrite64(entries) else zipWrite(entries)
        Row.fromSeq(r.toSeq :+ bytes)
      }
    }(enc)
  }

  /** Per-row gzip synthesizer: the doc text gzipped (FNAME path). */
  def synthGzips(df: DataFrame, idCol: String, textCol: String,
      outCol: String): DataFrame = {
    val (ti) = df.schema.fieldIndex(textCol)
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        Row.fromSeq(r.toSeq :+ gzipWrite(text.getBytes("UTF-8")))
      }
    }(enc)
  }
}
