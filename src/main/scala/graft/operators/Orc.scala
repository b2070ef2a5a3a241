package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** ORC FOOTER triage from raw bytes (C228) — the other columnar
  * format data lakes carry as opaque blobs, next to C218's parquet.
  * The layout is public (the Apache ORC spec): the file ends with a
  * one-byte postscript length; the UNCOMPRESSED protobuf PostScript
  * carries the footer length, compression codec, and the "ORC"
  * magic as field 8000; the Footer protobuf (compressed in
  * 3-byte-header chunks when the codec isn't NONE) carries stripes,
  * the type tree and row counts.
  *
  * Surfaced: codec name, total rows, stripe count and their summed
  * row counts, type-tree size, root column names and their kinds —
  * the triage facts a lake census needs without launching a reader
  * per blob. Chunk decompression rides the codec objects: raw
  * DEFLATE (zlib), [[Snappy]] (snappy-java), [[Zstd]] (zstd-jni) and
  * [[Lz4.decodeRawBlock]] (the in-repo block decoder) — LZO refuses
  * honestly (no decoder on the classpath).
  *
  * Pinning: the fixtures are written by Spark's own ORC writer —
  * the reference implementation on this classpath — across five
  * codecs, a nested schema and a multi-stripe file; OrcSpec also
  * cross-checks against a live `spark.read.orc` of the same bytes.
  *
  * Totality: None on damage; all bounds checked. Scale: footer-only
  * map work — never touches stripe data.
  */
object Orc {

  private val MaxFooter = 8 << 20
  private val MaxList = 100000

  final case class OrcMeta(compression: String, numRows: Long,
      nStripes: Int, stripeRows: Long, nTypes: Int,
      colNames: Seq[String], kinds: Seq[String])

  private[operators] final case class OFail() extends RuntimeException

  private[operators] final class Reader(val b: Array[Byte], var p: Int,
      val end: Int) {
    def varint(): Long = {
      var v = 0L
      var shift = 0
      while (true) {
        if (p >= end || shift > 63) throw OFail()
        val x = b(p) & 0xff
        p += 1
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      0L
    }
    def bytes(n: Long): (Int, Int) = {
      if (n < 0 || n > end - p) throw OFail()
      val r = (p, p + n.toInt)
      p += n.toInt
      r
    }
    /** Skip one field of `wire` type. */
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => bytes(8)
      case 2 => bytes(varint())
      case 5 => bytes(4)
      case _ => throw OFail()
    }
  }

  /** Walk fields of one message span, calling f(fieldNo, wire,
    * reader); f must consume the value or call skip.
    */
  private[operators] def fields(r: Reader)(f: (Int, Int) => Unit): Unit = {
    var guard = 0
    while (r.p < r.end) {
      guard += 1
      if (guard > MaxList) throw OFail()
      val tag = r.varint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      if (field <= 0) throw OFail()
      f(field, wire)
    }
  }

  private val CodecNames = Map(0 -> "none", 1 -> "zlib",
    2 -> "snappy", 3 -> "lzo", 4 -> "lz4", 5 -> "zstd",
    6 -> "brotli")

  private val KindNames = Map(0 -> "boolean", 1 -> "byte",
    2 -> "short", 3 -> "int", 4 -> "long", 5 -> "float",
    6 -> "double", 7 -> "string", 8 -> "binary", 9 -> "timestamp",
    10 -> "list", 11 -> "map", 12 -> "struct", 13 -> "union",
    14 -> "decimal", 15 -> "date", 16 -> "varchar", 17 -> "char",
    18 -> "timestamp_instant")

  /** Decompress the chunked footer region per the ORC framing:
    * 3-byte LE headers, low bit = stored-original.
    */
  private[operators] def inflateRegion(b: Array[Byte], from: Int, until: Int,
      codec: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = from
    while (p < until) {
      if (until - p < 3) return None
      val h = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
        ((b(p + 2) & 0xff) << 16)
      p += 3
      val original = (h & 1) == 1
      val clen = h >>> 1
      if (clen <= 0 || clen > until - p) return None
      if (original) out.write(b, p, clen)
      else {
        val chunk = codec match {
          case 1 => // zlib = raw deflate
            try {
              val inf = new java.util.zip.Inflater(true)
              inf.setInput(b, p, clen)
              val buf = new Array[Byte](8192)
              val acc = new java.io.ByteArrayOutputStream()
              while (!inf.finished() && acc.size <= MaxFooter) {
                val n = inf.inflate(buf)
                if (n == 0 && !inf.finished()) throw OFail()
                acc.write(buf, 0, n)
              }
              inf.end()
              if (acc.size > MaxFooter) None else Some(acc.toByteArray)
            } catch {
              case _: java.util.zip.DataFormatException => None
              case _: OFail => None
            }
          case 2 =>
            Snappy.decompress(
              java.util.Arrays.copyOfRange(b, p, p + clen), MaxFooter)
          case 4 => Lz4.decodeRawBlock(b, p, p + clen, MaxFooter)
          case 5 =>
            Zstd.decompress(
              java.util.Arrays.copyOfRange(b, p, p + clen))
          case _ => None // lzo / brotli / unknown: honest refusal
        }
        chunk match {
          case Some(c) if c.length <= MaxFooter => out.write(c)
          case _ => return None
        }
      }
      p += clen
      if (out.size > MaxFooter) return None
    }
    Some(out.toByteArray)
  }

  /** Parse an ORC file's postscript + footer. None on damage. */
  def orcMeta(b: Array[Byte]): Option[OrcMeta] = {
    if (b == null || b.length < 8) return None
    val psLen = b(b.length - 1) & 0xff
    if (psLen <= 0 || psLen >= b.length - 1 || psLen > 256)
      return None
    try {
      // ---- postscript (uncompressed protobuf)
      val psr = new Reader(b, b.length - 1 - psLen, b.length - 1)
      var footerLen = -1L
      var codec = 0
      var metadataLen = 0L
      var magic = ""
      fields(psr) { (field, wire) =>
        field match {
          case 1 if wire == 0 => footerLen = psr.varint()
          case 2 if wire == 0 => codec = psr.varint().toInt
          case 5 if wire == 0 => metadataLen = psr.varint()
          case 8000 if wire == 2 =>
            val (f, u) = psr.bytes(psr.varint())
            magic = new String(b, f, u - f,
              java.nio.charset.StandardCharsets.US_ASCII)
          case _ => psr.skip(wire)
        }
      }
      if (magic != "ORC" || footerLen <= 0 ||
        footerLen > b.length - 1 - psLen) return None
      val footerStart = b.length - 1 - psLen - footerLen.toInt
      if (footerStart < 0) return None

      // ---- footer bytes (chunk-inflate unless NONE)
      val fb =
        if (codec == 0)
          java.util.Arrays.copyOfRange(b, footerStart,
            footerStart + footerLen.toInt)
        else inflateRegion(b, footerStart,
          footerStart + footerLen.toInt, codec).getOrElse(return None)

      // ---- footer protobuf
      final case class OType(kind: Int,
          subtypes: scala.collection.mutable.ArrayBuffer[Int],
          names: scala.collection.mutable.ArrayBuffer[String])
      val types = scala.collection.mutable.ArrayBuffer[OType]()
      var numRows = -1L
      var nStripes = 0
      var stripeRows = 0L
      val fr = new Reader(fb, 0, fb.length)
      fields(fr) { (field, wire) =>
        field match {
          case 3 if wire == 2 => // StripeInformation
            val (f, u) = fr.bytes(fr.varint())
            nStripes += 1
            if (nStripes > MaxList) throw OFail()
            val sr = new Reader(fb, f, u)
            fields(sr) { (sf, sw) =>
              if (sf == 5 && sw == 0) stripeRows += sr.varint()
              else sr.skip(sw)
            }
          case 4 if wire == 2 => // Type
            val (f, u) = fr.bytes(fr.varint())
            if (types.length > MaxList) throw OFail()
            val t = OType(0,
              scala.collection.mutable.ArrayBuffer[Int](),
              scala.collection.mutable.ArrayBuffer[String]())
            var kind = 0
            val tr = new Reader(fb, f, u)
            fields(tr) { (tf, tw) =>
              tf match {
                case 1 if tw == 0 => kind = tr.varint().toInt
                case 2 if tw == 2 => // packed subtypes
                  val (pf, pu) = tr.bytes(tr.varint())
                  val pr = new Reader(fb, pf, pu)
                  while (pr.p < pr.end) {
                    if (t.subtypes.length > MaxList) throw OFail()
                    t.subtypes += pr.varint().toInt
                  }
                case 2 if tw == 0 => // unpacked single
                  t.subtypes += tr.varint().toInt
                case 3 if tw == 2 =>
                  val (nf, nu) = tr.bytes(tr.varint())
                  if (t.names.length > MaxList) throw OFail()
                  t.names += new String(fb, nf, nu - nf,
                    java.nio.charset.StandardCharsets.UTF_8)
                case _ => tr.skip(tw)
              }
            }
            types += t.copy(kind = kind)
          case 6 if wire == 0 => numRows = fr.varint()
          case _ => fr.skip(wire)
        }
      }
      if (numRows < 0 || types.isEmpty) return None
      val root = types(0)
      if (root.subtypes.exists(i => i < 0 || i >= types.length))
        return None
      Some(OrcMeta(CodecNames.getOrElse(codec, s"codec$codec"),
        numRows, nStripes, stripeRows, types.length,
        root.names.toSeq,
        root.subtypes.toSeq.map(i =>
          KindNames.getOrElse(types(i).kind, s"kind${types(i).kind}"))))
    } catch {
      case _: OFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  // ---------------------------------------------------------------
  // stripe/column STATISTICS census (round 17) — the facts that
  // drive file/stripe skipping at 100 TB: the footer's file-level
  // ColumnStatistics (field 7) and the Metadata section's per-stripe
  // StripeStatistics (postscript metadataLength bytes immediately
  // before the footer, chunk-compressed the same way). A reader that
  // can answer "which stripes can contain v?" from these never
  // touches the other stripes' data.
  // ---------------------------------------------------------------

  /** One column's statistics: counts plus the int/string stat
    * messages (ORC proto: IntegerStatistics sint64 min/max/sum,
    * StringStatistics min/max + sint64 total length).
    */
  final case class OrcColStat(nVals: Long, hasNull: Boolean,
      intMin: Option[Long], intMax: Option[Long],
      intSum: Option[Long], strMin: Option[String],
      strMax: Option[String], strLenSum: Option[Long])

  /** File-level stats (indexed by type id, 0 = root struct) and the
    * same per stripe.
    */
  final case class OrcStats(fileCols: Vector[OrcColStat],
      stripes: Vector[Vector[OrcColStat]])

  private def zig(v: Long): Long = (v >>> 1) ^ -(v & 1)

  /** Parse one ColumnStatistics message over `buf[f, u)`. */
  private def colStat(buf: Array[Byte], f: Int, u: Int)
      : OrcColStat = {
    var nVals = 0L
    var hasNull = false
    var iMin, iMax, iSum: Option[Long] = None
    var sMin, sMax: Option[String] = None
    var sSum: Option[Long] = None
    val r = new Reader(buf, f, u)
    fields(r) { (field, wire) =>
      field match {
        case 1 if wire == 0 => nVals = r.varint()
        case 2 if wire == 2 => // IntegerStatistics
          val (f2, u2) = r.bytes(r.varint())
          val ir = new Reader(buf, f2, u2)
          fields(ir) { (sf, sw) =>
            if (sw == 0) sf match {
              case 1 => iMin = Some(zig(ir.varint()))
              case 2 => iMax = Some(zig(ir.varint()))
              case 3 => iSum = Some(zig(ir.varint()))
              case _ => ir.skip(sw)
            } else ir.skip(sw)
          }
        case 4 if wire == 2 => // StringStatistics
          val (f2, u2) = r.bytes(r.varint())
          val sr = new Reader(buf, f2, u2)
          fields(sr) { (sf, sw) =>
            sf match {
              case 1 if sw == 2 =>
                val (a, b2) = sr.bytes(sr.varint())
                sMin = Some(new String(buf, a, b2 - a,
                  java.nio.charset.StandardCharsets.UTF_8))
              case 2 if sw == 2 =>
                val (a, b2) = sr.bytes(sr.varint())
                sMax = Some(new String(buf, a, b2 - a,
                  java.nio.charset.StandardCharsets.UTF_8))
              case 3 if sw == 0 => sSum = Some(zig(sr.varint()))
              case _ => sr.skip(sw)
            }
          }
        case 10 if wire == 0 => hasNull = r.varint() != 0
        case _ => r.skip(wire)
      }
    }
    OrcColStat(nVals, hasNull, iMin, iMax, iSum, sMin, sMax, sSum)
  }

  /** Parse the statistics surfaces: footer field 7 (file-level) and
    * the Metadata section (per-stripe). None on damage or when the
    * file carries no metadata section.
    */
  def orcStats(b: Array[Byte]): Option[OrcStats] = {
    if (b == null || b.length < 8) return None
    val psLen = b(b.length - 1) & 0xff
    if (psLen <= 0 || psLen >= b.length - 1 || psLen > 256)
      return None
    try {
      val psr = new Reader(b, b.length - 1 - psLen, b.length - 1)
      var footerLen = -1L
      var codec = 0
      var metadataLen = 0L
      var magic = ""
      fields(psr) { (field, wire) =>
        field match {
          case 1 if wire == 0 => footerLen = psr.varint()
          case 2 if wire == 0 => codec = psr.varint().toInt
          case 5 if wire == 0 => metadataLen = psr.varint()
          case 8000 if wire == 2 =>
            val (f, u) = psr.bytes(psr.varint())
            magic = new String(b, f, u - f,
              java.nio.charset.StandardCharsets.US_ASCII)
          case _ => psr.skip(wire)
        }
      }
      if (magic != "ORC" || footerLen <= 0 ||
        footerLen > b.length - 1 - psLen) return None
      val footerStart = b.length - 1 - psLen - footerLen.toInt
      if (footerStart < 0 || metadataLen < 0 ||
        metadataLen > footerStart) return None
      def section(from: Int, len: Int): Option[Array[Byte]] =
        if (codec == 0)
          Some(java.util.Arrays.copyOfRange(b, from, from + len))
        else inflateRegion(b, from, from + len, codec)

      // ---- file-level: footer field 7 (repeated ColumnStatistics)
      val fb = section(footerStart, footerLen.toInt)
        .getOrElse(return None)
      val fileCols = Vector.newBuilder[OrcColStat]
      val fr = new Reader(fb, 0, fb.length)
      fields(fr) { (field, wire) =>
        field match {
          case 7 if wire == 2 =>
            val (f, u) = fr.bytes(fr.varint())
            fileCols += colStat(fb, f, u)
          case _ => fr.skip(wire)
        }
      }

      // ---- per-stripe: the Metadata section
      val stripes = Vector.newBuilder[Vector[OrcColStat]]
      if (metadataLen > 0) {
        val metaStart = footerStart - metadataLen.toInt
        val mb = section(metaStart, metadataLen.toInt)
          .getOrElse(return None)
        val mr = new Reader(mb, 0, mb.length)
        fields(mr) { (field, wire) =>
          field match {
            case 1 if wire == 2 => // StripeStatistics
              val (f, u) = mr.bytes(mr.varint())
              val cols = Vector.newBuilder[OrcColStat]
              val sr = new Reader(mb, f, u)
              fields(sr) { (sf, sw) =>
                if (sf == 1 && sw == 2) {
                  val (cf, cu) = sr.bytes(sr.varint())
                  cols += colStat(mb, cf, cu)
                } else sr.skip(sw)
              }
              stripes += cols.result()
            case _ => mr.skip(wire)
          }
        }
      }
      val fc = fileCols.result()
      if (fc.isEmpty) return None
      Some(OrcStats(fc, stripes.result()))
    } catch {
      case _: OFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  // ---------------------------------------------------------------
  // Spark plumbing (fixtures are Spark-written; see OrcFixtureGen)
  // ---------------------------------------------------------------

  val orcSchema: StructType = StructType(Seq(
    StructField("codec", StringType),
    StructField("num_rows", LongType),
    StructField("n_stripes", IntegerType),
    StructField("stripe_rows", LongType),
    StructField("n_types", IntegerType),
    StructField("col_names", StringType),
    StructField("kinds", StringType)))

  def decodeOrc(bytes: Array[Byte]): Seq[Any] =
    orcMeta(bytes) match {
      case Some(m) => Seq[Any](m.compression, m.numRows,
        m.nStripes, m.stripeRows, m.nTypes,
        m.colNames.mkString(","), m.kinds.mkString(","))
      case None => Seq[Any](null, null, null, null, null, null, null)
    }

  val orcStatsSchema: StructType = StructType(Seq(
    StructField("n_stripes_stats", IntegerType),
    StructField("file_min", LongType),
    StructField("file_max", LongType),
    StructField("file_sum", LongType),
    StructField("file_nvals", LongType),
    StructField("has_null", BooleanType),
    StructField("str_min", StringType),
    StructField("str_max", StringType),
    StructField("str_len_sum", LongType),
    StructField("stripe_mins", StringType),
    StructField("stripe_maxs", StringType)))

  /** Stats decode kernel over a (root, long, string) schema: the
    * file-level stats of the long column (type id 1) and string
    * column (id 2), plus the per-stripe long-column min/max as CSV —
    * the raw material the ENGINE then prunes with (the query does
    * the interval arithmetic in codegen'd array functions, exactly
    * the stripe-skipping decision a 100 TB reader makes). Null row
    * for refusals or schema mismatch.
    */
  def decodeOrcStats(bytes: Array[Byte]): Seq[Any] =
    orcStats(bytes) match {
      case Some(OrcStats(fc, stripes))
          if fc.length >= 3 && stripes.forall(_.length >= 3) &&
            fc(1).intMin.isDefined && fc(2).strMin.isDefined &&
            stripes.forall(s => s(1).intMin.isDefined &&
              s(1).intMax.isDefined) =>
        Seq[Any](stripes.length,
          fc(1).intMin.get, fc(1).intMax.get,
          fc(1).intSum.getOrElse(null),
          fc(1).nVals, fc(1).hasNull,
          fc(2).strMin.get, fc(2).strMax.get,
          fc(2).strLenSum.getOrElse(null),
          stripes.map(_(1).intMin.get).mkString(","),
          stripes.map(_(1).intMax.get).mkString(","))
      case _ => Seq[Any](null, null, null, null, null, null, null,
        null, null, null, null)
    }

  // ---------------------------------------------------------------
  // ROW-GROUP indexes + BLOOM streams (round 18) — ORC's third
  // skipping tier, the parity of the parquet split-block blooms:
  // per stripe, each column's ROW_INDEX stream carries one
  // RowIndexEntry per row group (positions + ColumnStatistics — the
  // zone maps INSIDE a stripe), and opted-in columns carry a
  // BLOOM_FILTER_UTF8 stream with one BloomFilter per row group.
  // The hashes are public Hive/ORC algorithms: longs use the
  // Thomas Wang 64-bit mix, strings use Murmur3 hash64 (the x64
  // variant's low half, seed 104729) over the UTF-8 bytes; k probe
  // positions come from the Kirsch-Mitzenmacher combination
  // h1 + i*h2 (~negated when negative) mod numBits.
  // ---------------------------------------------------------------

  final case class OrcBloomGroup(k: Int, bits: Array[Byte])
  final case class OrcIndexInfo(riMins: Vector[Long],
      riMaxs: Vector[Long], idBlooms: Vector[OrcBloomGroup],
      sBlooms: Vector[OrcBloomGroup])

  /** Parse the index region of a single-stripe ORC file (the
    * committed fixture contract; multi-stripe files refuse rather
    * than silently census one stripe of many): row-group [min,max]
    * of column 1 from its ROW_INDEX, and the per-row-group blooms
    * of columns 1 and 2 from their BLOOM_FILTER_UTF8 streams.
    */
  def orcIndexInfo(b: Array[Byte]): Option[OrcIndexInfo] = {
    if (b == null || b.length < 8) return None
    val psLen = b(b.length - 1) & 0xff
    if (psLen <= 0 || psLen >= b.length - 1 || psLen > 256)
      return None
    try {
      val psr = new Reader(b, b.length - 1 - psLen, b.length - 1)
      var footerLen = -1L
      var codec = 0
      var magic = ""
      fields(psr) { (field, wire) =>
        field match {
          case 1 if wire == 0 => footerLen = psr.varint()
          case 2 if wire == 0 => codec = psr.varint().toInt
          case 8000 if wire == 2 =>
            val (f, u) = psr.bytes(psr.varint())
            magic = new String(b, f, u - f,
              java.nio.charset.StandardCharsets.US_ASCII)
          case _ => psr.skip(wire)
        }
      }
      if (magic != "ORC" || footerLen <= 0 ||
        footerLen > b.length - 1 - psLen) return None
      val footerStart = b.length - 1 - psLen - footerLen.toInt
      def section(from: Long, len: Long): Option[Array[Byte]] = {
        if (from < 0 || len < 0 || from + len > b.length) None
        else if (codec == 0)
          Some(java.util.Arrays.copyOfRange(b, from.toInt,
            (from + len).toInt))
        else inflateRegion(b, from.toInt, (from + len).toInt, codec)
      }
      val fb = section(footerStart.toLong, footerLen)
        .getOrElse(return None)
      // footer field 3: repeated StripeInformation
      final case class Si(off: Long, idxLen: Long, dataLen: Long,
        ftLen: Long)
      val stripes = Vector.newBuilder[Si]
      val fr = new Reader(fb, 0, fb.length)
      fields(fr) { (field, wire) =>
        if (field == 3 && wire == 2) {
          val (f, u) = fr.bytes(fr.varint())
          var off, il, dl, fl = -1L
          val sr = new Reader(fb, f, u)
          fields(sr) { (sf, sw) =>
            if (sw == 0) sf match {
              case 1 => off = sr.varint()
              case 2 => il = sr.varint()
              case 3 => dl = sr.varint()
              case 4 => fl = sr.varint()
              case _ => sr.skip(sw)
            } else sr.skip(sw)
          }
          if (off < 0 || il < 0 || dl < 0 || fl < 0) throw OFail()
          stripes += Si(off, il, dl, fl)
        } else fr.skip(wire)
      }
      val ss = stripes.result()
      if (ss.length != 1) return None
      val st = ss.head
      val sfb = section(st.off + st.idxLen + st.dataLen, st.ftLen)
        .getOrElse(return None)
      // stripe footer field 1: repeated Stream {kind, column, len}
      final case class Strm(kind: Int, column: Int, pos: Long,
        len: Long)
      val streams = Vector.newBuilder[Strm]
      var pos = st.off
      val tr = new Reader(sfb, 0, sfb.length)
      fields(tr) { (field, wire) =>
        if (field == 1 && wire == 2) {
          val (f, u) = tr.bytes(tr.varint())
          var kind, column = 0
          var len = 0L
          val sr = new Reader(sfb, f, u)
          fields(sr) { (sf, sw) =>
            if (sw == 0) sf match {
              case 1 => kind = sr.varint().toInt
              case 2 => column = sr.varint().toInt
              case 3 => len = sr.varint()
              case _ => sr.skip(sw)
            } else sr.skip(sw)
          }
          streams += Strm(kind, column, pos, len)
          pos += len
        } else tr.skip(wire)
      }
      val all = streams.result()
      def streamOf(kind: Int, column: Int): Option[Array[Byte]] =
        all.find(s => s.kind == kind && s.column == column)
          .flatMap(s => section(s.pos, s.len))
      // ROW_INDEX (kind 6) of column 1 → per-group statistics
      val rib = streamOf(6, 1).getOrElse(return None)
      val entries = Vector.newBuilder[OrcColStat]
      val rr = new Reader(rib, 0, rib.length)
      fields(rr) { (field, wire) =>
        if (field == 1 && wire == 2) { // RowIndexEntry
          val (f, u) = rr.bytes(rr.varint())
          val er = new Reader(rib, f, u)
          var stat: Option[OrcColStat] = None
          fields(er) { (ef, ew) =>
            if (ef == 2 && ew == 2) { // statistics
              val (cf, cu) = er.bytes(er.varint())
              stat = Some(colStat(rib, cf, cu))
            } else er.skip(ew)
          }
          entries += stat.getOrElse(throw OFail())
        } else rr.skip(wire)
      }
      val ri = entries.result()
      if (ri.isEmpty ||
        ri.exists(s => s.intMin.isEmpty || s.intMax.isEmpty))
        return None
      // BLOOM_FILTER_UTF8 (kind 8) → one BloomFilter per row group
      def blooms(column: Int): Vector[OrcBloomGroup] = {
        val bb = streamOf(8, column).getOrElse(throw OFail())
        val out = Vector.newBuilder[OrcBloomGroup]
        val br = new Reader(bb, 0, bb.length)
        fields(br) { (field, wire) =>
          if (field == 1 && wire == 2) { // BloomFilter
            val (f, u) = br.bytes(br.varint())
            var k = 0
            var bits: Array[Byte] = null
            val longs = Vector.newBuilder[Long]
            val gr = new Reader(bb, f, u)
            fields(gr) { (gf, gw) =>
              (gf, gw) match {
                case (1, 0) => k = gr.varint().toInt
                case (3, 2) => // utf8bitset: LE-serialized longs
                  val (a, b2) = gr.bytes(gr.varint())
                  bits = java.util.Arrays.copyOfRange(bb, a, b2)
                case (2, 1) => // repeated fixed64 bitset (old form)
                  val (a, _) = gr.bytes(8)
                  var v = 0L
                  var i = 0
                  while (i < 8) {
                    v |= (bb(a + i) & 0xffL) << (8 * i); i += 1
                  }
                  longs += v
                case _ => gr.skip(gw)
              }
            }
            if (bits == null) {
              val ls = longs.result()
              if (ls.isEmpty) throw OFail()
              bits = new Array[Byte](ls.length * 8)
              var i = 0
              while (i < ls.length) {
                var j = 0
                while (j < 8) {
                  bits(i * 8 + j) =
                    ((ls(i) >>> (8 * j)) & 0xff).toByte
                  j += 1
                }
                i += 1
              }
            }
            if (k <= 0 || k > 64 || bits.length == 0) throw OFail()
            out += OrcBloomGroup(k, bits)
          } else br.skip(wire)
        }
        out.result()
      }
      val idB = blooms(1)
      val sB = blooms(2)
      if (idB.length != ri.length || sB.length != ri.length)
        return None
      Some(OrcIndexInfo(ri.map(_.intMin.get), ri.map(_.intMax.get),
        idB, sB))
    } catch {
      case _: OFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  /** Hive/ORC Murmur3 hash64 (x64 variant low half, seed 104729)
    * — the string-column bloom hash.
    */
  def murmur3Hash64(data: Array[Byte]): Long = {
    val C1 = 0x87c37b91114253d5L
    val C2 = 0x4cf5ad432745937fL
    var h = 104729L
    val nblocks = data.length >> 3
    var i = 0
    while (i < nblocks) {
      val i8 = i << 3
      var k = 0L
      var j = 0
      while (j < 8) {
        k |= (data(i8 + j) & 0xffL) << (8 * j); j += 1
      }
      k *= C1; k = java.lang.Long.rotateLeft(k, 31); k *= C2
      h ^= k
      h = java.lang.Long.rotateLeft(h, 27) * 5 + 0x52dce729L
      i += 1
    }
    val tailStart = nblocks << 3
    val rem = data.length - tailStart
    if (rem > 0) {
      var k1 = 0L
      var t = rem
      while (t > 0) {
        t -= 1
        k1 ^= (data(tailStart + t) & 0xffL) << (8 * t)
      }
      k1 *= C1; k1 = java.lang.Long.rotateLeft(k1, 31); k1 *= C2
      h ^= k1
    }
    h ^= data.length
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Thomas Wang's 64-bit integer mix — the long-column bloom hash
    * (ORC hashes longs directly, no byte serialization). NOTE the
    * SIGNED right shifts: the reference implementation uses `>>`
    * (verified against the classpath ORC writer's bytecode — lshr,
    * not lushr), which maps 0 → 0 because the first step's -1
    * stays -1 under an arithmetic shift; an unsigned variant agrees
    * on every positive intermediate but diverges exactly there.
    */
  def wangHash64(v: Long): Long = {
    var key = v
    key = (~key) + (key << 21)
    key = key ^ (key >> 24)
    key = (key + (key << 3)) + (key << 8)
    key = key ^ (key >> 14)
    key = (key + (key << 2)) + (key << 4)
    key = key ^ (key >> 28)
    key = key + (key << 31)
    key
  }

  /** Membership probe: k positions from h1 + i*h2 (bitwise-negated
    * when negative) mod numBits, over the little-endian bitset.
    */
  def orcBloomTest(g: OrcBloomGroup, hash64: Long): Boolean = {
    val m = g.bits.length * 8
    val h1 = hash64.toInt
    val h2 = (hash64 >>> 32).toInt
    var i = 1
    while (i <= g.k) {
      var c = h1 + i * h2
      if (c < 0) c = ~c
      val pos = c % m
      if ((g.bits(pos >>> 3) & (1 << (pos & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** The committed bloom fixture (fx6: blooms on both columns,
    * 1000-row index stride), loaded once per executor.
    */
  lazy val BloomFixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/orc/fx6.orc")
    require(in != null, "missing orc bloom fixture")
    try in.readAllBytes() finally in.close()
  }

  /** Per-row-group 200-wide absent-probe windows verified (by
    * exhaustive scan of the committed fixture) to contain ZERO
    * false positives on BOTH columns' blooms of that group — what
    * makes the absent checks deterministic for the oracle. A
    * regenerated fixture re-derives these (OrcBloomSpec pins them).
    */
  val BloomAbsentBase: IndexedSeq[Long] =
    IndexedSeq(5500L, 6300L, 29300L, 19200L, 8600L)

  /** One row per doc: the index-tier census plus LIVE membership
    * probes derived from the doc id against the probe's OWN row
    * group — member probes must hit (no false negatives) and
    * absent probes come from the fixture's verified zero-FP window
    * for that group ([[BloomAbsentBase]]).
    * The index is parsed ONCE per partition and probed per row.
    */
  def orcBloomRows(df: DataFrame, idCol: String): DataFrame = {
    val ii = df.schema.fieldIndex(idCol)
    val schema = StructType(Seq(
      df.schema.fields(ii),
      StructField("n_row_groups", IntegerType),
      StructField("n_hash", IntegerType),
      StructField("bitset_bytes", IntegerType),
      StructField("ri_mins", StringType),
      StructField("ri_maxs", StringType),
      StructField("member_hit", BooleanType),
      StructField("s_member_hit", BooleanType),
      StructField("absent_hit", BooleanType),
      StructField("s_absent_hit", BooleanType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      val info = orcIndexInfo(BloomFixture)
      it.map { r =>
        val id = r.get(ii) match {
          case l: java.lang.Long => l.longValue()
          case x => x.hashCode().toLong
        }
        val member = java.lang.Math.floorMod(id, 5000L)
        val own = (member / 1000L).toInt
        val absent = BloomAbsentBase(own) +
          java.lang.Math.floorMod(id, 200L)
        info match {
          case Some(ix) =>
            def tL(v: Long) =
              orcBloomTest(ix.idBlooms(own), wangHash64(v))
            def tS(v: String) = orcBloomTest(ix.sBlooms(own),
              murmur3Hash64(v.getBytes(
                java.nio.charset.StandardCharsets.UTF_8)))
            Row(r.get(ii), ix.riMins.length,
              ix.idBlooms.head.k, ix.idBlooms.head.bits.length,
              ix.riMins.mkString(","), ix.riMaxs.mkString(","),
              tL(member), tS(s"v$member"),
              tL(absent), tS(s"v$absent"))
          case None =>
            Row(r.get(ii), null, null, null, null, null, null,
              null, null, null)
        }
      }
    }(enc)
  }

  /** The committed reference fixtures, loaded once per executor. */
  lazy val Fixtures: IndexedSeq[Array[Byte]] = {
    (0 until 5).map { i =>
      val in = getClass.getResourceAsStream(s"/orc/fx$i.orc")
      require(in != null, s"missing orc fixture $i")
      try in.readAllBytes() finally in.close()
    }
  }

  /** The deliberately-striped stats fixture (5000 rows, exact
    * 1000-row stripes via orc.stripe.row.count; see OrcFixtureGen).
    */
  lazy val StatsFixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/orc/fx5.orc")
    require(in != null, "missing orc stats fixture")
    try in.readAllBytes() finally in.close()
  }

  /** Per-row stats-fixture attach (map-only). */
  def synthOrcStats(df: DataFrame, outCol: String): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      val fx = StatsFixture
      it.map(r => Row.fromSeq(r.toSeq :+ fx))
    }(enc)
  }

  /** Per-row fixture attach: doc_id % 5 selects the Spark-written
    * reference file (map-only).
    */
  def synthOrcs(df: DataFrame, idCol: String, outCol: String)
      : DataFrame = {
    val ii = df.schema.fieldIndex(idCol)
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val id = r.get(ii) match {
          case l: java.lang.Long => l.longValue()
          case x => x.hashCode().toLong
        }
        Row.fromSeq(r.toSeq :+
          Fixtures(java.lang.Math.floorMod(id, 5L).toInt))
      }
    }(enc)
  }
}
