package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Parquet FOOTER triage from raw bytes (the public parquet-format
  * spec: `PAR1` magic at both ends, a thrift COMPACT-protocol
  * FileMetaData before the 4-byte footer length). Data lakes and
  * crawls carry .parquet blobs as opaque binary columns all the
  * time; triage needs the footer — row counts, schema shape,
  * codecs, writer — without launching a read job per blob, and
  * without trusting the blob enough to hand it to a full reader.
  *
  * The thrift compact walk is implemented from the public protocol
  * spec (field-delta headers, zigzag varints, size-prefixed lists)
  * with a generic skip for every field this triage does not
  * surface. Surfaced: format version, total rows, row-group count,
  * leaf-column count and names (schema elements with no children),
  * the distinct compression codecs, and created_by.
  *
  * Pinning: the fixtures are written by Spark's own parquet-mr —
  * THE reference implementation, right on this classpath — across
  * five codecs and a nested schema; the walk must replay exactly
  * what the reference writer planted.
  *
  * Totality: None on damage; depth/size bounds. Scale: per-value,
  * map-only — footer-only, never touches page data.
  */
object ParquetMeta {

  private val MaxList = 100000
  private val MaxDepth = 24

  final case class PqMeta(version: Int, numRows: Long,
      nRowGroups: Int, nLeafColumns: Int, leafNames: Seq[String],
      codecs: Seq[String], createdBy: String)

  private[operators] final case class QFail() extends RuntimeException

  private[operators] final class Reader(b: Array[Byte], var p: Int,
      val end: Int) {
    def u8(): Int = {
      if (p >= end) throw QFail()
      val v = b(p) & 0xff
      p += 1
      v
    }
    def varint(): Long = {
      var v = 0L
      var shift = 0
      while (true) {
        if (shift > 63) throw QFail()
        val x = u8()
        v |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return v
        shift += 7
      }
      0L
    }
    def zigzag(): Long = {
      val v = varint()
      (v >>> 1) ^ -(v & 1)
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || n > end - p) throw QFail()
      val out = java.util.Arrays.copyOfRange(b, p, p + n)
      p += n
      out
    }
  }

  /** Skip one compact-protocol value of `typ`. */
  private[operators] def skip(r: Reader, typ: Int, depth: Int): Unit = {
    if (depth > MaxDepth) throw QFail()
    typ match {
      case 1 | 2 => () // bool encoded in the field header
      case 3 | 4 | 5 | 6 => r.varint()
      case 7 => r.bytes(8)
      case 8 => r.bytes(r.varint().toInt)
      case 9 | 10 => // list / set
        val h = r.u8()
        var n = (h >>> 4) & 0x0f
        if (n == 15) n = r.varint().toInt
        if (n < 0 || n > MaxList) throw QFail()
        val et = h & 0x0f
        var i = 0
        while (i < n) { skip(r, et, depth + 1); i += 1 }
      case 11 => // map
        val n = r.varint().toInt
        if (n < 0 || n > MaxList) throw QFail()
        if (n > 0) {
          val kv = r.u8()
          val kt = (kv >>> 4) & 0x0f
          val vt = kv & 0x0f
          var i = 0
          while (i < n) {
            skip(r, kt, depth + 1); skip(r, vt, depth + 1)
            i += 1
          }
        }
      case 12 => skipStruct(r, depth + 1)
      case _ => throw QFail()
    }
  }

  private[operators] def skipStruct(r: Reader, depth: Int): Unit = {
    if (depth > MaxDepth) throw QFail()
    var done = false
    while (!done) {
      val h = r.u8()
      if (h == 0) done = true
      else {
        val typ = h & 0x0f
        if ((h >>> 4) == 0) r.zigzag() // long-form field id
        skip(r, typ, depth)
      }
    }
  }

  /** Walk one struct invoking `f(fieldId, typ)` per field; `f`
    * must consume the value (or call skip).
    */
  private[operators] def struct(r: Reader, depth: Int)(
      f: (Int, Int) => Unit): Unit = {
    if (depth > MaxDepth) throw QFail()
    var fid = 0
    var done = false
    while (!done) {
      val h = r.u8()
      if (h == 0) done = true
      else {
        val delta = (h >>> 4) & 0x0f
        val typ = h & 0x0f
        fid = if (delta == 0) r.zigzag().toInt else fid + delta
        f(fid, typ)
      }
    }
  }

  private[operators] def list(r: Reader)(f: Int => Unit): Unit = {
    val h = r.u8()
    var n = (h >>> 4) & 0x0f
    if (n == 15) n = r.varint().toInt
    if (n < 0 || n > MaxList) throw QFail()
    val et = h & 0x0f
    var i = 0
    while (i < n) { f(et); i += 1 }
  }

  private val CodecNames = Map(0 -> "uncompressed", 1 -> "snappy",
    2 -> "gzip", 3 -> "lzo", 4 -> "brotli", 5 -> "lz4",
    6 -> "zstd", 7 -> "lz4_raw")

  /** Parse a parquet file's footer. None on damage. */
  def parquetMeta(b: Array[Byte]): Option[PqMeta] = {
    if (b == null || b.length < 12) return None
    def magic(o: Int): Boolean = b(o) == 'P' && b(o + 1) == 'A' &&
      b(o + 2) == 'R' && b(o + 3) == '1'
    if (!magic(0) || !magic(b.length - 4)) return None
    val mdLen = (b(b.length - 8) & 0xff) |
      ((b(b.length - 7) & 0xff) << 8) |
      ((b(b.length - 6) & 0xff) << 16) |
      ((b(b.length - 5) & 0xff) << 24)
    if (mdLen <= 0 || mdLen > b.length - 12) return None
    val from = b.length - 8 - mdLen
    try {
      val r = new Reader(b, from, b.length - 8)
      var version = -1
      var numRows = -1L
      var nRowGroups = 0
      val leaves = Seq.newBuilder[String]
      var nLeaves = 0
      val codecs = scala.collection.mutable.SortedSet[String]()
      var createdBy = ""
      struct(r, 0) { (fid, typ) =>
        fid match {
          case 1 if typ == 5 => version = r.zigzag().toInt
          case 2 if typ == 9 => // schema: list<SchemaElement>
            var first = true
            list(r) { et =>
              if (et != 12) throw QFail()
              var name = ""
              var children = 0
              struct(r, 1) { (sf, st) =>
                sf match {
                  case 4 if st == 8 =>
                    name = new String(r.bytes(r.varint().toInt),
                      java.nio.charset.StandardCharsets.UTF_8)
                  case 5 if st == 5 =>
                    children = r.zigzag().toInt
                  case _ => skip(r, st, 2)
                }
              }
              // the first element is the root; leaves have no
              // children
              if (!first && children == 0) {
                leaves += name
                nLeaves += 1
              }
              first = false
            }
          case 3 if typ == 6 => numRows = r.zigzag()
          case 4 if typ == 9 => // row_groups
            list(r) { et =>
              if (et != 12) throw QFail()
              nRowGroups += 1
              struct(r, 1) { (rf, rt) =>
                rf match {
                  case 1 if rt == 9 => // columns
                    list(r) { ct =>
                      if (ct != 12) throw QFail()
                      struct(r, 2) { (cf, cty) =>
                        cf match {
                          case 3 if cty == 12 => // ColumnMetaData
                            struct(r, 3) { (mf, mt) =>
                              mf match {
                                case 4 if mt == 5 =>
                                  val c = r.zigzag().toInt
                                  codecs += CodecNames
                                    .getOrElse(c, s"codec$c")
                                case _ => skip(r, mt, 4)
                              }
                            }
                          case _ => skip(r, cty, 3)
                        }
                      }
                    }
                  case _ => skip(r, rt, 2)
                }
              }
            }
          case 6 if typ == 8 =>
            createdBy = new String(r.bytes(r.varint().toInt),
              java.nio.charset.StandardCharsets.UTF_8)
          case _ => skip(r, typ, 1)
        }
      }
      if (version < 0 || numRows < 0) return None
      Some(PqMeta(version, numRows, nRowGroups, nLeaves,
        leaves.result(), codecs.toSeq, createdBy))
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  // ---------------------------------------------------------------
  // column statistics (C238): the zone-map tier — per row group and
  // leaf column, the min/max/null-count facts a lake census uses to
  // prove file-skipping potential WITHOUT reading page data. Thrift
  // fields per the public parquet.thrift: ColumnMetaData 1 type /
  // 3 path_in_schema / 5 num_values / 12 Statistics {3 null_count,
  // 5 max_value, 6 min_value}.
  // ---------------------------------------------------------------

  final case class PqColStat(rowGroup: Int, path: String,
      ptype: String, numValues: Long, nullCount: Long,
      minLong: Option[Long], maxLong: Option[Long],
      minStr: Option[String], maxStr: Option[String])

  private val TypeNames = Map(0 -> "boolean", 1 -> "int32",
    2 -> "int64", 3 -> "int96", 4 -> "float", 5 -> "double",
    6 -> "byte_array", 7 -> "fixed_len_byte_array")

  private def leLong(b: Array[Byte], n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n && i < b.length) {
      v |= (b(i) & 0xffL) << (8 * i)
      i += 1
    }
    // sign-extend int32
    if (n == 4) (v << 32) >> 32 else v
  }

  /** Per-(row group, leaf column) statistics. None on damage. */
  def parquetColumnStats(b: Array[Byte]): Option[Seq[PqColStat]] = {
    if (b == null || b.length < 12) return None
    def magic(o: Int): Boolean = b(o) == 'P' && b(o + 1) == 'A' &&
      b(o + 2) == 'R' && b(o + 3) == '1'
    if (!magic(0) || !magic(b.length - 4)) return None
    val mdLen = (b(b.length - 8) & 0xff) |
      ((b(b.length - 7) & 0xff) << 8) |
      ((b(b.length - 6) & 0xff) << 16) |
      ((b(b.length - 5) & 0xff) << 24)
    if (mdLen <= 0 || mdLen > b.length - 12) return None
    try {
      val r = new Reader(b, b.length - 8 - mdLen, b.length - 8)
      val out = Seq.newBuilder[PqColStat]
      var rg = -1
      struct(r, 0) { (fid, typ) =>
        fid match {
          case 4 if typ == 9 => // row_groups
            list(r) { et =>
              if (et != 12) throw QFail()
              rg += 1
              val rgAt = rg
              struct(r, 1) { (rf, rt) =>
                rf match {
                  case 1 if rt == 9 => // columns
                    list(r) { ct =>
                      if (ct != 12) throw QFail()
                      struct(r, 2) { (cf, cty) =>
                        cf match {
                          case 3 if cty == 12 => // ColumnMetaData
                            var ptype = ""
                            var path = ""
                            var numValues = -1L
                            var nullCount = -1L
                            var minV: Array[Byte] = null
                            var maxV: Array[Byte] = null
                            struct(r, 3) { (mf, mt) =>
                              mf match {
                                case 1 if mt == 5 =>
                                  ptype = TypeNames.getOrElse(
                                    r.zigzag().toInt, "?")
                                case 3 if mt == 9 =>
                                  val parts =
                                    Seq.newBuilder[String]
                                  list(r) { pt =>
                                    if (pt != 8) throw QFail()
                                    parts += new String(
                                      r.bytes(r.varint().toInt),
                                      java.nio.charset
                                        .StandardCharsets.UTF_8)
                                  }
                                  path =
                                    parts.result().mkString(".")
                                case 5 if mt == 6 =>
                                  numValues = r.zigzag()
                                case 12 if mt == 12 => // Statistics
                                  struct(r, 4) { (sf, st) =>
                                    sf match {
                                      case 3 if st == 6 =>
                                        nullCount = r.zigzag()
                                      case 5 if st == 8 =>
                                        maxV = r.bytes(
                                          r.varint().toInt)
                                      case 6 if st == 8 =>
                                        minV = r.bytes(
                                          r.varint().toInt)
                                      case _ => skip(r, st, 5)
                                    }
                                  }
                                case _ => skip(r, mt, 4)
                              }
                            }
                            val isInt = ptype == "int32" ||
                              ptype == "int64"
                            val isStr = ptype == "byte_array"
                            val w = if (ptype == "int32") 4 else 8
                            out += PqColStat(rgAt, path, ptype,
                              numValues, nullCount,
                              if (isInt && minV != null)
                                Some(leLong(minV, w)) else None,
                              if (isInt && maxV != null)
                                Some(leLong(maxV, w)) else None,
                              if (isStr && minV != null)
                                Some(new String(minV,
                                  java.nio.charset
                                    .StandardCharsets.UTF_8))
                              else None,
                              if (isStr && maxV != null)
                                Some(new String(maxV,
                                  java.nio.charset
                                    .StandardCharsets.UTF_8))
                              else None)
                          case _ => skip(r, cty, 3)
                        }
                      }
                    }
                  case _ => skip(r, rt, 2)
                }
              }
            }
          case _ => skip(r, typ, 1)
        }
      }
      Some(out.result())
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  /** One row per (row group, leaf column) with its zone-map facts. */
  def statsRows(df: DataFrame, idCol: String, contentCol: String)
      : DataFrame = {
    val (ii, ci) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(contentCol))
    val schema = StructType(Seq(
      df.schema.fields(ii),
      StructField("rg", IntegerType),
      StructField("col_path", StringType),
      StructField("ptype", StringType),
      StructField("num_values", LongType),
      StructField("null_count", LongType),
      StructField("min_long", LongType),
      StructField("max_long", LongType),
      StructField("min_str", StringType),
      StructField("max_str", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(ii)
        parquetColumnStats(r.getAs[Array[Byte]](ci)).toSeq.flatten
          .map { s =>
            Row(id, s.rowGroup, s.path, s.ptype, s.numValues,
              s.nullCount,
              s.minLong.map(java.lang.Long.valueOf).orNull,
              s.maxLong.map(java.lang.Long.valueOf).orNull,
              s.minStr.orNull, s.maxStr.orNull)
          }
      }
    }(enc)
  }

  // ---------------------------------------------------------------
  // bloom filters + page indexes (round 17): the THIRD skipping
  // mechanism after row-group zone maps (above) and ORC stripe
  // stats — a split-block bloom answers "can this file contain
  // value v?" for point lookups where min/max ranges are useless
  // (high-cardinality ids). Thrift fields per parquet.thrift:
  // ColumnChunk 4/6 offset_index_offset/column_index_offset,
  // ColumnMetaData 14/15 bloom_filter_offset/length; the filter
  // itself is a compact-protocol BloomFilterHeader followed by the
  // raw bitset; membership is the spec's split-block check over
  // xxHash64(plain-encoded value, seed 0) — the hash rides
  // [[Zstd.xxhash64]] (lz4-java's XXH64).
  // ---------------------------------------------------------------

  final case class PqBloomCol(path: String, ptype: String,
      bloomOffset: Option[Long], bloomLength: Option[Long],
      hasColumnIndex: Boolean, hasOffsetIndex: Boolean)

  /** Per-(first row group) column skipping machinery. None on
    * damage.
    */
  def parquetBloomIndex(b: Array[Byte]): Option[Seq[PqBloomCol]] = {
    if (b == null || b.length < 12) return None
    def magic(o: Int): Boolean = b(o) == 'P' && b(o + 1) == 'A' &&
      b(o + 2) == 'R' && b(o + 3) == '1'
    if (!magic(0) || !magic(b.length - 4)) return None
    val mdLen = (b(b.length - 8) & 0xff) |
      ((b(b.length - 7) & 0xff) << 8) |
      ((b(b.length - 6) & 0xff) << 16) |
      ((b(b.length - 5) & 0xff) << 24)
    if (mdLen <= 0 || mdLen > b.length - 12) return None
    try {
      val r = new Reader(b, b.length - 8 - mdLen, b.length - 8)
      val out = Seq.newBuilder[PqBloomCol]
      var rg = -1
      struct(r, 0) { (fid, typ) =>
        fid match {
          case 4 if typ == 9 => // row_groups
            list(r) { et =>
              if (et != 12) throw QFail()
              rg += 1
              val rgAt = rg
              struct(r, 1) { (rf, rt) =>
                rf match {
                  case 1 if rt == 9 => // columns: list<ColumnChunk>
                    list(r) { ct =>
                      if (ct != 12) throw QFail()
                      var path = ""
                      var ptype = ""
                      var bOff: Option[Long] = None
                      var bLen: Option[Long] = None
                      var hasCi = false
                      var hasOi = false
                      struct(r, 2) { (cf, cty) =>
                        cf match {
                          case 3 if cty == 12 => // ColumnMetaData
                            struct(r, 3) { (mf, mt) =>
                              mf match {
                                case 1 if mt == 5 =>
                                  ptype = TypeNames.getOrElse(
                                    r.zigzag().toInt, "?")
                                case 3 if mt == 9 =>
                                  val parts = Seq.newBuilder[String]
                                  list(r) { pt =>
                                    if (pt != 8) throw QFail()
                                    parts += new String(
                                      r.bytes(r.varint().toInt),
                                      java.nio.charset
                                        .StandardCharsets.UTF_8)
                                  }
                                  path = parts.result()
                                    .mkString(".")
                                case 14 if mt == 6 =>
                                  bOff = Some(r.zigzag())
                                case 15 if mt == 5 =>
                                  bLen = Some(r.zigzag())
                                case _ => skip(r, mt, 4)
                              }
                            }
                          case 4 if cty == 6 =>
                            r.zigzag(); hasOi = true
                          case 6 if cty == 6 =>
                            r.zigzag(); hasCi = true
                          case _ => skip(r, cty, 3)
                        }
                      }
                      if (rgAt == 0)
                        out += PqBloomCol(path, ptype, bOff, bLen,
                          hasCi, hasOi)
                    }
                  case _ => skip(r, rt, 2)
                }
              }
            }
          case _ => skip(r, typ, 1)
        }
      }
      Some(out.result())
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  // ---------------------------------------------------------------
  // PAGE-level column indexes (round 18) — parquet's intra-row-
  // group skipping tier (PARQUET-1201), the parity of ORC's
  // row-group indexes: per column chunk, a ColumnIndex struct
  // (null_pages, per-page min/max value bytes, boundary_order,
  // null_counts) and an OffsetIndex (page_locations with
  // first_row_index) live OUTSIDE the footer at offsets the
  // ColumnChunk records. A reader prunes PAGES with these before
  // decompressing anything — at 100 TB the difference between
  // reading a row group and reading one page of it.
  // ---------------------------------------------------------------

  final case class PqPageCol(path: String,
      nullPages: Vector[Boolean], minBytes: Vector[Array[Byte]],
      maxBytes: Vector[Array[Byte]], boundaryOrder: Int,
      firstRows: Vector[Long])

  /** Parse row-group-0 page indexes for every column that carries
    * them. None on damage or when no column has an index.
    */
  def parquetPageIndex(b: Array[Byte]): Option[Seq[PqPageCol]] = {
    val cols = parquetPageLocs(b).getOrElse(return None)
    if (cols.isEmpty) return None
    try {
      val out = cols.map { case (path, ciOff, ciLen, oiOff, oiLen) =>
        if (ciOff < 0 || ciLen <= 0 || ciOff + ciLen > b.length ||
          oiOff < 0 || oiLen <= 0 || oiOff + oiLen > b.length)
          throw QFail()
        val cr = new Reader(b, ciOff.toInt, (ciOff + ciLen).toInt)
        val nulls = Vector.newBuilder[Boolean]
        val mins = Vector.newBuilder[Array[Byte]]
        val maxs = Vector.newBuilder[Array[Byte]]
        var bo = -1
        struct(cr, 0) { (fid, typ) =>
          fid match {
            case 1 if typ == 9 => // null_pages: list<bool>
              list(cr) { et =>
                if (et != 1 && et != 2) throw QFail()
                nulls += (cr.u8() == 1)
              }
            case 2 if typ == 9 => // min_values: list<binary>
              list(cr) { et =>
                if (et != 8) throw QFail()
                mins += cr.bytes(cr.varint().toInt)
              }
            case 3 if typ == 9 => // max_values
              list(cr) { et =>
                if (et != 8) throw QFail()
                maxs += cr.bytes(cr.varint().toInt)
              }
            case 4 if typ == 5 => bo = cr.zigzag().toInt
            case _ => skip(cr, typ, 1)
          }
        }
        val or = new Reader(b, oiOff.toInt, (oiOff + oiLen).toInt)
        val firsts = Vector.newBuilder[Long]
        struct(or, 0) { (fid, typ) =>
          fid match {
            case 1 if typ == 9 => // page_locations
              list(or) { et =>
                if (et != 12) throw QFail()
                var first = -1L
                struct(or, 1) { (pf, pt) =>
                  pf match {
                    case 3 if pt == 6 => first = or.zigzag()
                    case _ => skip(or, pt, 2)
                  }
                }
                if (first < 0) throw QFail()
                firsts += first
              }
            case _ => skip(or, typ, 1)
          }
        }
        val (n, m, x, f) =
          (nulls.result(), mins.result(), maxs.result(),
            firsts.result())
        if (n.isEmpty || n.length != m.length ||
          m.length != x.length || f.length != n.length)
          throw QFail()
        PqPageCol(path, n, m, x, bo, f)
      }
      Some(out)
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  /** Footer walk collecting (path, columnIndex off/len,
    * offsetIndex off/len) for row group 0 columns that have BOTH
    * indexes.
    */
  private def parquetPageLocs(b: Array[Byte])
      : Option[Seq[(String, Long, Long, Long, Long)]] = {
    if (b == null || b.length < 12) return None
    def magic(o: Int): Boolean = b(o) == 'P' && b(o + 1) == 'A' &&
      b(o + 2) == 'R' && b(o + 3) == '1'
    if (!magic(0) || !magic(b.length - 4)) return None
    val mdLen = (b(b.length - 8) & 0xff) |
      ((b(b.length - 7) & 0xff) << 8) |
      ((b(b.length - 6) & 0xff) << 16) |
      ((b(b.length - 5) & 0xff) << 24)
    if (mdLen <= 0 || mdLen > b.length - 12) return None
    try {
      val r = new Reader(b, b.length - 8 - mdLen, b.length - 8)
      val out = Seq.newBuilder[(String, Long, Long, Long, Long)]
      var rg = -1
      struct(r, 0) { (fid, typ) =>
        fid match {
          case 4 if typ == 9 =>
            list(r) { et =>
              if (et != 12) throw QFail()
              rg += 1
              val rgAt = rg
              struct(r, 1) { (rf, rt) =>
                rf match {
                  case 1 if rt == 9 =>
                    list(r) { ct =>
                      if (ct != 12) throw QFail()
                      var path = ""
                      var ciO, ciL, oiO, oiL = -1L
                      struct(r, 2) { (cf, cty) =>
                        cf match {
                          case 3 if cty == 12 =>
                            struct(r, 3) { (mf, mt) =>
                              mf match {
                                case 3 if mt == 9 =>
                                  val parts = Seq.newBuilder[String]
                                  list(r) { pt =>
                                    if (pt != 8) throw QFail()
                                    parts += new String(
                                      r.bytes(r.varint().toInt),
                                      java.nio.charset
                                        .StandardCharsets.UTF_8)
                                  }
                                  path = parts.result()
                                    .mkString(".")
                                case _ => skip(r, mt, 4)
                              }
                            }
                          case 4 if cty == 6 => oiO = r.zigzag()
                          case 5 if cty == 5 => oiL = r.zigzag()
                          case 6 if cty == 6 => ciO = r.zigzag()
                          case 7 if cty == 5 => ciL = r.zigzag()
                          case _ => skip(r, cty, 3)
                        }
                      }
                      if (rgAt == 0 && ciO >= 0 && ciL > 0 &&
                        oiO >= 0 && oiL > 0)
                        out += ((path, ciO, ciL, oiO, oiL))
                    }
                  case _ => skip(r, rt, 2)
                }
              }
            }
          case _ => skip(r, typ, 1)
        }
      }
      Some(out.result())
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  private def leLong8(a: Array[Byte]): Long = {
    if (a.length != 8) throw QFail()
    var v = 0L
    var i = 0
    while (i < 8) { v |= (a(i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** The committed page-index fixture (fx6: exact 1000-row pages,
    * one row group), loaded once per executor.
    */
  lazy val PageFixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/parquet/fx6.parquet")
    require(in != null, "missing parquet page-index fixture")
    try in.readAllBytes() finally in.close()
  }

  /** The committed nullable low-cardinality fixture (fx7: every
    * 7th tag NULL, 5 distinct values → dictionary + definition
    * levels on the wire).
    */
  lazy val NullableFixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/parquet/fx7.parquet")
    require(in != null, "missing parquet nullable fixture")
    try in.readAllBytes() finally in.close()
  }

  /** One row per doc: the page-index census of the committed
    * fixture — page count, boundary order, the id column's decoded
    * per-page [min,max] and the OffsetIndex first-row list as CSVs
    * (the engine does the pruning arithmetic with codegen'd array
    * functions), plus the string column's first/last page bounds.
    * Parsed ONCE per partition.
    */
  def pageIndexRows(df: DataFrame, idCol: String): DataFrame = {
    val ii = df.schema.fieldIndex(idCol)
    val schema = StructType(Seq(
      df.schema.fields(ii),
      StructField("n_pages", IntegerType),
      StructField("boundary_order", IntegerType),
      StructField("n_null_pages", IntegerType),
      StructField("page_mins", StringType),
      StructField("page_maxs", StringType),
      StructField("first_rows", StringType),
      StructField("s_first_min", StringType),
      StructField("s_last_max", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      val parsed = parquetPageIndex(PageFixture)
      val idCol0 = parsed.flatMap(_.find(_.path == "id"))
      val sCol0 = parsed.flatMap(_.find(_.path == "s"))
      it.map { r =>
        (idCol0, sCol0) match {
          case (Some(ic), Some(sc)) =>
            Row(r.get(ii), ic.minBytes.length, ic.boundaryOrder,
              ic.nullPages.count(identity),
              ic.minBytes.map(leLong8).mkString(","),
              ic.maxBytes.map(leLong8).mkString(","),
              ic.firstRows.mkString(","),
              new String(sc.minBytes.head,
                java.nio.charset.StandardCharsets.UTF_8),
              new String(sc.maxBytes.last,
                java.nio.charset.StandardCharsets.UTF_8))
          case _ =>
            Row(r.get(ii), null, null, null, null, null, null,
              null, null)
        }
      }
    }(enc)
  }

  // ---------------------------------------------------------------
  // DATA-PAGE decode (round 18) — actually reading VALUES from a
  // parquet column chunk with house code end-to-end: page headers
  // (compact thrift), snappy decompression, the dictionary page
  // (PLAIN), and the RLE/bit-packed hybrid of dictionary indices —
  // the wire format every parquet reader speaks (format spec
  // "Data Pages" + "Encodings"). Scoped to REQUIRED flat INT64
  // columns (no definition/repetition levels on the wire — the
  // spec omits both when max level is 0); anything else refuses.
  // ---------------------------------------------------------------

  final case class PqColumnRead(values: Array[Long], nDataPages: Int,
      nDictEntries: Int)

  /** Locate (codec, numValues, firstPageOffset) for a named column
    * of row group 0.
    */
  private def chunkInfo(b: Array[Byte], wantPath: String)
      : Option[(Int, Long, Long)] = {
    if (b == null || b.length < 12) return None
    def magic(o: Int): Boolean = b(o) == 'P' && b(o + 1) == 'A' &&
      b(o + 2) == 'R' && b(o + 3) == '1'
    if (!magic(0) || !magic(b.length - 4)) return None
    val mdLen = (b(b.length - 8) & 0xff) |
      ((b(b.length - 7) & 0xff) << 8) |
      ((b(b.length - 6) & 0xff) << 16) |
      ((b(b.length - 5) & 0xff) << 24)
    if (mdLen <= 0 || mdLen > b.length - 12) return None
    try {
      val r = new Reader(b, b.length - 8 - mdLen, b.length - 8)
      var found: Option[(Int, Long, Long)] = None
      var rg = -1
      struct(r, 0) { (fid, typ) =>
        fid match {
          case 4 if typ == 9 =>
            list(r) { et =>
              if (et != 12) throw QFail()
              rg += 1
              val rgAt = rg
              struct(r, 1) { (rf, rt) =>
                rf match {
                  case 1 if rt == 9 =>
                    list(r) { ct =>
                      if (ct != 12) throw QFail()
                      var path = ""
                      var codec = -1
                      var nVals = -1L
                      var dataOff = -1L
                      var dictOff = -1L
                      struct(r, 2) { (cf, cty) =>
                        cf match {
                          case 3 if cty == 12 =>
                            struct(r, 3) { (mf, mt) =>
                              mf match {
                                case 3 if mt == 9 =>
                                  val parts = Seq.newBuilder[String]
                                  list(r) { pt =>
                                    if (pt != 8) throw QFail()
                                    parts += new String(
                                      r.bytes(r.varint().toInt),
                                      java.nio.charset
                                        .StandardCharsets.UTF_8)
                                  }
                                  path = parts.result().mkString(".")
                                case 4 if mt == 5 =>
                                  codec = r.zigzag().toInt
                                case 5 if mt == 6 =>
                                  nVals = r.zigzag()
                                case 9 if mt == 6 =>
                                  dataOff = r.zigzag()
                                case 11 if mt == 6 =>
                                  dictOff = r.zigzag()
                                case _ => skip(r, mt, 4)
                              }
                            }
                          case _ => skip(r, cty, 3)
                        }
                      }
                      if (rgAt == 0 && path == wantPath &&
                        codec >= 0 && nVals > 0 && dataOff >= 0) {
                        val first = if (dictOff >= 0 &&
                          dictOff < dataOff) dictOff else dataOff
                        found = Some((codec, nVals, first))
                      }
                    }
                  case _ => skip(r, rt, 2)
                }
              }
            }
          case _ => skip(r, typ, 1)
        }
      }
      found
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** RLE/bit-packed hybrid of `n` non-negative ints at `bitWidth`
    * (the dictionary-index encoding).
    */
  private[operators] def readHybrid(data: Array[Byte], from: Int, until: Int,
      bitWidth: Int, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var got = 0
    val r = new Reader(data, from, until)
    val byteW = (bitWidth + 7) / 8
    while (got < n) {
      val h = r.varint()
      if ((h & 1) == 0) { // RLE run
        val count = (h >>> 1).toInt
        if (count < 0 || count > n - got) throw QFail()
        var v = 0
        var i = 0
        while (i < byteW) { v |= (r.u8() << (8 * i)); i += 1 }
        java.util.Arrays.fill(out, got, got + count, v)
        got += count
      } else { // bit-packed groups of 8
        val groups = (h >>> 1).toInt
        if (groups < 0 || groups > (n - got) / 8 + 1) throw QFail()
        var bitBuf = 0L
        var bits = 0
        var i = 0
        val total = groups * 8
        while (i < total) {
          while (bits < bitWidth) {
            bitBuf |= (r.u8().toLong << bits)
            bits += 8
          }
          val v = (bitBuf & ((1L << bitWidth) - 1)).toInt
          bitBuf >>>= bitWidth
          bits -= bitWidth
          if (got < n) { out(got) = v; got += 1 }
          i += 1
        }
      }
    }
    out
  }

  /** Decode every value of a required flat INT64 column from the
    * raw bytes. None on refusal (nullable columns, unknown
    * encodings, codec or structural lies).
    */
  def readLongColumn(b: Array[Byte], path: String)
      : Option[PqColumnRead] = {
    // the footer schema must declare what this reader assumes
    // (REQUIRED flat INT64 — no def levels on the wire): an
    // OPTIONAL chunk's def-level prefix would otherwise be
    // misdecoded as values (r18 ADVICE)
    if (!ParquetTyped.leafInfo(b, path).exists(l =>
      l.ptype == 2 && l.maxDef == 0)) return None
    val (codec, nVals, firstOff) = chunkInfo(b, path)
      .getOrElse(return None)
    try {
      var dict: Array[Long] = null
      val values = new Array[Long](nVals.toInt)
      var got = 0
      var nDataPages = 0
      var p = firstOff.toInt
      while (got < nVals) {
        val r = new Reader(b, p, b.length)
        var pType = -1
        var uncomp = -1
        var comp = -1
        var numV = -1
        var enc = -1
        struct(r, 0) { (fid, typ) =>
          fid match {
            case 1 if typ == 5 => pType = r.zigzag().toInt
            case 2 if typ == 5 => uncomp = r.zigzag().toInt
            case 3 if typ == 5 => comp = r.zigzag().toInt
            case 5 if typ == 12 => // data_page_header
              struct(r, 1) { (df, dt) =>
                df match {
                  case 1 if dt == 5 => numV = r.zigzag().toInt
                  case 2 if dt == 5 => enc = r.zigzag().toInt
                  case _ => skip(r, dt, 2)
                }
              }
            case 7 if typ == 12 => // dictionary_page_header
              struct(r, 1) { (df, dt) =>
                df match {
                  case 1 if dt == 5 => numV = r.zigzag().toInt
                  case 2 if dt == 5 => enc = r.zigzag().toInt
                  case _ => skip(r, dt, 2)
                }
              }
            case _ => skip(r, typ, 1)
          }
        }
        if (comp < 0 || uncomp < 0 || numV < 0) throw QFail()
        val payloadAt = r.p
        if (payloadAt + comp > b.length) throw QFail()
        val raw = java.util.Arrays.copyOfRange(b, payloadAt,
          payloadAt + comp)
        def be32(a: Array[Byte], o: Int): Int =
          ((a(o) & 0xff) << 24) | ((a(o + 1) & 0xff) << 16) |
            ((a(o + 2) & 0xff) << 8) | (a(o + 3) & 0xff)
        val data = codec match {
          case 0 => raw
          case 1 => Snappy.decompress(raw, uncomp + 8)
            .getOrElse(throw QFail())
          case 2 => // gzip rides the JDK's inflater
            try {
              val in = new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(raw))
              try in.readAllBytes() finally in.close()
            } catch { case _: java.io.IOException => throw QFail() }
          case 5 => // Hadoop-framed LZ4: [be32 usize][be32 csize][block]*
            val o = new java.io.ByteArrayOutputStream()
            var q = 0
            while (q < raw.length) {
              if (q + 8 > raw.length) throw QFail()
              val ul = be32(raw, q)
              val cl = be32(raw, q + 4)
              if (ul < 0 || cl <= 0 || q + 8 + cl > raw.length)
                throw QFail()
              val blk = Lz4.decodeRawBlock(raw, q + 8, q + 8 + cl,
                ul).getOrElse(throw QFail())
              if (blk.length != ul) throw QFail()
              o.write(blk, 0, blk.length)
              q += 8 + cl
            }
            o.toByteArray
          case 6 => Zstd.decompress(raw).getOrElse(throw QFail())
          case 7 => Lz4.decodeRawBlock(raw, 0, raw.length, uncomp)
            .getOrElse(throw QFail())
          case _ => throw QFail()
        }
        if (data.length != uncomp) throw QFail()
        pType match {
          case 2 => // dictionary page: PLAIN longs
            if (enc != 0 && enc != 2) throw QFail()
            if (numV * 8 > data.length) throw QFail()
            dict = Array.tabulate(numV) { i =>
              var v = 0L
              var j = 0
              while (j < 8) {
                v |= (data(i * 8 + j) & 0xffL) << (8 * j); j += 1
              }
              v
            }
          case 0 => // data page v1
            nDataPages += 1
            enc match {
              case 0 => // PLAIN longs
                if (numV * 8 > data.length) throw QFail()
                var i = 0
                while (i < numV) {
                  var v = 0L
                  var j = 0
                  while (j < 8) {
                    v |= (data(i * 8 + j) & 0xffL) << (8 * j)
                    j += 1
                  }
                  values(got) = v; got += 1; i += 1
                }
              case 2 | 8 => // PLAIN_DICTIONARY / RLE_DICTIONARY
                if (dict == null || data.length < 1) throw QFail()
                val bw = data(0) & 0xff
                if (bw > 32) throw QFail()
                val idxs =
                  if (bw == 0) new Array[Int](numV)
                  else readHybrid(data, 1, data.length, bw, numV)
                var i = 0
                while (i < numV) {
                  val ix = idxs(i)
                  if (ix < 0 || ix >= dict.length) throw QFail()
                  values(got) = dict(ix); got += 1; i += 1
                }
              case _ => throw QFail()
            }
          case _ => throw QFail() // v2 pages out of scope
        }
        p = payloadAt + comp
      }
      if (got != nVals) return None
      Some(PqColumnRead(values, nDataPages,
        if (dict == null) 0 else dict.length))
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  final case class PqStrRead(values: Array[String],
      nNulls: Int, nDictEntries: Int)

  /** Decode every value of a flat BYTE_ARRAY column — NULLABLE
    * columns included: v1 data pages carry definition levels as a
    * 4-byte-length-prefixed RLE/bit-packed hybrid at max level 1,
    * then the defined values as PLAIN ([le32 len][bytes]) or
    * dictionary indices. None on refusal.
    */
  def readStringColumn(b: Array[Byte], path: String)
      : Option[PqStrRead] = {
    // mirror check: this reader always parses a def-level prefix,
    // so the footer must declare OPTIONAL BYTE_ARRAY — a REQUIRED
    // chunk has no prefix and would misparse (r18 ADVICE)
    if (!ParquetTyped.leafInfo(b, path).exists(l =>
      l.ptype == 6 && l.maxDef == 1)) return None
    val (codec, nVals, firstOff) = chunkInfo(b, path)
      .getOrElse(return None)
    try {
      var dict: Array[String] = null
      val values = new Array[String](nVals.toInt)
      var got = 0
      var nNulls = 0
      var p = firstOff.toInt
      def le32(a: Array[Byte], o: Int): Int =
        (a(o) & 0xff) | ((a(o + 1) & 0xff) << 8) |
          ((a(o + 2) & 0xff) << 16) | ((a(o + 3) & 0xff) << 24)
      while (got < nVals) {
        val r = new Reader(b, p, b.length)
        var pType = -1
        var uncomp = -1
        var comp = -1
        var numV = -1
        var enc = -1
        struct(r, 0) { (fid, typ) =>
          fid match {
            case 1 if typ == 5 => pType = r.zigzag().toInt
            case 2 if typ == 5 => uncomp = r.zigzag().toInt
            case 3 if typ == 5 => comp = r.zigzag().toInt
            case 5 if typ == 12 =>
              struct(r, 1) { (df, dt) =>
                df match {
                  case 1 if dt == 5 => numV = r.zigzag().toInt
                  case 2 if dt == 5 => enc = r.zigzag().toInt
                  case _ => skip(r, dt, 2)
                }
              }
            case 7 if typ == 12 =>
              struct(r, 1) { (df, dt) =>
                df match {
                  case 1 if dt == 5 => numV = r.zigzag().toInt
                  case 2 if dt == 5 => enc = r.zigzag().toInt
                  case _ => skip(r, dt, 2)
                }
              }
            case _ => skip(r, typ, 1)
          }
        }
        if (comp < 0 || uncomp < 0 || numV < 0) throw QFail()
        val payloadAt = r.p
        if (payloadAt + comp > b.length) throw QFail()
        val raw = java.util.Arrays.copyOfRange(b, payloadAt,
          payloadAt + comp)
        val data = codec match {
          case 0 => raw
          case 1 => Snappy.decompress(raw, uncomp + 8)
            .getOrElse(throw QFail())
          case _ => throw QFail() // string scope: none + snappy
        }
        if (data.length != uncomp) throw QFail()
        pType match {
          case 2 => // dictionary page: PLAIN byte arrays
            if (enc != 0 && enc != 2) throw QFail()
            val ds = Vector.newBuilder[String]
            var q = 0
            var i = 0
            while (i < numV) {
              if (q + 4 > data.length) throw QFail()
              val len = le32(data, q)
              if (len < 0 || q + 4 + len > data.length)
                throw QFail()
              ds += new String(data, q + 4, len,
                java.nio.charset.StandardCharsets.UTF_8)
              q += 4 + len
              i += 1
            }
            dict = ds.result().toArray
          case 0 => // data page v1: [le32 defLen][def hybrid][values]
            if (data.length < 4) throw QFail()
            val defLen = le32(data, 0)
            if (defLen < 0 || 4 + defLen > data.length)
              throw QFail()
            val defs = readHybrid(data, 4, 4 + defLen, 1, numV)
            val nDef = defs.count(_ == 1)
            var q = 4 + defLen
            val defined = new Array[String](nDef)
            enc match {
              case 0 => // PLAIN
                var i = 0
                while (i < nDef) {
                  if (q + 4 > data.length) throw QFail()
                  val len = le32(data, q)
                  if (len < 0 || q + 4 + len > data.length)
                    throw QFail()
                  defined(i) = new String(data, q + 4, len,
                    java.nio.charset.StandardCharsets.UTF_8)
                  q += 4 + len
                  i += 1
                }
              case 2 | 8 => // dictionary indices
                if (dict == null || q >= data.length) throw QFail()
                val bw = data(q) & 0xff
                if (bw > 32) throw QFail()
                val idxs =
                  if (bw == 0) new Array[Int](nDef)
                  else readHybrid(data, q + 1, data.length, bw, nDef)
                var i = 0
                while (i < nDef) {
                  val ix = idxs(i)
                  if (ix < 0 || ix >= dict.length) throw QFail()
                  defined(i) = dict(ix)
                  i += 1
                }
              case _ => throw QFail()
            }
            var di = 0
            defs.foreach { d =>
              if (d == 1) { values(got) = defined(di); di += 1 }
              else { values(got) = null; nNulls += 1 }
              got += 1
            }
          case _ => throw QFail()
        }
        p = payloadAt + comp
      }
      if (got != nVals) return None
      Some(PqStrRead(values, nNulls,
        if (dict == null) 0 else dict.length))
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  val pageReadSchema: StructType = StructType(Seq(
    StructField("n_values", IntegerType),
    StructField("n_data_pages", IntegerType),
    StructField("n_dict_entries", IntegerType),
    StructField("values_sum", LongType),
    StructField("v_min", LongType),
    StructField("v_max", LongType),
    StructField("sum_matches_stats", BooleanType),
    StructField("probe_value", LongType),
    StructField("g_n_dict", IntegerType),
    StructField("g_sum", LongType),
    StructField("g_probe_value", LongType),
    StructField("s_probe_value", StringType),
    StructField("t_n_nulls", IntegerType),
    StructField("t_n_dict", IntegerType),
    StructField("t_probe_value", StringType)))

  /** One row per doc: the full id-column decode of the committed
    * page fixture (parsed ONCE per partition) cross-verified
    * against the footer statistics, plus a LIVE per-doc point
    * lookup — value[doc_id % 5000] must equal doc_id % 5000 (the
    * planted sorted ids), so a mis-decode anywhere in the
    * header/snappy/dictionary/hybrid chain breaks the hash.
    */
  def pageReadRows(df: DataFrame, idCol: String): DataFrame = {
    val ii = df.schema.fieldIndex(idCol)
    val schema = StructType(df.schema.fields(ii) +:
      pageReadSchema.fields)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      val read = readLongColumn(PageFixture, "id")
      val grp = readLongColumn(Fixtures(4), "grp")
      val sCol = readStringColumn(PageFixture, "s")
      val tCol = readStringColumn(NullableFixture, "tag")
      val idStats = parquetColumnStats(PageFixture)
        .flatMap(_.find(s => s.path == "id" && s.rowGroup == 0))
      val summary = for { c <- read; g <- grp } yield {
        var sum = 0L
        var mn = Long.MaxValue
        var mx = Long.MinValue
        c.values.foreach { v =>
          sum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
        }
        val statsOk = idStats.exists(s =>
          s.minLong.contains(mn) && s.maxLong.contains(mx))
        (c, sum, mn, mx, statsOk, g)
      }
      it.map { r =>
        (summary, sCol, tCol) match {
          case (Some((c, sum, mn, mx, statsOk, g)), Some(sc),
              Some(tc)) =>
            val id = r.get(ii) match {
              case l: java.lang.Long => l.longValue()
              case x => x.hashCode().toLong
            }
            val probe = java.lang.Math
              .floorMod(id, c.values.length.toLong).toInt
            val gProbe = java.lang.Math
              .floorMod(id, g.values.length.toLong).toInt
            val tProbe = java.lang.Math
              .floorMod(id, tc.values.length.toLong).toInt
            Row(r.get(ii), c.values.length, c.nDataPages,
              c.nDictEntries, sum, mn, mx, statsOk,
              c.values(probe), g.nDictEntries, g.values.sum,
              g.values(gProbe), sc.values(probe), tc.nNulls,
              tc.nDictEntries, tc.values(tProbe))
          case _ =>
            Row(r.get(ii), null, null, null, null, null, null,
              null, null, null, null, null, null, null, null,
              null)
        }
      }
    }(enc)
  }

  final case class PqBloom(nBytes: Int, algo: String, hash: String,
      compression: String, bits: Array[Byte])

  private def unionName(r: Reader, names: Map[Int, String])
      : String = {
    var got = "?"
    struct(r, 2) { (uf, ut) =>
      if (ut == 12) {
        skipStruct(r, 3) // the variant structs are empty
        got = names.getOrElse(uf, s"u$uf")
      } else skip(r, ut, 3)
    }
    got
  }

  /** Parse one BloomFilterHeader + bitset at `offset`. None on
    * damage or an uncompressed-length lie.
    */
  def readBloom(b: Array[Byte], offset: Long): Option[PqBloom] = {
    if (b == null || offset < 0 || offset >= b.length) return None
    try {
      val r = new Reader(b, offset.toInt, b.length)
      var nBytes = -1
      var algo = "?"
      var hash = "?"
      var comp = "?"
      struct(r, 0) { (fid, typ) =>
        fid match {
          case 1 if typ == 5 => nBytes = r.zigzag().toInt
          case 2 if typ == 12 =>
            algo = unionName(r, Map(1 -> "block"))
          case 3 if typ == 12 =>
            hash = unionName(r, Map(1 -> "xxhash"))
          case 4 if typ == 12 =>
            comp = unionName(r, Map(1 -> "uncompressed"))
          case _ => skip(r, typ, 1)
        }
      }
      if (nBytes <= 0 || nBytes % 32 != 0 || nBytes > (16 << 20))
        return None
      if (comp != "uncompressed") return None
      Some(PqBloom(nBytes, algo, hash, comp, r.bytes(nBytes)))
    } catch {
      case _: QFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  /** The spec's split-block salt constants. */
  private val BloomSalt = Array(0x47b6137b, 0x44974d91.toInt,
    0x8824ad5b.toInt, 0xa2b7289d.toInt, 0x705495c7, 0x2df1424b,
    0x9efc4947.toInt, 0x5c6bfb31)

  /** Split-block membership check over a 64-bit value hash: block
    * index from the TOP 32 bits scaled by the block count, then
    * eight 5-bit positions from u32 salt multiplies of the LOW 32
    * bits — one bit per 32-bit word of the 256-bit block. No false
    * negatives; ~1% false positives at the writer's default FPP.
    */
  def bloomCheck(bits: Array[Byte], valueHash: Long): Boolean = {
    val z = bits.length / 32
    if (z <= 0) return false
    val block = (((valueHash >>> 32) * z) >>> 32).toInt
    val base = block * 32
    val key = valueHash.toInt
    var i = 0
    while (i < 8) {
      val idx = (key * BloomSalt(i)) >>> 27
      val w = base + 4 * i
      val word = (bits(w) & 0xff) | ((bits(w + 1) & 0xff) << 8) |
        ((bits(w + 2) & 0xff) << 16) | ((bits(w + 3) & 0xff) << 24)
      if ((word & (1 << idx)) == 0) return false
      i += 1
    }
    true
  }

  /** Hash a long the way parquet-mr does for blooms: xxHash64 at
    * seed 0 over the 8-byte little-endian plain encoding.
    */
  def bloomHashLong(v: Long): Long = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
    Zstd.xxhash64(b, 0, 8)
  }

  /** Hash a byte array (string) value: the raw bytes, no length
    * prefix, per the spec's plain-encoding rule for BYTE_ARRAY.
    */
  def bloomHashBytes(v: Array[Byte]): Long =
    Zstd.xxhash64(v, 0, v.length)

  /** The committed bloom fixture (fx5: blooms + page indexes on
    * both columns), loaded once per executor.
    */
  lazy val BloomFixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/parquet/fx5.parquet")
    require(in != null, "missing parquet bloom fixture")
    try in.readAllBytes() finally in.close()
  }

  /** One row per doc: the skipping-machinery census plus LIVE
    * membership probes derived from the doc id — member probes
    * (must hit: blooms have no false negatives) and absent probes
    * from the fixture's golden zero-FP range. The filter is parsed
    * ONCE per partition and probed per row — the shape a real
    * point-lookup planner has (parse the footer once, test many
    * predicate values).
    */
  def bloomRows(df: DataFrame, idCol: String): DataFrame = {
    val ii = df.schema.fieldIndex(idCol)
    val schema = StructType(Seq(
      df.schema.fields(ii),
      StructField("bloom_cols", StringType),
      StructField("n_index_cols", IntegerType),
      StructField("bloom_nbytes", IntegerType),
      StructField("algo", StringType),
      StructField("member_hit", BooleanType),
      StructField("s_member_hit", BooleanType),
      StructField("absent_hit", BooleanType),
      StructField("s_absent_hit", BooleanType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      val b = BloomFixture
      val cols = parquetBloomIndex(b).getOrElse(Seq.empty)
      val withBloom = cols.filter(_.bloomOffset.isDefined)
      val bloomCols = withBloom.map(_.path).mkString(",")
      val nIdx = cols.count(_.hasColumnIndex)
      val idB = withBloom.find(_.path == "id")
        .flatMap(c => readBloom(b, c.bloomOffset.get))
      val sB = withBloom.find(_.path == "s")
        .flatMap(c => readBloom(b, c.bloomOffset.get))
      it.map { r =>
        val id = r.get(ii) match {
          case l: java.lang.Long => l.longValue()
          case x => x.hashCode().toLong
        }
        val member = java.lang.Math.floorMod(id, 5000L)
        val absent = 5000L + java.lang.Math.floorMod(id, 200L)
        def checkL(bf: Option[PqBloom], v: Long): Any = bf match {
          case Some(f) => bloomCheck(f.bits, bloomHashLong(v))
          case None => null
        }
        def checkS(bf: Option[PqBloom], v: String): Any = bf match {
          case Some(f) =>
            bloomCheck(f.bits, bloomHashBytes(v.getBytes(
              java.nio.charset.StandardCharsets.UTF_8)))
          case None => null
        }
        Row(r.get(ii), bloomCols, nIdx,
          idB.map(f => Int.box(f.nBytes)).orNull,
          idB.map(f => s"${f.algo}/${f.hash}/${f.compression}")
            .orNull,
          checkL(idB, member), checkS(sB, s"v$member"),
          checkL(idB, absent), checkS(sB, s"v$absent"))
      }
    }(enc)
  }

  // ---------------------------------------------------------------
  // Spark plumbing (fixtures are Spark-written; see PqFixtureGen)
  // ---------------------------------------------------------------

  val pqSchema: StructType = StructType(Seq(
    StructField("pq_version", IntegerType),
    StructField("num_rows", LongType),
    StructField("n_row_groups", IntegerType),
    StructField("n_leaf_columns", IntegerType),
    StructField("leaf_names", StringType),
    StructField("codecs", StringType)))

  def decodePq(bytes: Array[Byte]): Seq[Any] =
    parquetMeta(bytes) match {
      case Some(m) => Seq[Any](m.version, m.numRows, m.nRowGroups,
        m.nLeafColumns, m.leafNames.mkString(","),
        m.codecs.mkString(","))
      case None => Seq[Any](null, null, null, null, null, null)
    }

  /** The committed reference fixtures, loaded once per executor. */
  lazy val Fixtures: IndexedSeq[Array[Byte]] = {
    (0 until 5).map { i =>
      val in = getClass.getResourceAsStream(s"/parquet/fx$i.parquet")
      require(in != null, s"missing parquet fixture $i")
      try in.readAllBytes() finally in.close()
    }
  }

  /** Fixture attach for the stats tier: even docs get fx0
    * (uncompressed, ints+strings), odd docs fx4 (lz4, two int
    * columns) — both single-row-group files whose planted contents
    * make every zone-map fact closed-form.
    */
  def synthStatsParquets(df: DataFrame, idCol: String,
      outCol: String): DataFrame = {
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
          Fixtures(if (java.lang.Math.floorMod(id, 2L) == 0L) 0
          else 4))
      }
    }(enc)
  }

  /** Per-row fixture attach: doc_id % 5 selects the Spark-written
    * reference file (map-only).
    */
  def synthParquets(df: DataFrame, idCol: String, outCol: String)
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
