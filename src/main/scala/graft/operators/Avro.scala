package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sources.MiniJson

/** Avro object-container file reading (the public Avro 1.x spec) —
  * the de-facto interchange format of data-engineering pipelines;
  * a corpus of exported datasets carries .avro the way it carries
  * CSV, and each file is self-describing (schema in the header).
  *
  * The reference repo reads CSV only
  * (`/root/reference/src/trousse/dataset.py:341`). From-scratch, no
  * Avro library:
  *
  *  - Header: `Obj` magic, the file-metadata MAP (zigzag
  *    block counts — negative means a byte-size follows per spec —
  *    string keys, bytes values) carrying `avro.schema` (JSON, via
  *    the in-house parser) and `avro.codec`, then the 16-byte sync
  *    marker.
  *  - Blocks: zigzag record count + zigzag byte size + payload +
  *    sync, the sync VERIFIED against the header's on every block
  *    (a mismatch means a torn file — refuse, never misaligned
  *    records). Codecs — the FULL spec matrix as of round 17:
  *    `null`, `deflate` (raw zlib), `snappy` (the from-spec
  *    [[Snappy]] block decoder, with the Avro-specific big-endian
  *    CRC32-of-uncompressed trailer verified), `zstandard` (one
  *    frame per block through the full in-repo [[Zstd]] decoder),
  *    `bzip2` and `xz` (one stream/container per block through the
  *    in-repo [[Bzip2]]/[[Xz]] decoders).
  *  - Records: the FULL recursive schema tree (round 15 — closes the
  *    C184 half-decode refusal): primitives (null, boolean,
  *    int/long zigzag varints, float/double LE IEEE, bytes/string),
  *    nested records, arrays and maps with the spec's negative
  *    block-count byte-size form, enums, fixed, and general unions.
  *    Named-type REFERENCES resolve against a per-parse registry
  *    (round 17): a record/enum/fixed registers its short and
  *    namespace-qualified names once its definition completes, so
  *    real-world schema reuse decodes while forward references and
  *    recursive types (data-dependent depth) refuse rather than
  *    mis-decode; recursion depth is bounded.
  *
  * Per-row byte work inside [[Multimodal.decodeBatches]] — map-only.
  */
object Avro {

  private object AvroFail extends Exception {
    override def fillInStackTrace(): Throwable = this
  }

  private val MaxBytes = 64 << 20
  private val MaxRecords = 1 << 22

  /** A field: name + type tag ('n' null, 'b' boolean, 'i' int,
    * 'l' long, 'f' float, 'd' double, 's' string, 'y' bytes;
    * nullable flag for the `["null", T]` union idiom).
    */
  final case class AvroField(name: String, tag: Char,
      nullable: Boolean)
  final case class AvroDoc(fields: Seq[AvroField],
      rows: Seq[IndexedSeq[Any]], codec: String, nBlocks: Int)

  private final class Cur(val b: Array[Byte], var p: Int) {
    def u8(): Int = {
      if (p >= b.length) throw AvroFail
      val v = b(p) & 0xff
      p += 1
      v
    }
    /** Avro long: zigzag varint, little-endian 7-bit groups. */
    def zlong(): Long = {
      var shift = 0
      var acc = 0L
      var i = 0
      while (i < 10) {
        val c = u8()
        acc |= (c & 0x7fL) << shift
        if ((c & 0x80) == 0) {
          return (acc >>> 1) ^ -(acc & 1)
        }
        shift += 7
        i += 1
      }
      throw AvroFail
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || n > MaxBytes || p + n > b.length) throw AvroFail
      val out = java.util.Arrays.copyOfRange(b, p, p + n)
      p += n
      out
    }
    def atEnd: Boolean = p >= b.length
  }

  // ---- the recursive schema tree (round 15) ----

  private[operators] sealed trait AType
  private[operators] final case class APrim(tag: Char) extends AType
  private[operators] final case class ARec(
      fields: Vector[(String, AType)]) extends AType
  private[operators] final case class AArr(item: AType) extends AType
  private[operators] final case class AMapT(value: AType)
    extends AType
  private[operators] final case class AEnumT(symbols: Vector[String])
    extends AType
  private[operators] final case class AFixedT(size: Int)
    extends AType
  private[operators] final case class AUnion(branches: Vector[AType])
    extends AType
  /** A spec `logicalType` annotation over a base type (round 17):
    * decimal (precision/scale), date, time-millis/micros,
    * timestamp-millis/micros, uuid, duration. The WIRE format is the
    * base type's — readTyped unwraps — but the annotation survives
    * in the tree so kernels can interpret values.
    */
  private[operators] final case class ALogical(base: AType,
    logical: String, precision: Int, scale: Int) extends AType

  private def primTag(s: String): Option[Char] = s match {
    case "null" => Some('n')
    case "boolean" => Some('b')
    case "int" => Some('i')
    case "long" => Some('l')
    case "float" => Some('f')
    case "double" => Some('d')
    case "string" => Some('s')
    case "bytes" => Some('y')
    case _ => None
  }

  /** Named-type REGISTRY (round 17): the spec lets a schema define a
    * record/enum/fixed once and reference it by name everywhere else
    * — real exported schemas reuse a `Point`/`Timestamp` record
    * across many fields. A name registers AFTER its definition fully
    * parses (both the short name and `namespace.name` when a
    * namespace attribute is present), and a reference resolves
    * against already-registered names only — so forward references
    * and RECURSIVE types (a linked-list schema is legal Avro, but
    * its data-dependent depth has no safe bound here) refuse rather
    * than mis-decode.
    */
  private def parseType(t: Any, depth: Int, ns: String,
      reg: scala.collection.mutable.Map[String, AType]): AType = {
    if (depth > 16) throw AvroFail
    // per spec a nested named type INHERITS the enclosing namespace
    // unless it declares its own (or uses a dotted fullname)
    def ownNs(mm: Map[String, Any]): String = mm.get("name") match {
      case Some(n: String) if n.contains('.') =>
        n.substring(0, n.lastIndexOf('.'))
      case _ => mm.get("namespace") match {
        case Some(s: String) if s.nonEmpty => s
        case _ => ns
      }
    }
    def register(mm: Map[String, Any], at: AType): AType = {
      mm.get("name") match {
        case Some(n0: String) if n0.nonEmpty =>
          val n = if (n0.contains('.'))
            n0.substring(n0.lastIndexOf('.') + 1) else n0
          val effNs = ownNs(mm)
          val full = if (effNs.nonEmpty) effNs + "." + n else n
          // redefining an existing fullname is invalid Avro —
          // refuse rather than silently overwrite
          if (reg.contains(full)) throw AvroFail
          reg(full) = at
        case _ => ()
      }
      at
    }
    // an unqualified reference resolves against the MOST TIGHTLY
    // ENCLOSING namespace only (Avro spec "Names"); the bare short
    // name matches only in the null namespace. A schema referencing
    // `pt` from namespace b when pt is defined only as a.pt is one
    // real Avro rejects — binding it would break the
    // refuse-over-misdecode contract.
    def ref(s: String): Option[AType] =
      if (s.contains('.')) reg.get(s)
      else if (ns.nonEmpty) reg.get(ns + "." + s)
      else reg.get(s)
    t match {
      case s: String =>
        primTag(s).map(APrim)
          .orElse(ref(s)) // named-type reference
          .getOrElse(throw AvroFail)
      case u: Vector[_] =>
        if (u.isEmpty || u.length > 64) throw AvroFail
        AUnion(u.map(parseType(_, depth + 1, ns, reg)).toVector)
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        val childNs = ownNs(mm)
        val base = mm.getOrElse("type", null) match {
          case "record" =>
            val fs = mm.get("fields") match {
              case Some(a: Vector[_]) => a
              case _ => throw AvroFail
            }
            register(mm, ARec(fs.map {
              case f: Map[_, _] =>
                val fm = f.asInstanceOf[Map[String, Any]]
                val name = fm.getOrElse("name", "") match {
                  case s: String if s.nonEmpty => s
                  case _ => throw AvroFail
                }
                (name, parseType(fm.getOrElse("type", null),
                  depth + 1, childNs, reg))
              case _ => throw AvroFail
            }.toVector))
          case "array" =>
            AArr(parseType(mm.getOrElse("items", null), depth + 1,
              ns, reg))
          case "map" =>
            AMapT(parseType(mm.getOrElse("values", null), depth + 1,
              ns, reg))
          case "enum" =>
            mm.get("symbols") match {
              case Some(a: Vector[_])
                  if a.nonEmpty && a.forall(_.isInstanceOf[String]) =>
                register(mm,
                  AEnumT(a.map(_.asInstanceOf[String]).toVector))
              case _ => throw AvroFail
            }
          case "fixed" =>
            mm.getOrElse("size", null) match {
              case d: Double
                  if d >= 0 && d <= (1 << 20) && d.isWhole =>
                register(mm, AFixedT(d.toInt))
              case _ => throw AvroFail
            }
          case s: String =>
            // {"type": "long", ...} annotation form, or an annotated
            // reference to an earlier named definition
            primTag(s).map(APrim)
              .orElse(ref(s))
              .getOrElse(throw AvroFail)
          case _ => throw AvroFail
        }
        // a logicalType annotation wraps the base (wire format is
        // the base's; the named registry holds the base)
        mm.get("logicalType") match {
          case Some(lt: String) if lt.nonEmpty =>
            def intAttr(k: String): Int =
              mm.getOrElse(k, 0.0) match {
                case d: Double if d.isWhole && d >= 0 && d <= 1e9 =>
                  d.toInt
                case _ => 0
              }
            ALogical(base, lt, intAttr("precision"),
              intAttr("scale"))
          case _ => base
        }
      case _ => throw AvroFail
    }
  }

  private def parseRootRecord(json: String)
      : Vector[(String, AType)] = {
    val root = MiniJson.parse(json) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => throw AvroFail
    }
    val reg = scala.collection.mutable.Map.empty[String, AType]
    parseType(root, 0, "", reg) match {
      case ARec(fields) => fields
      case _ => throw AvroFail
    }
  }

  private def parseSchema(json: String): Seq[AvroField] =
    parseRootRecord(json).map {
      case (name, APrim(tag)) => AvroField(name, tag, nullable = false)
      case (name, AUnion(Vector(APrim('n'), APrim(t)))) =>
        AvroField(name, t, nullable = true)
      // logical annotations over primitives stay flat-readable
      // (the wire format is the base's)
      case (name, ALogical(APrim(tag), _, _, _)) =>
        AvroField(name, tag, nullable = false)
      case (name,
          AUnion(Vector(APrim('n'), ALogical(APrim(t), _, _, _)))) =>
        AvroField(name, t, nullable = true)
      case _ => throw AvroFail // complex top-level: flat API refuses
    }

  private def inflateRaw(d: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true) // raw per the spec
    try {
      inf.setInput(d)
      val out = new java.io.ByteArrayOutputStream(d.length * 2)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch {
            case _: java.util.zip.DataFormatException =>
              throw AvroFail
          }
        if (n == 0 && inf.needsInput()) throw AvroFail
        out.write(buf, 0, n)
        if (out.size() > MaxBytes) throw AvroFail
      }
      out.toByteArray
    } finally inf.end()
  }

  /** Array/map block loop: count (negative → abs count + byte size
    * follows), items via `one`, terminated by a 0 count.
    */
  private def readBlocks(c: Cur, one: () => Unit): Unit = {
    var total = 0L
    var n = c.zlong()
    while (n != 0) {
      val count = if (n < 0) { c.zlong(); -n } else n
      total += count
      if (count < 0 || total > MaxRecords) throw AvroFail
      var i = 0L
      while (i < count) { one(); i += 1 }
      n = c.zlong()
    }
  }

  /** Recursive typed value read. Records → IndexedSeq[Any], arrays
    * → Vector[Any], maps → Vector[(String, Any)] (order preserved),
    * enums → symbol string, fixed → bytes, unions → (branch, value).
    */
  private def readTyped(c: Cur, t: AType): Any = t match {
    case APrim(tag) => readValue(c, tag)
    case ALogical(base, _, _, _) => readTyped(c, base)
    case ARec(fields) =>
      fields.map { case (_, ft) => readTyped(c, ft) }
    case AArr(item) =>
      val out = Vector.newBuilder[Any]
      readBlocks(c, () => out += readTyped(c, item))
      out.result()
    case AMapT(value) =>
      val out = Vector.newBuilder[(String, Any)]
      readBlocks(c, () => {
        val k = new String(c.bytes(c.zlong().toInt),
          StandardCharsets.UTF_8)
        out += (k -> readTyped(c, value))
      })
      out.result()
    case AEnumT(symbols) =>
      val i = c.zlong()
      if (i < 0 || i >= symbols.length) throw AvroFail
      symbols(i.toInt)
    case AFixedT(size) => c.bytes(size)
    case AUnion(branches) =>
      val i = c.zlong()
      if (i < 0 || i >= branches.length) throw AvroFail
      (i.toInt, readTyped(c, branches(i.toInt)))
  }

  private def readValue(c: Cur, tag: Char): Any = tag match {
    case 'n' => null
    case 'b' => c.u8() match {
      case 0 => java.lang.Boolean.FALSE
      case 1 => java.lang.Boolean.TRUE
      case _ => throw AvroFail
    }
    case 'i' | 'l' => c.zlong()
    case 'f' =>
      val raw = c.bytes(4)
      java.lang.Float.intBitsToFloat(
        (raw(0) & 0xff) | ((raw(1) & 0xff) << 8) |
          ((raw(2) & 0xff) << 16) | ((raw(3) & 0xff) << 24))
        .toDouble
    case 'd' =>
      val raw = c.bytes(8)
      var bits = 0L
      for (i <- 7 to 0 by -1) bits = (bits << 8) | (raw(i) & 0xffL)
      java.lang.Double.longBitsToDouble(bits)
    case 's' =>
      new String(c.bytes(c.zlong().toInt), StandardCharsets.UTF_8)
    case 'y' => c.bytes(c.zlong().toInt)
    case _ => throw AvroFail
  }

  /** Undo a block codec. Snappy blocks carry the Avro-specific
    * 4-byte BIG-endian CRC32 of the UNCOMPRESSED data as a trailer.
    */
  private def decodeBlock(codec: String, raw: Array[Byte])
      : Array[Byte] = codec match {
    case "null" => raw
    case "deflate" => inflateRaw(raw)
    case "snappy" =>
      if (raw.length < 4) throw AvroFail
      val data = Snappy.decompress(
        java.util.Arrays.copyOf(raw, raw.length - 4), MaxBytes)
        .getOrElse(throw AvroFail)
      val crc = new java.util.zip.CRC32
      crc.update(data)
      val want = ((raw(raw.length - 4) & 0xffL) << 24) |
        ((raw(raw.length - 3) & 0xffL) << 16) |
        ((raw(raw.length - 2) & 0xffL) << 8) |
        (raw(raw.length - 1) & 0xffL)
      if (crc.getValue != want) throw AvroFail
      data
    case "zstandard" =>
      // one zstd frame per block, through the full in-repo decoder
      Zstd.decompress(raw).getOrElse(throw AvroFail)
    case "bzip2" =>
      // one .bz2 stream per block (round 17; in-repo decoder)
      Bzip2.decompress(raw, MaxBytes).getOrElse(throw AvroFail)
    case "xz" =>
      // one .xz container per block (round 17; in-repo decoder)
      Xz.decompress(raw, MaxBytes).getOrElse(throw AvroFail)
    case _ => throw AvroFail
  }

  /** Shared container walk: header, metadata, schema tree, blocks.
    * Returns top-level (name, type) pairs and per-record typed
    * value rows. Throws AvroFail internally; callers wrap.
    */
  private def readContainer(b: Array[Byte])
      : (Vector[(String, AType)], Seq[IndexedSeq[Any]], String, Int) = {
    if (b == null || b.length < 32) throw AvroFail
    if (b(0) != 'O' || b(1) != 'b' || b(2) != 'j' || b(3) != 1)
      throw AvroFail
    val c = new Cur(b, 4)
    var schemaJson: String = null
    var codec = "null"
    // file metadata map: blocks until a 0 count
    var n = c.zlong()
    while (n != 0) {
      val count = if (n < 0) { c.zlong(); -n } else n
      var i = 0L
      while (i < count) {
        val key = new String(c.bytes(c.zlong().toInt),
          StandardCharsets.UTF_8)
        val value = c.bytes(c.zlong().toInt)
        key match {
          case "avro.schema" =>
            schemaJson = new String(value, StandardCharsets.UTF_8)
          case "avro.codec" =>
            codec = new String(value, StandardCharsets.UTF_8)
          case _ => ()
        }
        i += 1
      }
      n = c.zlong()
    }
    if (schemaJson == null) throw AvroFail
    // unknown codecs refuse UP FRONT (even for block-less files):
    // accepting the header and failing later would split the
    // refusal surface
    codec match {
      case "null" | "deflate" | "snappy" | "zstandard" | "bzip2" |
           "xz" => ()
      case _ => throw AvroFail
    }
    val fields =
      try parseRootRecord(schemaJson)
      catch {
        case _: graft.core.MalformedSidecarException => throw AvroFail
      }
    val sync = c.bytes(16)
    val rows = scala.collection.mutable.ArrayBuffer[IndexedSeq[Any]]()
    var nBlocks = 0
    while (!c.atEnd) {
      val count = c.zlong()
      if (count < 0 || count > MaxRecords) throw AvroFail
      val size = c.zlong()
      if (size < 0 || size > MaxBytes) throw AvroFail
      val raw = c.bytes(size.toInt)
      val blockSync = c.bytes(16)
      if (!java.util.Arrays.equals(sync, blockSync)) throw AvroFail
      val data = decodeBlock(codec, raw)
      val bc = new Cur(data, 0)
      var i = 0L
      while (i < count) {
        val vals = fields.map { case (_, t) => readTyped(bc, t) }
          .toIndexedSeq
        rows += vals
        if (rows.length > MaxRecords) throw AvroFail
        i += 1
      }
      if (!bc.atEnd) throw AvroFail // trailing bytes = torn block
      nBlocks += 1
    }
    (fields, rows.toSeq, codec, nBlocks)
  }

  /** Parse a container file through the FLAT view (the original API:
    * primitive / nullable-primitive top-level fields only — complex
    * schemas go through [[decodeAvroComplex]]). None on a bad magic,
    * unsupported codecs, sync mismatches, or torn blocks.
    */
  def avroRead(b: Array[Byte]): Option[AvroDoc] = {
    try {
      val flat =
        try parseSchema(new String(headerSchema(b),
          StandardCharsets.UTF_8))
        catch {
          case _: graft.core.MalformedSidecarException =>
            throw AvroFail
        }
      val (_, rows, codec, nBlocks) = readContainer(b)
      // unwrap the nullable-union tuples into plain values
      val unwrapped = rows.map(_.map {
        case (_: Int, v) => v
        case v => v
      })
      Some(AvroDoc(flat, unwrapped, codec, nBlocks))
    } catch {
      case AvroFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
      case _: OutOfMemoryError => None
    }
  }

  /** Full typed read for sibling operators (the Iceberg census
    * rides this): top-level (name, type) pairs plus typed rows —
    * records as IndexedSeq, arrays as Vector, unions as
    * (branch, value). None on any damage.
    */
  private[operators] def readTypedContainer(b: Array[Byte])
      : Option[(Vector[(String, AType)], Seq[IndexedSeq[Any]])] =
    try {
      val (f, r, _, _) = readContainer(b)
      Some((f, r))
    } catch {
      case AvroFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
      case _: NoSuchElementException => None
    }

  /** Top-level field names of a container whose schema parses (any
    * complexity, named references resolved) — None on refusal. Test
    * hook for the schema-tree walk independent of a decode kernel.
    */
  private[graft] def containerFieldNames(b: Array[Byte])
      : Option[Seq[String]] =
    try Some(readContainer(b)._1.map(_._1))
    catch {
      case AvroFail => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  /** The raw avro.schema bytes from the header metadata (shared by
    * the flat pre-check).
    */
  private def headerSchema(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 32) throw AvroFail
    if (b(0) != 'O' || b(1) != 'b' || b(2) != 'j' || b(3) != 1)
      throw AvroFail
    val c = new Cur(b, 4)
    var out: Array[Byte] = null
    var n = c.zlong()
    while (n != 0) {
      val count = if (n < 0) { c.zlong(); -n } else n
      var i = 0L
      while (i < count) {
        val key = new String(c.bytes(c.zlong().toInt),
          StandardCharsets.UTF_8)
        val value = c.bytes(c.zlong().toInt)
        if (key == "avro.schema") out = value
        i += 1
      }
      n = c.zlong()
    }
    if (out == null) throw AvroFail
    out
  }

  // ------------------------------------------------------------------
  // fixture writer
  // ------------------------------------------------------------------

  private[operators] def wZlong(v: Long): Array[Byte] = {
    var z = (v << 1) ^ (v >> 63)
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    while ((z & ~0x7fL) != 0) {
      out += ((z & 0x7f) | 0x80).toByte
      z >>>= 7
    }
    out += (z & 0x7f).toByte
    out.toArray
  }

  private[operators] def wStr(s: String): Array[Byte] = {
    val u = s.getBytes(StandardCharsets.UTF_8)
    wZlong(u.length.toLong) ++ u
  }

  private val FixtureSchema =
    """{"type": "record", "name": "doc", "fields": [
      {"name": "id", "type": "long"},
      {"name": "body", "type": "string"},
      {"name": "flag", "type": "boolean"},
      {"name": "note", "type": ["null", "string"]}
    ]}"""

  /** A real container file over `(id long, body string, flag
    * boolean, note union[null,string])`: records split two-per-block
    * so multi-block reads and per-block sync checks exercise;
    * mode 0 `null` codec, mode 1 `deflate`.
    */
  def avroWrite(rows: Seq[(Long, String, Boolean, Option[String])],
      mode: Int): Array[Byte] = {
    val m = ((mode % 2) + 2) % 2
    val codec = if (m == 1) "deflate" else "null"
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('O', 'b', 'j', 1), 0, 4)
    // metadata map: one block of two entries
    out.write(wZlong(2L), 0, wZlong(2L).length)
    def wr(a: Array[Byte]): Unit = out.write(a, 0, a.length)
    wr(wStr("avro.schema"))
    wr(wStr(FixtureSchema))
    wr(wStr("avro.codec"))
    wr(wStr(codec))
    wr(wZlong(0L))
    val sync = Array.tabulate[Byte](16)(i => (0x5a ^ i * 7).toByte)
    wr(sync)
    for (group <- rows.grouped(2)) {
      val block = new java.io.ByteArrayOutputStream()
      def wb(a: Array[Byte]): Unit = block.write(a, 0, a.length)
      for ((id, body, flag, note) <- group) {
        wb(wZlong(id))
        wb(wStr(body))
        wb(Array[Byte](if (flag) 1 else 0))
        note match {
          case Some(s) => wb(wZlong(1L)); wb(wStr(s))
          case None => wb(wZlong(0L))
        }
      }
      val rawBytes = block.toByteArray
      val payload =
        if (m == 1) {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(rawBytes); d.finish()
          val buf = new Array[Byte](rawBytes.length + 64)
          val n = d.deflate(buf)
          d.end()
          java.util.Arrays.copyOf(buf, n)
        } else rawBytes
      wr(wZlong(group.length.toLong))
      wr(wZlong(payload.length.toLong))
      wr(payload)
      wr(sync)
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Spark plumbing
  // ------------------------------------------------------------------

  val avroSchema: StructType = StructType(Seq(
    StructField("avro_text", StringType),
    StructField("n_records", IntegerType),
    StructField("n_blocks", IntegerType),
    StructField("long_sum", LongType),
    StructField("n_null_notes", IntegerType)))

  /** Decode kernel: string fields concatenated in row-major order,
    * record/block census, exact long sums, null-note census.
    */
  def decodeAvro(bytes: Array[Byte]): Seq[Any] =
    avroRead(bytes) match {
      case Some(AvroDoc(fields, rows, _, nBlocks)) =>
        val sb = new java.lang.StringBuilder
        var lsum = 0L
        var nulls = 0
        rows.foreach { vals =>
          (fields zip vals).foreach {
            case (_, s: String) => sb.append(s)
            case (_, l: Long) => lsum += l
            case (f, null) if f.nullable => nulls += 1
            case _ => ()
          }
        }
        Seq[Any](sb.toString, rows.length, nBlocks, lsum, nulls)
      case None => Seq[Any](null, null, null, null, null)
    }

  // ------------------------------------------------------------------
  // complex-schema surface (round 15)
  // ------------------------------------------------------------------

  private val ComplexSchema =
    """{"type": "record", "name": "doc", "fields": [
      {"name": "meta", "type": {"type": "record", "name": "m",
        "fields": [{"name": "a", "type": "long"},
                   {"name": "b", "type": "string"}]}},
      {"name": "vals", "type": {"type": "array", "items": "long"}},
      {"name": "tags", "type": {"type": "map", "values": "long"}},
      {"name": "kind", "type": {"type": "enum", "name": "k",
        "symbols": ["ALPHA", "BETA", "GAMMA"]}},
      {"name": "fp", "type": {"type": "fixed", "name": "f",
        "size": 8}},
      {"name": "u", "type": ["null", "long", "string"]}
    ]}"""

  /** A container file over the full complex-type surface: nested
    * record, array (split across two item blocks, the NEGATIVE
    * count+byte-size form on odd ids), map (negative form on even
    * ids), enum, fixed(8), a 3-branch union; two records in two
    * container blocks; codec cycling null/deflate/snappy by id%3.
    */
  def avroWriteComplex(id: Long): Array[Byte] = {
    val codec = (id % 4) match {
      case 1 => "deflate"
      case 2 => "snappy"
      case 3 => "zstandard"
      case _ => "null"
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('O', 'b', 'j', 1), 0, 4)
    def wr(a: Array[Byte]): Unit = out.write(a, 0, a.length)
    wr(wZlong(2L))
    wr(wStr("avro.schema")); wr(wStr(ComplexSchema))
    wr(wStr("avro.codec")); wr(wStr(codec))
    wr(wZlong(0L))
    val sync = Array.tabulate[Byte](16)(i => (0xc3 ^ i * 11).toByte)
    wr(sync)
    def record(k: Long): Array[Byte] = {
      val b2 = new java.io.ByteArrayOutputStream()
      def wb(a: Array[Byte]): Unit = b2.write(a, 0, a.length)
      // meta
      wb(wZlong(id * 3 + 1 + k)); wb(wStr("m" + (id % 100)))
      // vals: len = id%4+1, items id..id+len-1, two item blocks
      val len = (id % 4 + 1).toInt
      val items = (0 until len).map(i => id + i)
      def itemBlock(xs: Seq[Long]): Unit = {
        if (xs.nonEmpty) {
          val body = xs.flatMap(v => wZlong(v).toSeq).toArray
          if (id % 2 == 1) { // negative count + byte size form
            wb(wZlong(-xs.length.toLong))
            wb(wZlong(body.length.toLong))
          } else wb(wZlong(xs.length.toLong))
          wb(body)
        }
      }
      itemBlock(items.take(1)); itemBlock(items.drop(1))
      wb(wZlong(0L))
      // tags map: t0 -> id, t1 -> 2id
      val mapBody = (wStr("t0") ++ wZlong(id) ++
        wStr("t1") ++ wZlong(2 * id))
      if (id % 2 == 0) {
        wb(wZlong(-2L)); wb(wZlong(mapBody.length.toLong))
      } else wb(wZlong(2L))
      wb(mapBody); wb(wZlong(0L))
      // enum
      wb(wZlong(id % 3))
      // fixed(8)
      b2.write((0 until 8).map(i =>
        ((id + i) % 251).toByte).toArray, 0, 8)
      // union
      (id % 3) match {
        case 0 => wb(wZlong(0L))
        case 1 => wb(wZlong(1L)); wb(wZlong(id * 7))
        case _ => wb(wZlong(2L)); wb(wStr("u" + (id % 10)))
      }
      b2.toByteArray
    }
    for (k <- 0L to 1L) {
      val raw = record(k)
      val payload = codec match {
        case "deflate" =>
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(raw); d.finish()
          val buf = new Array[Byte](raw.length + 64)
          val n = d.deflate(buf)
          d.end()
          java.util.Arrays.copyOf(buf, n)
        case "snappy" =>
          val crc = new java.util.zip.CRC32
          crc.update(raw)
          val v = crc.getValue
          Snappy.compressStored(raw) ++ Array[Byte](
            ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
            ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
        case "zstandard" =>
          Zstd.encodeFrame(raw, blockSize = 4096)
        case _ => raw
      }
      wr(wZlong(1L)); wr(wZlong(payload.length.toLong))
      wr(payload); wr(sync)
    }
    out.toByteArray
  }

  val avroComplexSchema: StructType = StructType(Seq(
    StructField("n_records", IntegerType),
    StructField("meta_a_sum", LongType),
    StructField("meta_b", StringType),
    StructField("vals_sum", LongType),
    StructField("n_vals", IntegerType),
    StructField("tags_sum", LongType),
    StructField("kind", StringType),
    StructField("fp_sum", LongType),
    StructField("u_repr", StringType)))

  /** Decode kernel over the full tree: per-file aggregates the
    * oracle replays closed-form. Null row for refusals.
    */
  def decodeAvroComplex(bytes: Array[Byte]): Seq[Any] = {
    val res =
      try {
        val (fields, rows, _, _) = readContainer(bytes)
        val idx = fields.map(_._1).zipWithIndex.toMap
        var metaA = 0L
        var metaB: String = null
        var valsSum = 0L
        var nVals = 0
        var tagsSum = 0L
        var kind: String = null
        var fpSum = 0L
        var uRepr: String = null
        var first = true
        rows.foreach { r =>
          r(idx("meta")) match {
            case m: IndexedSeq[_] =>
              metaA += m(0).asInstanceOf[Long]
              if (first) metaB = m(1).asInstanceOf[String]
            case _ => throw AvroFail
          }
          r(idx("vals")) match {
            case v: Vector[_] =>
              v.foreach { x => valsSum += x.asInstanceOf[Long] }
              nVals += v.length
            case _ => throw AvroFail
          }
          r(idx("tags")) match {
            case m: Vector[_] =>
              m.foreach { case (_, x) =>
                tagsSum += x.asInstanceOf[Long] }
            case _ => throw AvroFail
          }
          if (first) {
            kind = r(idx("kind")).asInstanceOf[String]
            r(idx("fp")) match {
              case f: Array[Byte] =>
                f.foreach(b2 => fpSum += b2 & 0xff)
              case _ => throw AvroFail
            }
            uRepr = r(idx("u")) match {
              case (0, _) => null
              case (1, l: Long) => "l:" + l
              case (2, s: String) => "s:" + s
              case _ => throw AvroFail
            }
          }
          first = false
        }
        Some((rows.length, metaA, metaB, valsSum, nVals, tagsSum,
          kind, fpSum, uRepr))
      } catch {
        case AvroFail => None
        case _: ArrayIndexOutOfBoundsException => None
        case _: NegativeArraySizeException => None
        case _: ClassCastException => None
        // a mutated-but-parseable schema may lack expected fields
        case _: NoSuchElementException => None
      }
    res match {
      case Some((n, ma, mb, vs, nv, ts, k, fs, u)) =>
        Seq[Any](n, ma, mb, vs, nv, ts, k, fs, u)
      case None => Seq[Any](null, null, null, null, null, null,
        null, null, null)
    }
  }

  // ------------------------------------------------------------------
  // named-type references + full codec matrix (round 17)
  // ------------------------------------------------------------------

  private val NamedSchema =
    """{"type": "record", "name": "doc", "namespace": "graft.fx",
      "fields": [
      {"name": "p1", "type": {"type": "record", "name": "pt",
        "fields": [{"name": "x", "type": "long"},
                   {"name": "y", "type": "long"}]}},
      {"name": "p2", "type": "pt"},
      {"name": "c1", "type": {"type": "enum", "name": "col",
        "symbols": ["R", "G", "B"]}},
      {"name": "c2", "type": "col"},
      {"name": "h1", "type": {"type": "fixed", "name": "h4",
        "size": 4}},
      {"name": "h2", "type": "graft.fx.h4"},
      {"name": "pts", "type": {"type": "array", "items": "pt"}}
    ]}"""

  private val NamedCodecs = Vector("null", "deflate", "snappy",
    "zstandard", "bzip2", "xz")

  /** A container file whose schema REUSES named definitions — the
    * `pt` record twice more (once namespace-qualified via the array
    * items), the enum and the fixed once each — with the codec
    * cycling over the FULL six-codec matrix (bzip2 and xz through
    * [[Bzip2]]/[[Xz]] both directions). Two records,
    * one per container block.
    */
  def avroWriteNamed(id: Long): Array[Byte] = {
    val codec = NamedCodecs((id % 6).toInt)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('O', 'b', 'j', 1), 0, 4)
    def wr(a: Array[Byte]): Unit = out.write(a, 0, a.length)
    wr(wZlong(2L))
    wr(wStr("avro.schema")); wr(wStr(NamedSchema))
    wr(wStr("avro.codec")); wr(wStr(codec))
    wr(wZlong(0L))
    val sync = Array.tabulate[Byte](16)(i => (0x7e ^ i * 13).toByte)
    wr(sync)
    def record(k: Long): Array[Byte] = {
      val b2 = new java.io.ByteArrayOutputStream()
      def wb(a: Array[Byte]): Unit = b2.write(a, 0, a.length)
      // p1 = (id+k, 2id+k), p2 = (3id+k, id%7+k)
      wb(wZlong(id + k)); wb(wZlong(2 * id + k))
      wb(wZlong(3 * id + k)); wb(wZlong(id % 7 + k))
      // c1 = sym[id%3], c2 = sym[(id+2k+1)%3]
      wb(wZlong(id % 3)); wb(wZlong((id + 2 * k + 1) % 3))
      // h1 bytes (id+i)%199, h2 bytes (2id+i+k)%211
      b2.write((0 until 4).map(i =>
        ((id + i) % 199).toByte).toArray, 0, 4)
      b2.write((0 until 4).map(i =>
        ((2 * id + i + k) % 211).toByte).toArray, 0, 4)
      // pts: len = id%3+1 of pt(id+j, id-j), one item block
      val len = (id % 3 + 1).toInt
      wb(wZlong(len.toLong))
      (0 until len).foreach { j =>
        wb(wZlong(id + j)); wb(wZlong(id - j))
      }
      wb(wZlong(0L))
      b2.toByteArray
    }
    for (k <- 0L to 1L) {
      val raw = record(k)
      val payload = codec match {
        case "deflate" =>
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(raw); d.finish()
          val buf = new Array[Byte](raw.length + 64)
          val n = d.deflate(buf)
          d.end()
          java.util.Arrays.copyOf(buf, n)
        case "snappy" =>
          val crc = new java.util.zip.CRC32
          crc.update(raw)
          val v = crc.getValue
          Snappy.compressStored(raw) ++ Array[Byte](
            ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
            ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
        case "zstandard" => Zstd.encodeFrame(raw, blockSize = 4096)
        case "bzip2" => Bzip2.compress(raw)
        case "xz" => Xz.compress(raw)
        case _ => raw
      }
      wr(wZlong(1L)); wr(wZlong(payload.length.toLong))
      wr(payload); wr(sync)
    }
    out.toByteArray
  }

  val avroNamedSchema: StructType = StructType(Seq(
    StructField("codec", StringType),
    StructField("n_records", IntegerType),
    StructField("px_sum", LongType),
    StructField("py_sum", LongType),
    StructField("c_pair", StringType),
    StructField("h_sum", LongType),
    StructField("pts_n", IntegerType),
    StructField("pts_x_sum", LongType),
    StructField("pts_y_sum", LongType)))

  /** Decode kernel over the named-reference tree: the codec string
    * itself is an output column, so the oracle proves each of the
    * six codecs actually decoded (a refusal would null the row and
    * break the hash). Null row for refusals.
    */
  def decodeAvroNamed(bytes: Array[Byte]): Seq[Any] = {
    val res =
      try {
        val (fields, rows, codec, _) = readContainer(bytes)
        val idx = fields.map(_._1).zipWithIndex.toMap
        def rec2(v: Any): (Long, Long) = v match {
          case r: IndexedSeq[_] =>
            (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])
          case _ => throw AvroFail
        }
        var px = 0L; var py = 0L; var hs = 0L
        var ptsN = 0; var ptsX = 0L; var ptsY = 0L
        var cPair: String = null
        var first = true
        rows.foreach { r =>
          val (x1, y1) = rec2(r(idx("p1")))
          val (x2, y2) = rec2(r(idx("p2")))
          px += x1 + x2; py += y1 + y2
          if (first) cPair = r(idx("c1")).asInstanceOf[String] +
            "/" + r(idx("c2")).asInstanceOf[String]
          Seq(r(idx("h1")), r(idx("h2"))).foreach {
            case f: Array[Byte] => f.foreach(b2 => hs += b2 & 0xff)
            case _ => throw AvroFail
          }
          r(idx("pts")) match {
            case v: Vector[_] =>
              ptsN += v.length
              v.foreach { p =>
                val (x, y) = rec2(p)
                ptsX += x; ptsY += y
              }
            case _ => throw AvroFail
          }
          first = false
        }
        Some((codec, rows.length, px, py, cPair, hs, ptsN, ptsX,
          ptsY))
      } catch {
        case AvroFail => None
        case _: ArrayIndexOutOfBoundsException => None
        case _: NegativeArraySizeException => None
        case _: ClassCastException => None
        // a mutated-but-parseable schema may lack expected fields
        case _: NoSuchElementException => None
      }
    res match {
      case Some((c, n, px, py, cp, hs, pn, pxs, pys)) =>
        Seq[Any](c, n, px, py, cp, hs, pn, pxs, pys)
      case None => Seq[Any](null, null, null, null, null, null,
        null, null, null)
    }
  }

  /** Per-row named-reference container synthesizer (map-only). */
  def synthAvroNamed(df: DataFrame, idCol: String,
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
        Row.fromSeq(r.toSeq :+ avroWriteNamed(id))
      }
    }(enc)
  }

  // ------------------------------------------------------------------
  // logical types (round 17): the spec's annotations over base types
  // ------------------------------------------------------------------

  private val LogicalSchema =
    """{"type": "record", "name": "ev", "fields": [
      {"name": "amount", "type": {"type": "bytes",
        "logicalType": "decimal", "precision": 10, "scale": 2}},
      {"name": "day", "type": {"type": "int",
        "logicalType": "date"}},
      {"name": "at", "type": {"type": "long",
        "logicalType": "timestamp-micros"}},
      {"name": "tod", "type": {"type": "int",
        "logicalType": "time-millis"}},
      {"name": "uid", "type": {"type": "string",
        "logicalType": "uuid"}},
      {"name": "dur", "type": {"type": "fixed", "name": "dur12",
        "size": 12, "logicalType": "duration"}}
    ]}"""

  /** One-record container over the spec's logical-type matrix:
    * decimal(10,2) over two's-complement big-endian bytes, date as
    * epoch days, timestamp-micros, time-millis, uuid, and the
    * duration fixed(12) (three LE u32: months/days/millis). Every
    * value is an arithmetic function of `id`.
    */
  def avroWriteLogical(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('O', 'b', 'j', 1), 0, 4)
    def wr(a: Array[Byte]): Unit = out.write(a, 0, a.length)
    wr(wZlong(2L))
    wr(wStr("avro.schema")); wr(wStr(LogicalSchema))
    wr(wStr("avro.codec")); wr(wStr("null"))
    wr(wZlong(0L))
    val sync = Array.tabulate[Byte](16)(i => (0x33 ^ i * 19).toByte)
    wr(sync)
    val b = new java.io.ByteArrayOutputStream()
    def w(a: Array[Byte]): Unit = b.write(a, 0, a.length)
    val unscaled = BigInt(12345 + id) *
      (if (id % 2 == 0) 1 else -1)
    val decBytes = unscaled.toByteArray
    w(wZlong(decBytes.length.toLong)); w(decBytes)
    w(wZlong(19000 + id % 1000)) // date
    w(wZlong(1700000000000000L + id * 1000003L)) // timestamp-micros
    w(wZlong((id * 37) % 86400000L)) // time-millis
    w(wStr(f"00000000-0000-4000-8000-${id % 0x1000000000000L}%012x"))
    def le32(v: Long): Unit = (0 until 4).foreach(j =>
      b.write(((v >> (8 * j)) & 0xff).toInt))
    le32(id % 12); le32(id % 30); le32(id % 1000) // duration
    val raw = b.toByteArray
    wr(wZlong(1L)); wr(wZlong(raw.length.toLong))
    wr(raw); wr(sync)
    out.toByteArray
  }

  val avroLogicalSchema: StructType = StructType(Seq(
    StructField("logical_csv", StringType),
    StructField("dec_str", StringType),
    StructField("date_iso", StringType),
    StructField("ts_iso", StringType),
    StructField("time_str", StringType),
    StructField("uuid_str", StringType),
    StructField("uuid_ok", BooleanType),
    StructField("dur_str", StringType)))

  /** Walk a type tree collecting logical-type names (decimal gets
    * its precision/scale).
    */
  private def logicalNames(t: AType,
      out: scala.collection.mutable.SortedSet[String]): Unit =
    t match {
      case ALogical(base, lt, p, s) =>
        out += (if (lt == "decimal") s"decimal($p,$s)" else lt)
        logicalNames(base, out)
      case ARec(fs) => fs.foreach { case (_, ft) =>
        logicalNames(ft, out) }
      case AArr(item) => logicalNames(item, out)
      case AMapT(v) => logicalNames(v, out)
      case AUnion(bs) => bs.foreach(logicalNames(_, out))
      case _ => ()
    }

  /** Decode kernel: INTERPRET each logical value — the scaled
    * decimal string, ISO date/instant, wall-clock time, uuid
    * validity, months:days:millis duration — plus the schema's
    * logical-type inventory. Null row for refusals.
    */
  def decodeAvroLogical(bytes: Array[Byte]): Seq[Any] = {
    val res = readTypedContainer(bytes).flatMap {
      case (fields, rows) =>
        try {
          val idx = fields.map(_._1).zipWithIndex.toMap
          val byName = fields.toMap
          val inv = scala.collection.mutable.SortedSet[String]()
          fields.foreach { case (_, t) => logicalNames(t, inv) }
          val r = rows.headOption.getOrElse(
            throw new NoSuchElementException("empty"))
          // decimal: scale from the annotation, not assumed
          val scale = byName("amount") match {
            case ALogical(_, "decimal", _, s) => s
            case _ => throw new NoSuchElementException("not decimal")
          }
          val decStr = scala.math.BigDecimal(
            BigInt(r(idx("amount")).asInstanceOf[Array[Byte]]),
            scale).toString
          val dateIso = java.time.LocalDate
            .ofEpochDay(r(idx("day")).asInstanceOf[Long]).toString
          val micros = r(idx("at")).asInstanceOf[Long]
          val tsIso = java.time.format.DateTimeFormatter
            .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
            .withZone(java.time.ZoneOffset.UTC)
            .format(java.time.Instant.ofEpochSecond(
              java.lang.Math.floorDiv(micros, 1000000L),
              java.lang.Math.floorMod(micros, 1000000L) * 1000))
          val tod = r(idx("tod")).asInstanceOf[Long]
          val timeStr = f"${tod / 3600000}%02d:" +
            f"${tod / 60000 % 60}%02d:${tod / 1000 % 60}%02d." +
            f"${tod % 1000}%03d"
          val uid = r(idx("uid")).asInstanceOf[String]
          val uuidOk =
            try java.util.UUID.fromString(uid).toString == uid
            catch { case _: IllegalArgumentException => false }
          val durBytes = r(idx("dur")).asInstanceOf[Array[Byte]]
          def le32(o: Int): Long = (0 until 4).map(j =>
            (durBytes(o + j) & 0xffL) << (8 * j)).sum
          val durStr = s"${le32(0)}:${le32(4)}:${le32(8)}"
          Some(Seq[Any](inv.mkString(","), decStr, dateIso, tsIso,
            timeStr, uid, uuidOk, durStr))
        } catch {
          case _: ClassCastException => None
          case _: NoSuchElementException => None
          case _: IndexOutOfBoundsException => None
          case _: java.time.DateTimeException => None
          case _: ArithmeticException => None
        }
    }
    res.getOrElse(nullRow8)
  }

  private def nullRow8 = Seq[Any](null, null, null, null, null,
    null, null, null)

  /** Per-row logical-type container synthesizer (map-only). */
  def synthAvroLogical(df: DataFrame, idCol: String,
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
        Row.fromSeq(r.toSeq :+ avroWriteLogical(id))
      }
    }(enc)
  }

  /** Per-row complex-container synthesizer (map-only). */
  def synthAvroComplex(df: DataFrame, idCol: String,
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
        Row.fromSeq(r.toSeq :+ avroWriteComplex(id))
      }
    }(enc)
  }

  /** Per-row .avro synthesizer (map-only): the text split over
    * three records (two blocks), notes alternating null/present,
    * codec rotating on doc_id%2.
    */
  def synthAvro(df: DataFrame, idCol: String, textCol: String,
      outCol: String): DataFrame = {
    val (ii, ti) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        val id = r.get(ii) match {
          case l: java.lang.Long => l.longValue()
          case x => x.hashCode().toLong
        }
        val cut = {
          var c = text.length / 2
          if (c > 0 && c < text.length &&
            Character.isHighSurrogate(text.charAt(c - 1)) &&
            Character.isLowSurrogate(text.charAt(c))) c += 1
          c
        }
        val bytesOut = avroWrite(Seq(
          (id * 2 + 1, text.substring(0, cut), true, None),
          (id * 2 + 2, text.substring(cut), false,
            Some("note " + (id % 4))),
          (id * 2 + 3, "", true, None)), (id % 2).toInt)
        Row.fromSeq(r.toSeq :+ bytesOut)
      }
    }(enc)
  }

  // ----------------------------------------------------------------
  // SCHEMA RESOLUTION (round 18) — the Avro spec's "Schema
  // Resolution" section: a reader consumes data written with an
  // OLDER (or newer) schema by matching fields by name, DROPPING
  // writer-only fields, filling reader-only fields from their
  // DEFAULTS (a reader field with no default and no writer match
  // is an error, not a null), and applying the directed numeric
  // promotion lattice int → long → float → double. This is what
  // schema evolution on a 100 TB lake IS: yesterday's files read
  // with today's schema, resolved per file at plan time.
  // ----------------------------------------------------------------

  /** One reader field: name, kind tag ('l' integral, 'd' floating,
    * 's' string), and an optional default for writer-missing
    * fields.
    */
  final case class ReaderField(name: String, kind: Char,
      default: Option[Any])

  /** May a writer primitive feed a reader kind? The spec lattice:
    * int/long promote to float/double; nothing narrows; strings
    * and numbers never cross.
    */
  private def promotable(writer: Char, reader: Char): Boolean =
    (writer, reader) match {
      case ('i', 'l') | ('l', 'l') => true
      case ('i', 'd') | ('l', 'd') | ('f', 'd') | ('d', 'd') => true
      case ('s', 's') => true
      case _ => false
    }

  /** Resolve a container's rows onto a reader schema. None when a
    * reader field has neither a writer match nor a default, or a
    * match requires a narrowing / cross-domain promotion — the
    * spec calls both errors, and refusing beats misreading.
    */
  def resolveRead(b: Array[Byte], reader: Seq[ReaderField])
      : Option[Seq[IndexedSeq[Any]]] =
    readTypedContainer(b).flatMap { case (fields, rows) =>
      try {
        val idx = fields.map(_._1).zipWithIndex.toMap
        val plan: Seq[Either[Any, (Int, Char)]] = reader.map { rf =>
          idx.get(rf.name) match {
            case Some(i) => fields(i)._2 match {
              case APrim(wk) if promotable(wk, rf.kind) =>
                Right((i, rf.kind))
              case _ => throw AvroFail
            }
            case None => rf.default match {
              case Some(v) => Left(v)
              case None => throw AvroFail
            }
          }
        }
        Some(rows.map { r =>
          plan.map {
            case Left(v) => v
            case Right((i, rk)) => (r(i), rk) match {
              case (l: Long, 'd') => l.toDouble
              case (v, _) => v
            }
          }.toIndexedSeq
        })
      } catch { case AvroFail => None }
    }

  private val EvolveWriterSchema =
    """{"type": "record", "name": "ev", "fields": [
      {"name": "a", "type": "int"},
      {"name": "b", "type": "string"},
      {"name": "c", "type": "long"}]}"""

  /** The planted OLD-schema file: n = id%3+1 rows of
    * (a = id + r, b = "s<id%10>-<r>", c = 100*id + r).
    */
  def avroWriteEvolve(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('O', 'b', 'j', 1), 0, 4)
    def wr(a: Array[Byte]): Unit = out.write(a, 0, a.length)
    wr(wZlong(2L))
    wr(wStr("avro.schema")); wr(wStr(EvolveWriterSchema))
    wr(wStr("avro.codec")); wr(wStr("null"))
    wr(wZlong(0L))
    val sync = Array.tabulate[Byte](16)(i => (0x47 ^ i * 23).toByte)
    wr(sync)
    val n = (id % 3 + 1).toInt
    val b = new java.io.ByteArrayOutputStream()
    def w(a: Array[Byte]): Unit = b.write(a, 0, a.length)
    (0 until n).foreach { r =>
      w(wZlong(id + r))
      w(wStr(s"s${id % 10}-$r"))
      w(wZlong(100 * id + r))
    }
    val raw = b.toByteArray
    wr(wZlong(n.toLong)); wr(wZlong(raw.length.toLong))
    wr(raw); wr(sync)
    out.toByteArray
  }

  /** TODAY'S reader schema for the planted evolution file: `a`
    * dropped, `c` promoted long→double, `d` new with default 7.
    */
  val EvolveReader: Seq[ReaderField] = Seq(
    ReaderField("b", 's', None),
    ReaderField("c", 'd', None),
    ReaderField("d", 'l', Some(7L)))

  val evolveSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("b_first",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c_sum",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("d_sum",
        org.apache.spark.sql.types.LongType)))

  /** Census kernel: read the old-schema file through
    * [[EvolveReader]] and fold the resolved rows.
    */
  def decodeEvolve(bytes: Array[Byte]): Seq[Any] =
    resolveRead(bytes, EvolveReader) match {
      case Some(rows) if rows.nonEmpty =>
        var cSum = 0.0
        var dSum = 0L
        rows.foreach { r =>
          cSum += r(1).asInstanceOf[Double]
          dSum += r(2).asInstanceOf[Long]
        }
        Seq[Any](rows.length, rows.head(0).asInstanceOf[String],
          cSum, dSum)
      case _ => Seq[Any](null, null, null, null)
    }

  def synthEvolves(df: DataFrame, idCol: String, outCol: String)
      : DataFrame = {
    val ii = df.schema.fieldIndex(idCol)
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val id = r.get(ii) match {
          case l: java.lang.Long => l.longValue()
          case x => x.hashCode().toLong
        }
        Row.fromSeq(r.toSeq :+ avroWriteEvolve(id))
      }
    }(enc)
  }
}
