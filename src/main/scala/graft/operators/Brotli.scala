package graft.operators

/** Brotli decoder (RFC 7932) — after gzip, `br` is the most common
  * Content-Encoding on the web, and until now every brotli HTTP body
  * in a WARC yielded zero tokens (Http.decodedBody's honest
  * refusal). This is the full format: stream header window bits,
  * uncompressed / metadata / compressed meta-blocks, simple and
  * complex prefix codes (code-length code with 16/17 repeat
  * symbols), block-type switching for all three categories, literal
  * context modeling (LSB6/MSB6/UTF8/signed modes), context maps
  * with RLE and inverse-move-to-front, the four-slot distance ring
  * buffer with ±1..3 short codes, NPOSTFIX/NDIRECT distance
  * composition, and the 122,784-byte static dictionary with its 121
  * word transforms (identity / uppercase-ferment / omit-first/last
  * + affix pairs).
  *
  * Normative data (RFC 7932 Appendices A and B): the static
  * dictionary and the 2048-byte context lookup table ship as
  * resources; the transform table is inlined below. All three were
  * extracted from THIS machine's reference brotli implementation
  * (Node's bundled Google brotli) and are pinned by golden streams
  * produced by that same reference encoder across qualities 0–11,
  * window sizes 10–24 and all encoder modes (BrotliSpec resources)
  * — a wrong table bit fails those decodes, so the data is
  * verified, not trusted.
  *
  * The fixture side ([[encodeStored]]/[[encodeEntropy]]) writes real
  * brotli streams — greedy hash-chain LZ77, canonical Huffman
  * literal/command/distance codes through the complex prefix-code
  * description — so oracle queries face genuinely entropy-coded
  * input; those streams are ALSO pinned against the reference
  * decoder (round-trips generated and committed in BrotliSpec).
  *
  * Scale: map-only per-row byte work, same contract as [[Zstd]];
  * decode state is per-call, no shared mutability beyond the lazily
  * loaded dictionary (read-only, one copy per executor JVM).
  *
  * Reference behavior studied: pytrousse has no compression layer
  * at all (/root/reference/src/trousse/dataset.py:1); this module
  * is part of the beyond-parity crawl-curation surface.
  */
object Brotli {

  private val MaxOut = 64 << 20

  private final case class BrotliFail(why: String)
    extends RuntimeException(why, null, false, false)
  private def fail(why: String): Nothing = throw BrotliFail(why)

  // ------------------------------------------------------------------
  // normative data (RFC 7932 Appendix A/B)
  // ------------------------------------------------------------------

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(name)
    if (in == null) fail(s"missing resource $name")
    try in.readAllBytes() finally in.close()
  }

  /** Static dictionary (Appendix A): words of length 4..24 in
    * fixed-size groups.
    */
  private lazy val Dict: Array[Byte] = {
    val d = resource("/brotli/dictionary.bin")
    if (d.length != 122784) fail("bad dictionary resource")
    d
  }

  /** Context lookup table (Appendix B): 4 modes × (lut0 256 + lut1
    * 256); ctx = lut0(p1) | lut1(p2).
    */
  private lazy val Ctx: Array[Byte] = {
    val c = resource("/brotli/context.bin")
    if (c.length != 2048) fail("bad context resource")
    c
  }

  /** log2 of the word count per dictionary word length 4..24. */
  private val SizeBits: Array[Int] = Array(
    0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7, 7,
    8, 7, 7, 6, 6, 5, 5)
  private val DictOffset: Array[Int] = {
    val o = new Array[Int](26)
    var acc = 0
    var l = 4
    while (l <= 24) {
      o(l) = acc
      acc += l * (1 << SizeBits(l))
      l += 1
    }
    o(25) = acc
    o
  }

  // word transforms: op 0 = identity, 1..9 = omit first n,
  // 10 = uppercase first, 11 = uppercase all, 12..20 = omit last n
  private val TransformOps: Array[Int] = Array(
    0, 0, 0, 1, 10, 0, 0, 0, 0, 10, 0, 2, 12, 0, 0, 10, 0, 0, 0, 0,
    0, 0, 0, 14, 0, 0, 3, 13, 0, 0, 10, 0, 0, 0, 4, 0, 0, 0, 0, 5,
    6, 0, 15, 0, 11, 0, 0, 0, 18, 12, 0, 0, 0, 0, 9, 7, 17, 0, 10,
    19, 0, 0, 0, 16, 20, 10, 10, 0, 11, 10, 0, 0, 0, 0, 10, 0, 0,
    0, 10, 10, 0, 0, 0, 11, 0, 11, 0, 11, 10, 0, 0, 10, 0, 0, 11,
    0, 10, 11, 0, 10, 0, 11, 0, 0, 10, 11, 0, 11, 10, 10, 11, 11,
    11, 11, 11, 11, 11, 11, 10, 11, 10)
  private val TransformPrefix: Array[String] = Array(
    "", "", " ", "", "", "",
    " ", "s ", "", "", "", "",
    "", ", ", "", " ", "", "",
    "e ", "", "", "", "", "",
    "", "", "", "", "", "",
    " ", "", ".", " ", "", "",
    "", "", "", "", "", " the ",
    "", "", "", "", "", "",
    "", "", "", "", " ", "",
    "", "", "", "", "", "",
    "", "", " the ", "", "", " ",
    "", ".", "", "", "", " ",
    ".com/", " the ", "", "", "", ".",
    "", "", "", " ", "", " ",
    "", " ", "", "", "", " ",
    "", " ", "", "", "", "",
    " ", "", " ", "", "", "",
    "\u00c2\u00a0", " ", "", "", "", "",
    "", " ", " ", " ", "", "",
    "", " ", "", " ", " ", " ",
    " ")
  private val TransformSuffix: Array[String] = Array(
    "", " ", " ", "", " ", " the ",
    "", " ", " of ", "", " and ", "",
    "", " ", ", ", " ", " in ", " to ",
    " ", "\"", ".", "\">", "\n", "",
    "]", " for ", "", "", " a ", " that ",
    "", ". ", "", ", ", "", " with ",
    "'", " from ", " by ", "", "", "",
    "", ". The ", "", " on ", " as ", " is ",
    "", "ing ", "\n\t", ":", ". ", "ed ",
    "", "", "", "(", ", ", "",
    " at ", "ly ", " of ", "", "", ", ",
    "\"", "(", " ", "\">", "=\"", ".",
    "", " of the ", "'", ". This ", ",", " ",
    "(", ".", " not ", "=\"", "er ", " ",
    "al ", "", "='", "\"", ". ", "(",
    "ful ", ". ", "ive ", "less ", "'", "est ",
    ".", "\">", "='", ",", "ize ", ".",
    "", ",", "=\"", "=\"", "ous ", ", ",
    "='", ",", "=\"", ", ", ",", "(",
    ". ", ".", "='", ". ", "=\"", "='",
    "='")
  private val TransformPrefixB: Array[Array[Byte]] =
    TransformPrefix.map(_.getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1))
  private val TransformSuffixB: Array[Array[Byte]] =
    TransformSuffix.map(_.getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1))

  // ------------------------------------------------------------------
  // fixed code tables (RFC 7932 §4, §5, §6, §9.2)
  // ------------------------------------------------------------------

  private val InsOff: Array[Int] = Array(0, 1, 2, 3, 4, 5, 6, 8, 10,
    14, 18, 26, 34, 50, 66, 98, 130, 194, 322, 578, 1090, 2114,
    6210, 22594)
  private val InsEx: Array[Int] = Array(0, 0, 0, 0, 0, 0, 1, 1, 2,
    2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 12, 14, 24)
  private val CpOff: Array[Int] = Array(2, 3, 4, 5, 6, 7, 8, 9, 10,
    12, 14, 18, 22, 30, 38, 54, 70, 102, 134, 198, 326, 582, 1094,
    2118)
  private val CpEx: Array[Int] = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1,
    2, 2, 3, 3, 4, 4, 5, 5, 6, 7, 8, 9, 10, 24)
  private val BlkOff: Array[Int] = Array(1, 5, 9, 13, 17, 25, 33,
    41, 49, 65, 81, 97, 113, 145, 177, 209, 241, 305, 369, 497,
    753, 1265, 2289, 4337, 8433, 16625)
  private val BlkEx: Array[Int] = Array(2, 2, 2, 2, 3, 3, 3, 3, 4,
    4, 4, 4, 5, 5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)
  // command cells 2..10: high 3 bits of the insert / copy codes
  private val InsRange: Array[Int] = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CpRange: Array[Int] = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)
  // code-length-code symbol order and its static prefix code
  // (symbol 0:"00" 3:"01" 4:"10" 2:"110" 1:"1110" 5:"1111",
  // indexed by a 4-bit LSB-first peek)
  private val ClcOrder: Array[Int] = Array(1, 2, 3, 4, 0, 5, 17, 6,
    16, 7, 8, 9, 10, 11, 12, 13, 14, 15)
  private val ClStaticLen: Array[Int] = Array(2, 2, 2, 3, 2, 2, 2,
    4, 2, 2, 2, 3, 2, 2, 2, 4)
  private val ClStaticVal: Array[Int] = Array(0, 4, 3, 2, 0, 4, 3,
    1, 0, 4, 3, 2, 0, 4, 3, 5)

  // ------------------------------------------------------------------
  // bit reader (LSB-first)
  // ------------------------------------------------------------------

  private final class Reader(val b: Array[Byte]) {
    var pos: Int = 0 // bit index
    private val limit = b.length.toLong * 8
    def bit(): Int = {
      val p = pos
      if (p >= limit) fail("eof")
      pos = p + 1
      (b(p >> 3) >> (p & 7)) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v |= bit() << i; i += 1 }
      v
    }
    def align(): Unit = pos = (pos + 7) & ~7
    def aByte(): Int = {
      if ((pos & 7) != 0) fail("unaligned")
      if (pos + 8 > limit) fail("eof")
      val v = b(pos >> 3) & 0xff
      pos += 8
      v
    }
  }

  // ------------------------------------------------------------------
  // canonical prefix codes
  // ------------------------------------------------------------------

  /** Canonical prefix decoder over explicit code lengths (≤15):
    * counts/offsets per length, symbols sorted by (length, symbol) —
    * EXCEPT simple codes, whose probed ordering rules are applied by
    * the caller via `presorted`.
    */
  private final class Code(lengths: Array[Int],
      presorted: Array[Int] = null) {
    private var single = -1
    private val count = new Array[Int](16)
    private val syms: Array[Int] = {
      var n = 0
      var space = 0
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        if (l > 0) {
          if (l > 15) fail("len too long")
          count(l) += 1
          space += 32768 >> l
          n += 1
        }
        i += 1
      }
      if (n == 0) fail("empty code")
      if (n == 1) {
        var s = 0
        while (lengths(s) == 0) s += 1
        single = s
        Array(s)
      } else {
        if (space != 32768) fail("incomplete code")
        if (presorted != null) presorted
        else {
          val out = new Array[Int](n)
          var k = 0
          var l = 1
          while (l <= 15) {
            var s2 = 0
            while (s2 < lengths.length) {
              if (lengths(s2) == l) { out(k) = s2; k += 1 }
              s2 += 1
            }
            l += 1
          }
          out
        }
      }
    }
    def read(r: Reader): Int = {
      if (single >= 0) return single
      var code = 0
      var first = 0
      var idx = 0
      var l = 1
      while (l <= 15) {
        code = (code << 1) | r.bit()
        val c = count(l)
        if (code - first < c) return syms(idx + code - first)
        idx += c
        first = (first + c) << 1
        l += 1
      }
      fail("bad prefix code")
    }
  }

  /** Simple prefix code (§3.4): 1–4 explicit symbols; the probed
    * ordering rules (first symbols keep the short codes, equal
    * lengths sorted) pinned by BrotliSpec.
    */
  private def simpleCode(r: Reader, alphabet: Int): Code = {
    val abits = math.max(1, 32 - Integer.numberOfLeadingZeros(
      alphabet - 1))
    val nsym = r.bits(2) + 1
    val syms = new Array[Int](nsym)
    var i = 0
    while (i < nsym) {
      syms(i) = r.bits(abits)
      if (syms(i) >= alphabet) fail("symbol oob")
      var j = 0
      while (j < i) {
        if (syms(j) == syms(i)) fail("dup symbol")
        j += 1
      }
      i += 1
    }
    val lens = new Array[Int](alphabet)
    nsym match {
      case 1 =>
        lens(syms(0)) = 1
        new Code(lens) // single-symbol: zero bits
      case 2 =>
        val a = math.min(syms(0), syms(1))
        val b = math.max(syms(0), syms(1))
        lens(a) = 1; lens(b) = 1
        new Code(lens, Array(a, b))
      case 3 =>
        lens(syms(0)) = 1
        lens(syms(1)) = 2; lens(syms(2)) = 2
        val a = math.min(syms(1), syms(2))
        val b = math.max(syms(1), syms(2))
        new Code(lens, Array(syms(0), a, b))
      case _ =>
        if (r.bit() == 0) {
          val ss = syms.sorted
          ss.foreach(s => lens(s) = 2)
          new Code(lens, ss)
        } else {
          lens(syms(0)) = 1; lens(syms(1)) = 2
          lens(syms(2)) = 3; lens(syms(3)) = 3
          val a = math.min(syms(2), syms(3))
          val b = math.max(syms(2), syms(3))
          new Code(lens, Array(syms(0), syms(1), a, b))
        }
    }
  }

  /** Complex prefix code (§3.5): code-length code through the fixed
    * static code, then symbol lengths with 16/17 repeat symbols and
    * the exact 32768 code-space completion rule.
    */
  private def complexCode(r: Reader, alphabet: Int, hskip: Int)
      : Code = {
    val clLens = new Array[Int](18)
    var space = 0
    var numCodes = 0
    var i = hskip
    var done = false
    while (i < 18 && !done) {
      // 4-bit LSB-first peek into the static code
      val save = r.pos
      var p = 0
      var k = 0
      while (k < 4 && r.pos < r.b.length.toLong * 8) {
        p |= r.bit() << k
        k += 1
      }
      val len = ClStaticLen(p & 15)
      if (save + len > r.b.length.toLong * 8) fail("eof")
      r.pos = save + len
      val v = ClStaticVal(p & 15)
      clLens(ClcOrder(i)) = v
      if (v != 0) {
        space += 32 >> v
        numCodes += 1
        if (space >= 32) done = true
      }
      i += 1
    }
    if (numCodes != 1 && space != 32) fail("clc space")
    val clCode = new Code(clLens)
    val lens = new Array[Int](alphabet)
    var sp = 0
    var prevNz = 8
    var lastSym = -1
    var lastRep = 0
    var n = 0
    while (n < alphabet && sp < 32768) {
      val s = clCode.read(r)
      if (s < 16) {
        lens(n) = s; n += 1
        if (s != 0) {
          prevNz = s
          sp += 32768 >> s
        }
        lastSym = -1
      } else if (s == 16) {
        val extra = r.bits(2)
        val rep = if (lastSym == 16) 4 * (lastRep - 2) + 3 + extra
          else 3 + extra
        val delta = rep - (if (lastSym == 16) lastRep else 0)
        lastSym = 16; lastRep = rep
        var j = 0
        while (j < delta) {
          if (n >= alphabet) fail("repeat oob")
          lens(n) = prevNz; n += 1
          sp += 32768 >> prevNz
          j += 1
        }
      } else {
        val extra = r.bits(3)
        val rep = if (lastSym == 17) 8 * (lastRep - 2) + 3 + extra
          else 3 + extra
        val delta = rep - (if (lastSym == 17) lastRep else 0)
        lastSym = 17; lastRep = rep
        var j = 0
        while (j < delta) {
          if (n >= alphabet) fail("repeat oob")
          lens(n) = 0; n += 1
          j += 1
        }
      }
    }
    if (sp > 32768) fail("over space")
    new Code(lens)
  }

  private def prefixCode(r: Reader, alphabet: Int): Code = {
    val h = r.bits(2)
    if (h == 1) simpleCode(r, alphabet)
    else complexCode(r, alphabet, h)
  }

  /** NBLTYPES / NTREES variable code (§9.2): 1..256. */
  private def varCount(r: Reader): Int = {
    if (r.bit() == 0) return 1
    val n = r.bits(3)
    if (n == 0) 2 else (1 << n) + 1 + r.bits(n)
  }

  /** Context map (§7.3): RLE zero runs + inverse move-to-front. */
  private def contextMap(r: Reader, ntrees: Int, size: Int)
      : Array[Int] = {
    var rleMax = 0
    if (r.bit() == 1) rleMax = r.bits(4) + 1
    val code = prefixCode(r, rleMax + ntrees)
    val cmap = new Array[Int](size)
    var i = 0
    while (i < size) {
      val s = code.read(r)
      if (s == 0) { cmap(i) = 0; i += 1 }
      else if (s <= rleMax) {
        var reps = (1 << s) + r.bits(s)
        while (reps > 0) {
          if (i >= size) fail("cmap run oob")
          cmap(i) = 0; i += 1
          reps -= 1
        }
      } else {
        cmap(i) = s - rleMax
        if (cmap(i) >= ntrees) fail("cmap value oob")
        i += 1
      }
    }
    if (r.bit() == 1) {
      // inverse move-to-front
      val mtf = Array.tabulate(256)(identity)
      i = 0
      while (i < size) {
        var j = cmap(i)
        val v = mtf(j)
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        cmap(i) = v
        i += 1
      }
    }
    cmap
  }

  /** Per-category block-switch state (§6). */
  private final class BlockState(r: Reader, val n: Int) {
    var btype = 0
    private var prev = 1
    private val typeCode: Code = if (n >= 2) prefixCode(r, n + 2)
      else null
    private val lenCode: Code = if (n >= 2) prefixCode(r, 26)
      else null
    var left: Long = if (n >= 2) readLen(r) else Long.MaxValue
    private def readLen(r: Reader): Long = {
      val s = lenCode.read(r)
      BlkOff(s).toLong + r.bits(BlkEx(s)).toLong
    }
    def next(r: Reader): Unit = {
      if (left == 0) {
        val s = typeCode.read(r)
        val nt = if (s == 0) prev
          else if (s == 1) (btype + 1) % n
          else s - 2
        prev = btype
        btype = nt
        left = readLen(r)
      }
      left -= 1
    }
  }

  // ------------------------------------------------------------------
  // dictionary word transforms (§8)
  // ------------------------------------------------------------------

  /** Uppercase-ferment: ASCII a–z XOR 32; 2-byte UTF-8 flips bit 5
    * of the second byte; 3-byte flips bit 0|4 (XOR 5) of the third.
    */
  private def ferment(buf: Array[Byte], from: Int, until: Int,
      all: Boolean): Unit = {
    var i = from
    var continue = true
    while (i < until && continue) {
      val c = buf(i) & 0xff
      if (c < 192) {
        if (c >= 'a' && c <= 'z') buf(i) = (c ^ 32).toByte
        i += 1
      } else if (c < 224) {
        if (i + 1 < until) buf(i + 1) = (buf(i + 1) ^ 32).toByte
        i += 2
      } else {
        if (i + 2 < until) buf(i + 2) = (buf(i + 2) ^ 5).toByte
        i += 3
      }
      if (!all) continue = false
    }
  }

  /** Transformed dictionary word for a copy length and word id. */
  private def dictWord(copyLen: Int, wordId: Long): Array[Byte] = {
    if (copyLen < 4 || copyLen > 24) fail("dict copy length")
    val bits = SizeBits(copyLen)
    val idx = (wordId & ((1L << bits) - 1)).toInt
    val tid = (wordId >>> bits).toInt
    if (tid >= 121) fail("transform oob")
    val base = DictOffset(copyLen) + idx * copyLen
    val op = TransformOps(tid)
    var from = 0
    var until = copyLen
    if (op >= 1 && op <= 9) from = math.min(op, copyLen)
    else if (op >= 12 && op <= 20)
      until = math.max(0, copyLen - (op - 11))
    val wlen = until - from
    val pre = TransformPrefixB(tid)
    val suf = TransformSuffixB(tid)
    val out = new Array[Byte](pre.length + wlen + suf.length)
    System.arraycopy(pre, 0, out, 0, pre.length)
    System.arraycopy(Dict, base + from, out, pre.length, wlen)
    System.arraycopy(suf, 0, out, pre.length + wlen, suf.length)
    if (op == 10) ferment(out, pre.length, pre.length + wlen, all = false)
    else if (op == 11) ferment(out, pre.length, pre.length + wlen,
      all = true)
    out
  }

  // ------------------------------------------------------------------
  // decoder
  // ------------------------------------------------------------------

  private final class Out(maxOut: Int) {
    var buf = new Array[Byte](8192)
    var len = 0
    def ensure(n: Int): Unit = {
      if (len + n > maxOut) fail("output too large")
      if (len + n > buf.length) {
        var cap = buf.length
        while (cap < len + n) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, math.min(cap.toLong,
          maxOut.toLong).toInt.max(len + n))
      }
    }
    def add(b: Byte): Unit = { ensure(1); buf(len) = b; len += 1 }
    def addAll(bs: Array[Byte]): Unit = {
      ensure(bs.length)
      System.arraycopy(bs, 0, buf, len, bs.length)
      len += bs.length
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  private def decode(data: Array[Byte], maxOut: Int): Array[Byte] = {
    val r = new Reader(data)
    // stream header: window bits
    val wbits =
      if (r.bit() == 0) 16
      else {
        val n = r.bits(3)
        if (n != 0) 17 + n
        else {
          val m = r.bits(3)
          if (m == 0) 17
          else if (m == 1) fail("invalid wbits")
          else 8 + m
        }
      }
    val window = (1L << wbits) - 16
    val out = new Out(maxOut)
    val dring = Array(16, 15, 11, 4)
    var didx = 3
    var isLast = false
    while (!isLast) {
      isLast = r.bit() == 1
      var skipBlock = false
      if (isLast && r.bit() == 1) skipBlock = true // ISLASTEMPTY
      if (!skipBlock) {
        val mn = r.bits(2)
        if (mn == 3) {
          // metadata block: skip
          if (isLast) fail("metadata cannot be last")
          if (r.bit() != 0) fail("reserved bit")
          val msb = r.bits(2)
          var mlen = 0
          if (msb > 0) {
            var k = 0
            while (k < msb) { mlen |= r.bits(8) << (8 * k); k += 1 }
            if ((mlen >>> (8 * (msb - 1))) == 0) fail("nonminimal mskip")
            mlen += 1
          }
          r.align()
          var k = 0
          while (k < mlen) { r.aByte(); k += 1 }
        } else {
          val nibbles = 4 + mn
          var mlen = 0L
          var k = 0
          while (k < nibbles) { mlen |= r.bits(4).toLong << (4 * k); k += 1 }
          if (nibbles > 4 && (mlen >>> ((nibbles - 1) * 4)) == 0)
            fail("nonminimal mlen")
          mlen += 1
          if (!isLast && r.bit() == 1) {
            // uncompressed
            r.align()
            out.ensure(mlen.toInt)
            var j = 0L
            while (j < mlen) { out.add(r.aByte().toByte); j += 1 }
          } else {
            decodeCompressed(r, out, mlen, window, dring,
              () => didx, i => didx = i)
            // didx passed by closure: see below
          }
        }
      }
    }
    // the reference decoder's stream-end rule: the unread bits of
    // the final consumed byte must be zero (trailing whole bytes are
    // tolerated, matching reference behavior for padded containers)
    while ((r.pos & 7) != 0)
      if (r.bit() != 0) fail("nonzero padding")
    out.result()
  }

  /** One compressed meta-block (§9.3). The distance ring buffer is
    * STREAM state, so it is threaded through.
    */
  private def decodeCompressed(r: Reader, out: Out, mlen: Long,
      window: Long, dring: Array[Int], getDidx: () => Int,
      setDidx: Int => Unit): Unit = {
    val bsL = new BlockState(r, varCount(r))
    val bsI = new BlockState(r, varCount(r))
    val bsD = new BlockState(r, varCount(r))
    val npostfix = r.bits(2)
    val ndirect = r.bits(4) << npostfix
    val pmask = (1 << npostfix) - 1
    val cmodes = Array.fill(bsL.n)(r.bits(2))
    val ntreesL = varCount(r)
    val cmapL = if (ntreesL >= 2) contextMap(r, ntreesL, 64 * bsL.n)
      else new Array[Int](64 * bsL.n)
    val ntreesD = varCount(r)
    val cmapD = if (ntreesD >= 2) contextMap(r, ntreesD, 4 * bsD.n)
      else new Array[Int](4 * bsD.n)
    val litCodes = Array.fill(ntreesL)(prefixCode(r, 256))
    val cmdCodes = Array.fill(bsI.n)(prefixCode(r, 704))
    val dalpha = 16 + ndirect + (48 << npostfix)
    val dstCodes = Array.fill(ntreesD)(prefixCode(r, dalpha))
    var didx = getDidx()
    var produced = 0L
    while (produced < mlen) {
      bsI.next(r)
      val sym = cmdCodes(bsI.btype).read(r)
      val cell = sym >> 6
      var dist0 = false
      var ih = 0
      var ch = 0
      if (cell < 2) { dist0 = true; ih = 0; ch = (cell & 1) * 8 }
      else { ih = InsRange(cell - 2); ch = CpRange(cell - 2) }
      val ic = ih + ((sym >> 3) & 7)
      val cc = ch + (sym & 7)
      val ilen = InsOff(ic).toLong + r.bits(InsEx(ic)).toLong
      val clen = CpOff(cc).toLong + r.bits(CpEx(cc)).toLong
      var j = 0L
      while (j < ilen) {
        bsL.next(r)
        val p1 = if (out.len > 0) out.buf(out.len - 1) & 0xff else 0
        val p2 = if (out.len > 1) out.buf(out.len - 2) & 0xff else 0
        val mode = cmodes(bsL.btype)
        val ctx = (Ctx(mode * 512 + p1) & 0xff) |
          (Ctx(mode * 512 + 256 + p2) & 0xff)
        val t = cmapL(bsL.btype * 64 + ctx)
        out.add(litCodes(t).read(r).toByte)
        produced += 1
        j += 1
      }
      if (produced > mlen) fail("insert over mlen")
      if (produced < mlen) {
        var d = 0L
        var dcode = 0
        if (dist0) d = dring(didx & 3).toLong
        else {
          bsD.next(r)
          val dctx = math.min(clen - 2, 3L).toInt
          val t = cmapD(bsD.btype * 4 + dctx)
          dcode = dstCodes(t).read(r)
          if (dcode < 16) {
            if (dcode < 4) d = dring((didx - dcode) & 3).toLong
            else {
              val which = (dcode - 4) / 6 // 0 → last, 1 → second
              val delta = (dcode - 4) % 6 match {
                case 0 => -1; case 1 => 1; case 2 => -2
                case 3 => 2; case 4 => -3; case 5 => 3
              }
              d = dring((didx - which) & 3).toLong + delta
              if (d <= 0) fail("bad ring distance")
            }
          } else if (dcode < 16 + ndirect) {
            d = (dcode - 16 + 1).toLong
          } else {
            val x = dcode - 16 - ndirect
            val nb = 1 + (x >> (npostfix + 1))
            if (nb > 30) fail("distance bits")
            val off = ((2L + ((x >> npostfix) & 1)) << nb) - 4L
            d = ((off + r.bits(nb).toLong) << npostfix) +
              (x & pmask) + ndirect + 1
          }
        }
        val maxd = math.min(out.len.toLong, window)
        if (d > maxd) {
          // static dictionary reference
          val word = dictWord(clen.toInt, d - maxd - 1)
          out.addAll(word)
          produced += word.length
          if (produced > mlen) fail("dict over mlen")
        } else {
          if (!dist0 && dcode != 0) {
            didx = (didx + 1) & 3
            dring(didx & 3) = d.toInt
          }
          val n = math.min(clen, mlen - produced)
          out.ensure(n.toInt)
          var k = 0L
          while (k < n) {
            out.buf(out.len) = out.buf(out.len - d.toInt)
            out.len += 1
            k += 1
          }
          produced += n
        }
      }
    }
    setDidx(didx)
  }

  /** Decode a brotli stream. None for anything malformed — damaged
    * headers, incomplete prefix codes, out-of-range distances, bad
    * dictionary transforms, output over `maxOut` — never garbage.
    */
  def decompress(b: Array[Byte], maxOut: Int = MaxOut)
      : Option[Array[Byte]] = {
    if (b == null || b.length == 0) return None
    try Some(decode(b, maxOut))
    catch {
      case BrotliFail(_) => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }
  }

  // ------------------------------------------------------------------
  // encoder (fixture side): real brotli streams for the oracle
  // queries, pinned against the reference decoder in BrotliSpec
  // ------------------------------------------------------------------

  private final class Writer {
    private var buf = new Array[Byte](1024)
    private var bitPos = 0
    private def ensure(bits: Int): Unit = {
      val need = (bitPos + bits + 7) >> 3
      if (need > buf.length) {
        var cap = buf.length
        while (cap < need) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    }
    def bits(v: Long, n: Int): Unit = { // LSB-first
      ensure(n)
      var i = 0
      while (i < n) {
        if (((v >> i) & 1L) != 0)
          buf(bitPos >> 3) = (buf(bitPos >> 3) | (1 << (bitPos & 7))).toByte
        bitPos += 1
        i += 1
      }
    }
    def code(c: Int, len: Int): Unit = { // prefix code, MSB first
      ensure(len)
      var i = len - 1
      while (i >= 0) {
        if (((c >> i) & 1) != 0)
          buf(bitPos >> 3) = (buf(bitPos >> 3) | (1 << (bitPos & 7))).toByte
        bitPos += 1
        i -= 1
      }
    }
    def align(): Unit = bitPos = (bitPos + 7) & ~7
    def byte(v: Int): Unit = { align(); ensure(8); bits(v & 0xff, 8) }
    def result(): Array[Byte] =
      java.util.Arrays.copyOf(buf, (bitPos + 7) >> 3)
  }

  /** Length-limited canonical Huffman lengths (zlib's halve-and-
    * rebuild approach for the rare over-limit tree).
    */
  private def huffLengths(freq0: Array[Long], maxLen: Int)
      : Array[Int] = {
    val n = freq0.length
    val lens = new Array[Int](n)
    var freq = freq0.clone()
    var ok = false
    while (!ok) {
      java.util.Arrays.fill(lens, 0)
      // heap-less O(n log n) huffman via sorted merge
      val nodes = freq.zipWithIndex.filter(_._1 > 0)
      if (nodes.length == 0) return lens
      if (nodes.length == 1) { lens(nodes(0)._2) = 1; return lens }
      // parent indices
      val m = nodes.length
      val w = new Array[Long](2 * m)
      val parent = new Array[Int](2 * m)
      val order = nodes.sortBy(_._1)
      var i = 0
      while (i < m) { w(i) = order(i)._1; i += 1 }
      var leaf = 0
      var internal = m
      var next = m
      var produced = 0
      while (produced < m - 1) {
        def takeMin(): Int = {
          if (leaf < m && (internal >= next || w(leaf) <= w(internal))) {
            leaf += 1; leaf - 1
          } else { internal += 1; internal - 1 }
        }
        val a = takeMin(); val b = takeMin()
        w(next) = w(a) + w(b)
        parent(a) = next; parent(b) = next
        next += 1
        produced += 1
      }
      val depth = new Array[Int](2 * m)
      var k = next - 2
      while (k >= 0) {
        depth(k) = depth(parent(k)) + 1
        k -= 1
      }
      var maxD = 0
      i = 0
      while (i < m) {
        lens(order(i)._2) = depth(i)
        if (depth(i) > maxD) maxD = depth(i)
        i += 1
      }
      if (maxD <= maxLen) ok = true
      else freq = freq.map(f => if (f > 0) (f >> 1) + 1 else 0)
    }
    lens
  }

  /** Canonical codes matching the decoder: within a length, codes in
    * ascending SYMBOL order.
    */
  private def canonCodes(lens: Array[Int]): Array[Int] = {
    val codes = new Array[Int](lens.length)
    var code = 0
    var prev = 0
    var l = 1
    while (l <= 15) {
      var s = 0
      while (s < lens.length) {
        if (lens(s) == l) {
          code <<= (l - prev); prev = l
          codes(s) = code
          code += 1
        }
        s += 1
      }
      l += 1
    }
    codes
  }

  /** Write a prefix-code description for `freq` and return the
    * (lengths, codes) used for payload emission. Simple codes for
    * ≤4 distinct symbols (the probed ordering rules), complex
    * descriptions with 17-coded zero runs otherwise.
    */
  private def writePrefixCode(w: Writer, freq: Array[Long],
      alphabet: Int): (Array[Int], Array[Int]) = {
    val used = freq.zipWithIndex.filter(_._1 > 0).map(_._2)
    val abits = math.max(1, 32 - Integer.numberOfLeadingZeros(
      alphabet - 1))
    val lens = new Array[Int](alphabet)
    val codes = new Array[Int](alphabet)
    if (used.length == 0)
      fail("empty code") // a used tree always has symbols
    if (used.length <= 4) {
      w.bits(1, 2) // simple
      w.bits(used.length - 1, 2)
      used.length match {
        case 1 =>
          w.bits(used(0), abits)
          lens(used(0)) = 0 // zero bits per symbol
        case 2 =>
          val a = used(0); val b = used(1) // ascending already
          w.bits(a, abits); w.bits(b, abits)
          lens(a) = 1; lens(b) = 1
          codes(a) = 0; codes(b) = 1
        case 3 =>
          // most frequent first: it owns the 1-bit code
          val top = used.maxBy(freq(_))
          val rest = used.filter(_ != top).sorted
          w.bits(top, abits); w.bits(rest(0), abits)
          w.bits(rest(1), abits)
          lens(top) = 1; codes(top) = 0
          lens(rest(0)) = 2; codes(rest(0)) = 2
          lens(rest(1)) = 2; codes(rest(1)) = 3
        case _ =>
          val ss = used.sorted
          ss.foreach(s => w.bits(s, abits))
          w.bits(0, 1) // tree-select 0: 2,2,2,2
          var i = 0
          while (i < 4) { lens(ss(i)) = 2; codes(ss(i)) = i; i += 1 }
      }
      (lens, codes)
    } else {
      val hl = huffLengths(freq, 15)
      System.arraycopy(hl, 0, lens, 0, alphabet)
      val cc = canonCodes(lens)
      System.arraycopy(cc, 0, codes, 0, alphabet)
      // emit symbol-length sequence with 17-coded zero runs; a
      // literal 0 separates consecutive 17s so the decoder's
      // accumulation rule never fires
      val seq = Seq.newBuilder[(Int, Int, Int)] // (clSym, extra, ebits)
      var i = 0
      // trailing zeros are implicit: find the last nonzero length
      var last = alphabet - 1
      while (last >= 0 && lens(last) == 0) last -= 1
      while (i <= last) {
        if (lens(i) != 0) { seq += ((lens(i), 0, 0)); i += 1 }
        else {
          var run = 0
          while (i + run <= last && lens(i + run) == 0) run += 1
          i += run
          var first = true
          while (run > 0) {
            if (run >= 3) {
              if (!first) { seq += ((0, 0, 0)); run -= 1 }
              if (run >= 3) {
                val k = math.min(run, 10)
                seq += ((17, k - 3, 3))
                run -= k
                first = false
              }
            } else {
              seq += ((0, 0, 0)); run -= 1
            }
          }
        }
      }
      val emitted = seq.result()
      // code-length code over the emitted symbols
      val clFreq = new Array[Long](18)
      emitted.foreach(e => clFreq(e._1) += 1)
      val clLens = huffLengths(clFreq, 5)
      val clCodes = canonCodes(clLens)
      w.bits(0, 2) // complex, HSKIP 0
      // CL lengths in the fixed order, via the static code; stop
      // exactly when the code space fills
      val staticCode: Array[(Int, Int)] = Array( // value → (code,len)
        (0, 2), (14, 4), (6, 3), (1, 2), (2, 2), (15, 4))
      var space = 0
      var numCodes = clLens.count(_ > 0)
      var oi = 0
      var done = false
      while (oi < 18 && !done) {
        val s = ClcOrder(oi)
        val v = clLens(s)
        val (c, l) = staticCode(v)
        w.code(c, l)
        if (v != 0) {
          space += 32 >> v
          if (space >= 32) done = true
        }
        oi += 1
      }
      if (numCodes != 1 && space != 32) fail("encoder clc space")
      // the symbol lengths themselves
      emitted.foreach { case (s, extra, ebits) =>
        if (numCodes > 1) w.code(clCodes(s), clLens(s))
        if (ebits > 0) w.bits(extra, ebits)
      }
      (lens, codes)
    }
  }

  private def insCodeOf(n: Long): Int = {
    var i = 23
    while (InsOff(i) > n) i -= 1
    i
  }
  private def cpCodeOf(n: Long): Int = {
    var i = 23
    while (CpOff(i) > n) i -= 1
    i
  }
  private def cmdSymbol(ic: Int, cc: Int): Int = {
    val ih = ic >> 3
    val ch = cc >> 3
    var cell = -1
    var k = 0
    while (k < 9 && cell < 0) {
      if (InsRange(k) == ih * 8 && CpRange(k) == ch * 8) cell = k + 2
      k += 1
    }
    if (cell < 0) fail("no cell")
    cell * 64 + (ic & 7) * 8 + (cc & 7)
  }
  /** dcode ≥ 16 for a raw distance (NPOSTFIX 0, NDIRECT 0). */
  private def distCodeOf(d: Long): (Int, Long, Int) = {
    var x = 0
    while (x < 48) {
      val nb = 1 + (x >> 1)
      val off = ((2L + (x & 1)) << nb) - 4L
      val lo = off + 1
      val hi = off + ((1L << nb) - 1) + 1
      if (d >= lo && d <= hi) return (16 + x, d - off - 1, nb)
      x += 1
    }
    fail("distance too large")
  }

  private final case class Token(insFrom: Int, insLen: Int,
    copyLen: Int, dist: Int) // copyLen 0 = trailing insert-only

  /** Raw (uncompressed meta-block) brotli stream — the container
    * framing with zero entropy coding.
    */
  def encodeStored(data: Array[Byte]): Array[Byte] = {
    val w = new Writer
    w.bits(1, 1); w.bits(5, 3) // WBITS 22
    var off = 0
    while (off < data.length) {
      val n = math.min(65536, data.length - off)
      w.bits(0, 1) // not last
      w.bits(0, 2) // 4 nibbles
      w.bits(n - 1, 16)
      w.bits(1, 1) // uncompressed
      w.align()
      var i = 0
      while (i < n) { w.byte(data(off + i) & 0xff); i += 1 }
      off += n
    }
    w.bits(1, 1); w.bits(1, 1) // last + empty
    w.result()
  }

  // ------------------------------------------------------------------
  // Spark plumbing (mirrors Zstd's): per-row synth + decode kernel
  // ------------------------------------------------------------------

  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types.{BinaryType, StringType,
    StructField, StructType}

  val brotliTextSchema: StructType = StructType(Seq(
    StructField("brotli_text", StringType)))

  /** Decode kernel for `Multimodal.decodeBatches`. */
  def decodeBrotliText(bytes: Array[Byte]): Seq[Any] =
    decompress(bytes) match {
      case Some(plain) => Seq[Any](new String(plain,
        java.nio.charset.StandardCharsets.UTF_8))
      case None => Seq[Any](null)
    }

  /** Per-row brotli synthesizer: text (padded with planted
    * repetition so the LZ77 stage emits real copy commands) through
    * the entropy encoder on even modes, the stored framing on odd.
    */
  def synthBrotli(df: DataFrame, idCol: String, textCol: String,
      modeCol: String, outCol: String): DataFrame = {
    val (ii, ti, mi) = (df.schema.fieldIndex(idCol),
      df.schema.fieldIndex(textCol), df.schema.fieldIndex(modeCol))
    val schema = StructType(df.schema.fields :+
      StructField(outCol, BinaryType))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val text = Option(r.getString(ti)).getOrElse("")
        val bytes = text.getBytes(
          java.nio.charset.StandardCharsets.UTF_8)
        val out =
          if (r.getInt(mi) % 2 == 0) encodeEntropy(bytes)
          else encodeStored(bytes)
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** Entropy-coded brotli stream: greedy hash-chain LZ77 (window
    * 4 MiB, min match 4, cross-meta-block references), canonical
    * Huffman literal/command/distance codes per 64 KiB meta-block,
    * single block types, LSB6 context mode with one literal tree.
    */
  def encodeEntropy(data: Array[Byte]): Array[Byte] = {
    val w = new Writer
    w.bits(1, 1); w.bits(5, 3) // WBITS 22
    if (data.length == 0) {
      w.bits(1, 1); w.bits(1, 1)
      return w.result()
    }
    val window = (1 << 22) - 16
    // hash chains over 4-byte prefixes
    val HashBits = 16
    val head = Array.fill(1 << HashBits)(-1)
    val prev = new Array[Int](data.length)
    def hash4(i: Int): Int = {
      val h = ((data(i) & 0xff) * 506832829) ^
        ((data(i + 1) & 0xff) * 16777619) ^
        ((data(i + 2) & 0xff) * 2654435761L.toInt) ^
        ((data(i + 3) & 0xff) * 40503)
      (h >>> (32 - HashBits)) & ((1 << HashBits) - 1)
    }
    var off = 0
    while (off < data.length) {
      val blockLen = math.min(65536, data.length - off)
      val blockEnd = off + blockLen
      // tokenize this meta-block
      val tokens = Seq.newBuilder[Token]
      var pos = off
      var insFrom = off
      while (pos < blockEnd) {
        var bestLen = 0
        var bestDist = 0
        if (pos + 4 <= data.length && pos + 4 <= blockEnd) {
          val h = hash4(pos)
          var cand = head(h)
          var depth = 0
          while (cand >= 0 && depth < 48 &&
            pos - cand <= window) {
            var l = 0
            val maxL = math.min(blockEnd - pos, 2118 + 16777216)
            while (l < maxL && data(cand + l) == data(pos + l)) l += 1
            if (l > bestLen) { bestLen = l; bestDist = pos - cand }
            cand = prev(cand)
            depth += 1
          }
        }
        if (bestLen >= 4) {
          tokens += Token(insFrom, pos - insFrom, bestLen, bestDist)
          // index positions inside the match
          var k = pos
          val until = math.min(pos + bestLen, data.length - 3)
          while (k < until) {
            val h = hash4(k)
            prev(k) = head(h); head(h) = k
            k += 1
          }
          pos += bestLen
          insFrom = pos
        } else {
          if (pos + 4 <= data.length) {
            val h = hash4(pos)
            prev(pos) = head(h); head(h) = pos
          }
          pos += 1
        }
      }
      if (insFrom < blockEnd)
        tokens += Token(insFrom, blockEnd - insFrom, 0, 0)
      var toks = tokens.result()
      if (toks.isEmpty)
        toks = Seq(Token(off, 0, 0, 0)) // cannot happen; guard
      // meta-block header
      val isLast = blockEnd == data.length
      w.bits(if (isLast) 1 else 0, 1)
      if (isLast) w.bits(0, 1) // not empty
      w.bits(0, 2) // 4 nibbles
      w.bits(blockLen - 1, 16)
      if (!isLast) w.bits(0, 1) // not uncompressed
      w.bits(0, 1); w.bits(0, 1); w.bits(0, 1) // NBLTYPES 1,1,1
      w.bits(0, 2); w.bits(0, 4) // NPOSTFIX, NDIRECT
      w.bits(0, 2) // CMODE LSB6
      w.bits(0, 1); w.bits(0, 1) // NTREES_L 1, NTREES_D 1
      // frequencies
      val litF = new Array[Long](256)
      val cmdF = new Array[Long](704)
      val dstF = new Array[Long](64)
      toks.foreach { t =>
        var i = t.insFrom
        while (i < t.insFrom + t.insLen) {
          litF(data(i) & 0xff) += 1
          i += 1
        }
        val ic = insCodeOf(t.insLen)
        val cc = cpCodeOf(math.max(t.copyLen, 2))
        cmdF(cmdSymbol(ic, cc)) += 1
        if (t.copyLen > 0) dstF(distCodeOf(t.dist)._1) += 1
      }
      if (dstF.forall(_ == 0)) dstF(16) = 1 // a tree must exist
      if (litF.forall(_ == 0)) litF(0) = 1
      val (litL, litC) = writePrefixCode(w, litF, 256)
      val (cmdL, cmdC) = writePrefixCode(w, cmdF, 704)
      val (dstL, dstC) = writePrefixCode(w, dstF, 64)
      // command stream
      toks.foreach { t =>
        val ic = insCodeOf(t.insLen)
        val cc = cpCodeOf(math.max(t.copyLen, 2))
        val sym = cmdSymbol(ic, cc)
        w.code(cmdC(sym), cmdL(sym))
        w.bits(t.insLen - InsOff(ic), InsEx(ic))
        w.bits(math.max(t.copyLen, 2) - CpOff(cc), CpEx(cc))
        var i = t.insFrom
        while (i < t.insFrom + t.insLen) {
          val b = data(i) & 0xff
          w.code(litC(b), litL(b))
          i += 1
        }
        if (t.copyLen > 0) {
          val (dc, extra, ebits) = distCodeOf(t.dist)
          w.code(dstC(dc), dstL(dc))
          w.bits(extra, ebits)
        }
      }
      off = blockEnd
    }
    w.result()
  }
}
