package graft.operators

import java.nio.charset.{Charset, StandardCharsets}

/** HTTP/1.1 response payload decoding for the crawl-ingest path.
  *
  * Real captured WARC responses (e.g. Common Crawl) very often carry
  * `Transfer-Encoding: chunked` framing and gzip/deflate
  * `Content-Encoding`, and declare a charset that is not UTF-8 —
  * reading the payload bytes after the first CRLFCRLF as UTF-8 text
  * silently yields hex chunk-size lines interleaved with content, or
  * mojibake. This module does the real work:
  *
  *   1. header parse (case-insensitive names, token lists),
  *   2. chunked de-framing (sizes, extensions, trailers),
  *   3. content decoding — gzip/x-gzip, deflate (zlib with a
  *      raw-deflate fallback: real servers ship both), zstd (via the
  *      in-repo RFC 8878 decoder), identity; `br` is refused
  *      honestly (null body) rather than mis-read,
  *   4. charset sniffing — `Content-Type; charset=`, then BOM, then
  *      a bounded `<meta charset>` / `http-equiv` rescan of the body
  *      prefix, defaulting to UTF-8; ISO-8859-1/latin-1 map to
  *      windows-1252 per the WHATWG encoding rule.
  *
  * Everything is total: any malformed layer yields `None`/null — a
  * corrupt response must classify, never throw, so one bad record
  * cannot kill a 100 TB task. Reference behavior surface:
  * /root/reference has no HTTP layer; this is beyond-parity crawl
  * plumbing shared by the WARC readers (Archive.scala) and the
  * streaming ingest.
  */
object Http {

  /** Body-size bomb guard (matches the other codecs' MaxInflate). */
  private val MaxBody = 64 << 20

  final case class Response(status: Int,
      headers: Seq[(String, String)], raw: Array[Byte]) {
    /** First value of a header, by case-insensitive name. */
    def header(name: String): Option[String] = {
      val n = name.toLowerCase(java.util.Locale.ROOT)
      headers.collectFirst { case (k, v) if k == n => v }
    }
  }

  /** Split an HTTP response payload into status, lower-cased
    * headers, and the raw (still framed/encoded) body bytes. None if
    * the payload is not an HTTP response with a complete header
    * block.
    */
  def parseResponse(payload: Array[Byte]): Option[Response] = {
    if (payload == null || payload.length < 12) return None
    if (!(payload(0) == 'H' && payload(1) == 'T' && payload(2) == 'T'
      && payload(3) == 'P' && payload(4) == '/')) return None
    var boundary = -1
    var i = 0
    while (boundary < 0 && i + 3 < payload.length) {
      if (payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n')
        boundary = i
      i += 1
    }
    if (boundary < 0) return None
    // header block is ASCII-compatible by construction
    val head = new String(payload, 0, boundary,
      StandardCharsets.ISO_8859_1)
    val lines = head.split("\r\n", -1)
    val statusParts = lines(0).split(" ")
    if (statusParts.length < 2) return None
    val status =
      try statusParts(1).toInt
      catch { case _: NumberFormatException => return None }
    val hdrs = Seq.newBuilder[(String, String)]
    var li = 1
    while (li < lines.length) {
      val l = lines(li)
      val c = l.indexOf(':')
      if (c > 0)
        hdrs += ((l.substring(0, c).trim
          .toLowerCase(java.util.Locale.ROOT),
          l.substring(c + 1).trim))
      li += 1
    }
    val raw = java.util.Arrays.copyOfRange(payload, boundary + 4,
      payload.length)
    Some(Response(status, hdrs.result(), raw))
  }

  /** Chunked transfer-encoding de-framing: hex size line (optional
    * `;ext`), CRLF, data, CRLF, ... until the 0 chunk; trailer
    * headers after it are skipped. None on any framing damage —
    * partial output would masquerade as content.
    */
  def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    var done = false
    while (!done) {
      // size line
      var e = p
      while (e + 1 < b.length && !(b(e) == '\r' && b(e + 1) == '\n'))
        e += 1
      if (e + 1 >= b.length) return None
      var line = new String(b, p, e - p, StandardCharsets.ISO_8859_1)
      val semi = line.indexOf(';') // chunk extension — ignored
      if (semi >= 0) line = line.substring(0, semi)
      line = line.trim
      if (line.isEmpty || line.length > 8) return None
      var size = 0L
      var k = 0
      while (k < line.length) {
        val d = Character.digit(line.charAt(k), 16)
        if (d < 0) return None
        size = size * 16 + d
        k += 1
      }
      p = e + 2
      if (size == 0) done = true
      else {
        if (size > MaxBody || out.size + size > MaxBody) return None
        if (p + size + 2 > b.length) return None
        out.write(b, p, size.toInt)
        p += size.toInt
        if (!(b(p) == '\r' && b(p + 1) == '\n')) return None
        p += 2
      }
    }
    // optional trailer headers until a blank line (or end of input —
    // captured payloads are routinely truncated right after 0CRLF)
    Some(out.toByteArray)
  }

  /** zlib-wrapped inflate with a raw-deflate retry: servers declare
    * `deflate` for both framings in the wild.
    */
  private def inflateAuto(b: Array[Byte]): Option[Array[Byte]] = {
    def run(raw: Boolean): Option[Array[Byte]] = {
      val inf = new java.util.zip.Inflater(raw)
      try {
        inf.setInput(b)
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0) {
            if (inf.needsInput() || inf.needsDictionary()) return None
          } else out.write(buf, 0, n)
          if (out.size > MaxBody) return None
        }
        Some(out.toByteArray)
      } catch {
        case _: java.util.zip.DataFormatException => None
      } finally inf.end()
    }
    run(raw = false).orElse(run(raw = true))
  }

  /** Undo one `Content-Encoding` token. None = cannot decode
    * (unsupported, or corrupt) — the caller must refuse, not pass
    * bytes through as if decoded.
    */
  private def contentDecode(token: String, b: Array[Byte])
      : Option[Array[Byte]] = token match {
    case "identity" | "none" | "" => Some(b)
    case "gzip" | "x-gzip" => Archive.gunzip(b)
    case "deflate" => inflateAuto(b)
    case "zstd" => Zstd.decompress(b)
    case "br" => Brotli.decompress(b)
    case "bzip2" | "x-bzip2" => Bzip2.decompress(b)
    case "xz" => Xz.decompress(b)
    // buggy servers list "chunked" under Content-Encoding; the TE
    // path never routes "chunked" here (it is filtered before the
    // fold), so when we see it the framing has NOT been removed yet —
    // passthrough would leak raw hex chunk-size lines into the body
    case "chunked" => dechunk(b)
    case _ => None // compress, unknown tokens: honest refusal
  }

  /** Fully decoded body bytes: chunked de-framing (when declared in
    * `Transfer-Encoding`), then `Content-Encoding` tokens undone in
    * reverse application order, then `Content-Length` truncation for
    * un-chunked bodies. None when any declared layer fails.
    */
  def decodedBody(r: Response): Option[Array[Byte]] = {
    val teTokens = r.header("transfer-encoding").getOrElse("")
      .toLowerCase(java.util.Locale.ROOT)
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val chunked = teTokens.contains("chunked")
    val deframed: Option[Array[Byte]] =
      if (chunked) {
        // "TE: gzip, chunked": chunked is outermost — dechunk, then
        // undo the remaining TE codings in reverse
        teTokens.reverse.filter(_ != "chunked")
          .foldLeft(dechunk(r.raw)) { (acc, tok) =>
            acc.flatMap(contentDecode(tok, _))
          }
      } else {
        // Content-Length bounds the body when the frame carries more
        val cl = r.header("content-length").flatMap { v =>
          try Some(v.trim.toLong) catch {
            case _: NumberFormatException => None }
        }
        val bounded = cl match {
          case Some(n) if n >= 0 && n < r.raw.length =>
            java.util.Arrays.copyOf(r.raw, n.toInt)
          case _ => r.raw
        }
        // "TE: gzip" with no chunked: the codings still apply; an
        // unsupported one must surface as None, not raw passthrough
        teTokens.reverse.foldLeft(Option(bounded)) { (acc, tok) =>
          acc.flatMap(contentDecode(tok, _))
        }
      }
    val tokens0 = r.header("content-encoding").getOrElse("")
      .toLowerCase(java.util.Locale.ROOT)
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // buggy servers list "chunked" in BOTH Transfer-Encoding and
    // Content-Encoding; when the TE path already removed the framing,
    // a second dechunk here would refuse a body that is fine
    val tokens =
      if (chunked) tokens0.filter(_ != "chunked") else tokens0
    tokens.reverse.foldLeft(deframed) { (acc, tok) =>
      acc.flatMap(contentDecode(tok, _))
    }
  }

  // ------------------------------------------------------------------
  // charset sniffing
  // ------------------------------------------------------------------

  /** WHATWG-style label normalization for the labels that matter at
    * crawl scale; anything else goes through Charset.forName with a
    * UTF-8 fallback.
    */
  private[operators] def charsetForLabel(label0: String)
      : Option[Charset] = {
    val label = label0.trim.toLowerCase(java.util.Locale.ROOT)
    if (label.isEmpty) return None
    val mapped = label match {
      // the WHATWG rule: latin-1 labels decode as windows-1252
      case "iso-8859-1" | "latin1" | "latin-1" | "iso8859-1" |
        "us-ascii" | "ascii" => "windows-1252"
      case "shift-jis" | "shift_jis" | "sjis" | "x-sjis" |
        "ms_kanji" => "Shift_JIS"
      case "gb2312" | "gbk" | "gb_2312" => "GBK"
      case "euc-kr" | "ks_c_5601-1987" | "korean" => "EUC-KR"
      case "utf8" => "UTF-8"
      case other => other
    }
    try Some(Charset.forName(mapped))
    catch { case _: Exception => None }
  }

  private val MetaScan = 4096

  private val MetaCharsetRe =
    ("(?is)<meta[^>]{0,256}?charset\\s*=\\s*[\"']?" +
      "([A-Za-z0-9._:-]{1,40})").r

  /** Charset for a decoded body: Content-Type `charset=` param, then
    * BOM, then a bounded `<meta ... charset=` rescan of the body
    * prefix (covers both the HTML5 form and the http-equiv
    * content="...; charset=..." form), then UTF-8.
    * Returns (charset, bomLen-to-strip).
    */
  def sniffCharset(contentType: Option[String], body: Array[Byte])
      : (Charset, Int) = {
    // WHATWG decode: a BOM outranks every declared charset
    if (body.length >= 3 && (body(0) & 0xff) == 0xef &&
      (body(1) & 0xff) == 0xbb && (body(2) & 0xff) == 0xbf)
      return (StandardCharsets.UTF_8, 3)
    if (body.length >= 2 && (body(0) & 0xff) == 0xff &&
      (body(1) & 0xff) == 0xfe)
      return (StandardCharsets.UTF_16LE, 2)
    if (body.length >= 2 && (body(0) & 0xff) == 0xfe &&
      (body(1) & 0xff) == 0xff)
      return (StandardCharsets.UTF_16BE, 2)
    for (ct <- contentType) {
      val lower = ct.toLowerCase(java.util.Locale.ROOT)
      val i = lower.indexOf("charset=")
      if (i >= 0) {
        var v = ct.substring(i + 8).trim
        val stop = v.indexWhere(c => c == ';' || c == ' ')
        if (stop >= 0) v = v.substring(0, stop)
        v = v.stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("'").stripSuffix("'")
        charsetForLabel(v) match {
          case Some(cs) => return (cs, 0)
          case None => // fall through to sniffing
        }
      }
    }
    // bounded ASCII-compatible prefix rescan for <meta charset=...>
    val n = math.min(body.length, MetaScan)
    val prefix = new String(body, 0, n, StandardCharsets.ISO_8859_1)
    MetaCharsetRe.findFirstMatchIn(prefix) match {
      case Some(m) =>
        charsetForLabel(m.group(1)) match {
          case Some(cs) => (cs, 0)
          case None => (StandardCharsets.UTF_8, 0)
        }
      case None => (StandardCharsets.UTF_8, 0)
    }
  }

  // ------------------------------------------------------------------
  // the one-call surfaces
  // ------------------------------------------------------------------

  /** Decoded text of a response: (status, mime, charsetName, text).
    * text is null when the body cannot be decoded (unsupported or
    * corrupt encoding layer) — honest refusal, never garbage.
    */
  final case class BodyText(status: Integer, mime: String,
      charset: String, text: String)

  /** Full decode of an HTTP response payload to text. For non-HTTP
    * payloads returns None (callers keep their raw-payload path).
    */
  def bodyText(payload: Array[Byte]): Option[BodyText] =
    parseResponse(payload).map { r =>
      val ct = r.header("content-type")
      val mime = ct.map { v =>
        val semi = v.indexOf(';')
        (if (semi >= 0) v.substring(0, semi) else v).trim
          .toLowerCase(java.util.Locale.ROOT)
      }.orNull
      decodedBody(r) match {
        case Some(body) =>
          val (cs, bom) = sniffCharset(ct, body)
          val text = new String(body, bom, body.length - bom, cs)
          BodyText(Integer.valueOf(r.status), mime, cs.name(), text)
        case None =>
          BodyText(Integer.valueOf(r.status), mime, null, null)
      }
    }

  /** Decoded body BYTES of a response (for binary payloads like
    * PDFs): de-framed and content-decoded, None when any declared
    * layer fails or the payload is not HTTP.
    */
  def bodyBytes(payload: Array[Byte]): Option[Array[Byte]] =
    parseResponse(payload).flatMap(decodedBody)

  // ------------------------------------------------------------------
  // fixture side
  // ------------------------------------------------------------------

  /** Chunked framing for fixtures: split into uneven chunks, attach
    * an extension to the first size line and a trailer header after
    * the 0 chunk — the shapes real servers emit.
    */
  def chunkEncode(body: Array[Byte], chunkSize: Int): Array[Byte] = {
    require(chunkSize > 0, "chunk size")
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    var first = true
    while (p < body.length) {
      val n = math.min(chunkSize + (if (first) 3 else 0),
        body.length - p)
      val ext = if (first) ";x=1" else ""
      out.write(s"${n.toHexString}$ext\r\n"
        .getBytes(StandardCharsets.ISO_8859_1))
      out.write(body, p, n)
      out.write('\r'); out.write('\n')
      p += n
      first = false
    }
    out.write("0\r\nX-Trailer: t\r\n\r\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    out.toByteArray
  }

  /** Raw-deflate bytes (no zlib header) for the fallback fixture. */
  def rawDeflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** zlib-wrapped deflate for the declared-`deflate` fixture. */
  def zlibDeflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
