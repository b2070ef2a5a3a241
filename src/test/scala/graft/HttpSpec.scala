package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Archive, Http, Zstd}

/** HTTP/1.1 response decode: chunked de-framing, Content-Encoding,
  * Content-Length truncation, charset sniffing — the layer between
  * raw WARC payload bytes and crawl text (VERDICT r11 gap #1/#3).
  */
class HttpSpec extends AnyFunSuite {

  private def resp(headers: String, body: Array[Byte]): Array[Byte] =
    s"HTTP/1.1 200 OK\r\n$headers\r\n"
      .getBytes(StandardCharsets.ISO_8859_1) ++ body

  private def text(payload: Array[Byte]): Http.BodyText =
    Http.bodyText(payload).get

  test("identity body with Content-Length truncation") {
    val b = resp("Content-Type: text/plain\r\nContent-Length: 5\r\n",
      "hellotrailing-junk".getBytes("UTF-8"))
    assert(text(b).text == "hello")
    assert(text(b).status == 200)
    assert(text(b).mime == "text/plain")
  }

  test("chunked de-framing: sizes, extension, trailer, hex case") {
    val body = "The quick brown fox jumps over the lazy dog " * 40
    val plain = body.getBytes("UTF-8")
    val chunked = Http.chunkEncode(plain, 100)
    val b = resp("Content-Type: text/plain\r\n" +
      "Transfer-Encoding: chunked\r\n", chunked)
    assert(text(b).text == body)
    // hand-framed with uppercase hex and CRLF inside data
    // size A = 10 data bytes, CRLF inside the data
    val hand = ("A\r\n0123456\r\n8\r\n" + "0\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val b2 = resp("Transfer-Encoding: chunked\r\n", hand)
    assert(text(b2).text == "0123456\r\n8")
  }

  test("chunk boundaries inside multi-byte code points reassemble") {
    val s = "edge Ωμé→ done"
    val plain = s.getBytes("UTF-8")
    // 1-byte chunks: every boundary lands inside the UTF-8 sequences
    for (sz <- Seq(1, 2, 3)) {
      val b = resp("Content-Type: text/plain; charset=utf-8\r\n" +
        "Transfer-Encoding: chunked\r\n", Http.chunkEncode(plain, sz))
      assert(text(b).text == s, s"chunk size $sz")
    }
    // gzip layered under chunking with the same hostile boundaries
    val gz = Archive.gzipWrite(plain, "b")
    val b2 = resp("Content-Encoding: gzip\r\n" +
      "Transfer-Encoding: chunked\r\n", Http.chunkEncode(gz, 1))
    assert(text(b2).text == s)
  }

  test("chunked framing damage refuses instead of emitting partial") {
    def chk(raw: String): Option[String] =
      Option(text(resp("Transfer-Encoding: chunked\r\n",
        raw.getBytes(StandardCharsets.ISO_8859_1))).text)
    assert(chk("zz\r\nhi\r\n0\r\n\r\n").isEmpty, "bad hex")
    assert(chk("5\r\nab\r\n").isEmpty, "truncated chunk")
    assert(chk("2\r\nabXX0\r\n\r\n").isEmpty, "missing chunk CRLF")
    assert(chk("ffffffffff\r\n\r\n").isEmpty, "size line too long")
  }

  test("content encodings: gzip, zlib deflate, raw deflate, zstd, " +
      "bzip2, xz") {
    val body = "compress me " * 200
    val plain = body.getBytes("UTF-8")
    val cases = Seq(
      ("gzip", Archive.gzipWrite(plain, "b")),
      ("x-gzip", Archive.gzipWrite(plain, "b")),
      ("deflate", Http.zlibDeflate(plain)),
      ("deflate", Http.rawDeflate(plain)), // in-the-wild raw variant
      ("zstd", Zstd.compress(plain)),
      ("bzip2", graft.operators.Bzip2.compress(plain)),
      ("xz", graft.operators.Xz.compress(plain)))
    for ((enc, bytes) <- cases) {
      val b = resp(s"content-encoding: $enc\r\n", bytes)
      assert(text(b).text == body, s"encoding $enc")
    }
  }

  test("brotli bodies decode; corrupt brotli refuses with null " +
      "body, keeps status/mime") {
    val body = "brotli compressed body with words the dictionary " +
      "knows: information available technology " * 40
    for (enc <- Seq[Array[Byte] => Array[Byte]](
      graft.operators.Brotli.encodeEntropy,
      graft.operators.Brotli.encodeStored)) {
      val b = resp("Content-Encoding: br\r\n",
        enc(body.getBytes("UTF-8")))
      assert(text(b).text == body)
    }
    // chunked + br composes like gzip
    val framed = Http.chunkEncode(
      graft.operators.Brotli.encodeEntropy(body.getBytes("UTF-8")), 64)
    val c = resp("Content-Encoding: br\r\n" +
      "Transfer-Encoding: chunked\r\n", framed)
    assert(text(c).text == body)
    // corrupt/garbage still refuses — never mojibake
    val b2 = resp("Content-Type: text/html\r\n" +
      "Content-Encoding: br\r\n", "not-brotli".getBytes("UTF-8"))
    val bt = text(b2)
    assert(bt.text == null && bt.charset == null)
    assert(bt.status == 200 && bt.mime == "text/html")
  }

  test("buggy server lists chunked in BOTH TE and CE: dechunk runs " +
      "once (ADVICE r14)") {
    val body = "double-listed chunked body " * 8
    val framed = Http.chunkEncode(body.getBytes("UTF-8"), 32)
    val b = resp("Content-Type: text/plain\r\n" +
      "Transfer-Encoding: chunked\r\n" +
      "Content-Encoding: chunked\r\n", framed)
    assert(text(b).text == body)
    // CE-only chunked (no TE) still dechunks — the framing was not
    // removed by the TE path
    val c = resp("Content-Type: text/plain\r\n" +
      "Content-Encoding: chunked\r\n", framed)
    assert(text(c).text == body)
  }

  test("corrupt gzip refuses with null body") {
    val g = Archive.gzipWrite("x".getBytes, "b")
    g(g.length - 3) = (g(g.length - 3) ^ 0x44).toByte // break CRC
    val bt = text(resp("Content-Encoding: gzip\r\n", g))
    assert(bt.text == null)
  }

  test("chunked + gzip composes (dechunk first, then inflate)") {
    val body = "layered " * 300
    val framed = Http.chunkEncode(
      Archive.gzipWrite(body.getBytes("UTF-8"), "b"), 64)
    val b = resp("Content-Encoding: gzip\r\n" +
      "Transfer-Encoding: chunked\r\n", framed)
    assert(text(b).text == body)
  }

  test("buggy 'Content-Encoding: chunked' (no TE) still de-frames") {
    // some servers declare the chunked FRAMING under Content-Encoding;
    // with no Transfer-Encoding header dechunk never ran, so the token
    // must trigger it here — passthrough would leak hex size lines
    val body = "misdeclared " * 100
    val framed = Http.chunkEncode(body.getBytes("UTF-8"), 48)
    val b = resp("Content-Encoding: chunked\r\n", framed)
    assert(text(b).text == body)
    // and when the bytes are NOT actually chunk-framed, refuse
    val b2 = resp("Content-Encoding: chunked\r\n",
      "plain body, no framing".getBytes("UTF-8"))
    assert(text(b2).text == null)
  }

  test("TE: gzip, chunked — chunked outermost, then TE gzip undone") {
    val body = "te-coded " * 100
    val framed = Http.chunkEncode(
      Archive.gzipWrite(body.getBytes("UTF-8"), "b"), 50)
    val b = resp("Transfer-Encoding: gzip, chunked\r\n", framed)
    assert(text(b).text == body)
  }

  test("charset via Content-Type param (quoted and case-varied)") {
    val s = "Яблоки и груши"
    val b = resp("CONTENT-TYPE: text/html; charset=\"windows-1251\"\r\n",
      s.getBytes("windows-1251"))
    val bt = text(b)
    assert(bt.text == s && bt.charset == "windows-1251")
  }

  test("charset via <meta charset> rescan") {
    val s = "<meta charset='shift_jis'><p>日本語のテキスト</p>"
    val b = resp("Content-Type: text/html\r\n",
      s.getBytes("Shift_JIS"))
    val bt = text(b)
    assert(bt.text == s && bt.charset == "Shift_JIS")
  }

  test("charset via http-equiv rescan") {
    val s = "<meta http-equiv=\"Content-Type\" content=\"text/html; " +
      "charset=euc-kr\">한국어 텍스트"
    val b = resp("Content-Type: text/html\r\n", s.getBytes("EUC-KR"))
    val bt = text(b)
    assert(bt.text == s && bt.charset == "EUC-KR")
  }

  test("UTF-8 BOM sniffed and stripped; UTF-16 BOMs honored") {
    val s = "bommed Ω"
    val utf8 = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      s.getBytes("UTF-8")
    assert(text(resp("Content-Type: text/plain\r\n", utf8)).text == s)
    val utf16le = Array[Byte](0xff.toByte, 0xfe.toByte) ++
      s.getBytes("UTF-16LE")
    assert(text(resp("Content-Type: text/plain\r\n", utf16le))
      .text == s)
  }

  test("BOM outranks a wrong declared charset (WHATWG precedence)") {
    val s = "bommed Ω"
    val utf16le = Array[Byte](0xff.toByte, 0xfe.toByte) ++
      s.getBytes("UTF-16LE")
    // declared windows-1251 must lose to the UTF-16LE BOM
    val bt = text(resp(
      "Content-Type: text/html; charset=windows-1251\r\n", utf16le))
    assert(bt.text == s && bt.charset == "UTF-16LE")
    val utf8 = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      s.getBytes("UTF-8")
    assert(text(resp(
      "Content-Type: text/plain; charset=shift_jis\r\n", utf8))
      .text == s)
  }

  test("Transfer-Encoding without chunked still decodes / refuses") {
    val s = "te-gzip body, no chunked framing at all"
    val gz = Archive.gzipWrite(s.getBytes("UTF-8"), "b")
    val b = resp("Content-Type: text/plain\r\n" +
      "Transfer-Encoding: gzip\r\n", gz)
    assert(text(b).text == s)
    // unsupported token (br) must refuse, not pass bytes through
    val raw = resp("Content-Type: text/plain\r\n" +
      "Transfer-Encoding: br\r\n", "not-brotli".getBytes("UTF-8"))
    assert(Option(text(raw).text).isEmpty)
  }

  test("latin-1 label maps to windows-1252 (WHATWG rule)") {
    // 0x92 is a curly apostrophe in cp1252 but unmapped in ISO-8859-1
    val bytes = Array[Byte]('a', 0x92.toByte, 'b')
    val b = resp("Content-Type: text/html; charset=iso-8859-1\r\n",
      bytes)
    val bt = text(b)
    assert(bt.charset == "windows-1252")
    assert(bt.text == "a’b")
  }

  test("unknown charset label falls back to UTF-8") {
    val b = resp("Content-Type: text/plain; charset=klingon-9\r\n",
      "plain".getBytes("UTF-8"))
    assert(text(b).text == "plain" && text(b).charset == "UTF-8")
  }

  test("non-HTTP payloads return None (raw-payload path)") {
    assert(Http.bodyText("GET / HTTP/1.1\r\n\r\n".getBytes).isEmpty)
    assert(Http.bodyText("random bytes".getBytes).isEmpty)
    assert(Http.bodyText(Array.emptyByteArray).isEmpty)
    assert(Http.bodyText(null).isEmpty)
    // header block never terminated
    assert(Http.bodyText("HTTP/1.1 200 OK\r\nA: b".getBytes).isEmpty)
  }

  test("the synthHttpWarcBytes fixtures decode through the full " +
    "WARC row path (every framing × charset mode)") {
    for (f <- 0 to 7; c <- 0 to 4) {
      val marker = c match {
        case 1 => " Яблоко"
        case 2 => " 日本語"
        case 4 => " 한국어"
        case _ => " Ωé"
      }
      val prefix = c match {
        case 2 => "<meta charset=\"shift_jis\">"
        case 4 => "<meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=euc-kr\">"
        case _ => ""
      }
      val body = prefix + "synthetic body " + ("x" * 257) + marker
      val warc = Archive.synthHttpWarcBytes(42L + f + c, body, f, c)
      val recs = Archive.warcRecords(warc).get
      val respRec = recs.find(_.warcType == "response").get
      val bt = Http.bodyText(respRec.payload).get
      assert(bt.text == body, s"framing $f charset-mode $c")
    }
  }

  test("http decoder is total under mutation") {
    val rnd = new scala.util.Random(0x477bL)
    val body = "fuzz body " * 120
    val valid = Archive.synthHttpWarcBytes(7L, body, 3, 1)
    val recs = Archive.warcRecords(valid).get
    val payload = recs.find(_.warcType == "response").get.payload
    assert(Http.bodyText(payload).exists(_.text == body))
    for (i <- 0 until 120) {
      val m = payload.clone()
      val mutated: Array[Byte] =
        if (i % 3 == 0) m.take(1 + rnd.nextInt(m.length - 1))
        else if (i % 3 == 1) {
          val at = rnd.nextInt(m.length)
          m(at) = (m(at) ^ (1 << rnd.nextInt(8))).toByte
          m
        } else {
          val at = rnd.nextInt(m.length)
          m.take(at) ++ Array.fill[Byte](1 + rnd.nextInt(9))(
            rnd.nextInt(256).toByte) ++ m.drop(at)
        }
      try Http.bodyText(mutated)
      catch {
        case e: Throwable =>
          fail(s"mutant #$i threw ${e.getClass.getSimpleName}")
      }
    }
  }
}
