package graft

import graft.operators.{Archive, Multimodal, WebP}

/** Adversarial-byte robustness for every decoder that faces untrusted
  * crawl content: seeded random mutations (bit flips, truncations,
  * splices) of VALID streams must come back as None/Some — never a
  * thrown exception, which would kill the Spark task instead of
  * quarantining the document. Each decoder also re-proves it never
  * claims another format's magic.
  */
class CodecFuzzSpec extends SparkSpec {

  private val rnd = new scala.util.Random(0xC0DEC5L)

  private def grad(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h)(i => (i * 7 + 13) % 256)

  /** Mutations: n single-byte flips, a truncation, a mid splice. */
  private def mutants(valid: Array[Byte], n: Int)
      : Iterator[Array[Byte]] = {
    val flips = Iterator.fill(n) {
      val m = valid.clone()
      val k = 1 + rnd.nextInt(3)
      for (_ <- 0 until k) {
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      m
    }
    val truncs = Iterator.fill(n / 2) {
      valid.take(1 + rnd.nextInt(math.max(valid.length - 1, 1)))
    }
    val splices = Iterator.fill(n / 2) {
      val at = rnd.nextInt(valid.length)
      val junk = Array.fill[Byte](1 + rnd.nextInt(16))(
        rnd.nextInt(256).toByte)
      valid.take(at) ++ junk ++ valid.drop(at)
    }
    flips ++ truncs ++ splices
  }

  private def resource(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    assert(in != null, s"missing $path")
    try in.readAllBytes() finally in.close()
  }

  private def assertTotal[T](name: String, valid: Array[Byte],
      decode: Array[Byte] => Option[T], n: Int = 60): Unit = {
    assert(decode(valid).isDefined, s"$name: valid input must decode")
    var i = 0
    for (m <- mutants(valid, n)) {
      try decode(m)
      catch {
        case e: Throwable =>
          fail(s"$name mutant #$i threw ${e.getClass.getSimpleName}: " +
            s"${e.getMessage}")
      }
      i += 1
    }
  }

  test("png decoder is total under mutation") {
    assertTotal("png", Multimodal.pngEncodeGray(24, 16, grad(24, 16)),
      Multimodal.pngDecodeLuma)
  }

  test("jpeg decoder is total under mutation") {
    assertTotal("jpeg", Multimodal.jpegEncodeGray(32, 24, grad(32, 24)),
      Multimodal.jpegDecodeLuma)
  }

  test("gif decoder is total under mutation") {
    assertTotal("gif", Multimodal.gifEncodeGray(24, 16, grad(24, 16),
      interlaced = true), Multimodal.gifDecodeLuma)
  }

  test("bmp decoder is total under mutation") {
    assertTotal("bmp", Multimodal.bmpEncodeGray(24, 16, grad(24, 16)),
      Multimodal.bmpDecodeLuma)
  }

  test("webp decoder is total under mutation (all three layouts)") {
    assertTotal("webp/sg",
      WebP.encodeGraySubtractGreen(24, 16, grad(24, 16)),
      WebP.decodeLuma)
    assertTotal("webp/pred",
      WebP.encodeGrayPredictor(24, 16, grad(24, 16), mode = 11),
      WebP.decodeLuma)
    assertTotal("webp/pal",
      WebP.encodeGrayPalette(24, 16,
        Array.tabulate(24 * 16)(i => 40 + (i % 3) * 60)),
      WebP.decodeLuma)
  }

  test("wav feature/signature decoders are total under mutation") {
    // a valid little WAV via the hex layout the queries use
    val smp = Array.tabulate[Short](64)(k => (k * 251 - 8000).toShort)
    val data = smp.flatMap(s =>
      Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    val hdr = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put("RIFF".getBytes); hdr.putInt(36 + data.length)
    hdr.put("WAVE".getBytes); hdr.put("fmt ".getBytes)
    hdr.putInt(16); hdr.putShort(1); hdr.putShort(1)
    hdr.putInt(8000); hdr.putInt(16000); hdr.putShort(2)
    hdr.putShort(16); hdr.put("data".getBytes)
    hdr.putInt(data.length)
    val wav = hdr.array() ++ data
    assertTotal("wav/features", wav,
      (b: Array[Byte]) => Multimodal.wavPcm16Features(b))
    assertTotal("wav/signature", wav, Multimodal.wavAudioSignature)
  }

  test("mp4 meta/timing/sample decoders are total under mutation") {
    assertTotal("mp4/meta",
      Multimodal.mp4EncodeMeta("mp42", 1000, 700L, Seq((64, 48))),
      Multimodal.mp4Meta)
    assertTotal("mp4/meta-avc-sps",
      Multimodal.mp4EncodeMeta("isom", 1000, 700L,
        Seq((0, 0), (1280, 720)), avc = Some((100, 41))),
      Multimodal.mp4Meta)
    assertTotal("mp4/timing",
      Multimodal.mp4EncodeTimed("avc1", 1000, Seq((10L, 2L)),
        Some(Seq(1L, 5L)), leadingBareTrack = true),
      Multimodal.mp4Timing)
    val frames = Seq(Multimodal.jpegEncodeGray(16, 16, grad(16, 16)))
    assertTotal("mp4/mjpeg", Multimodal.mp4EncodeMjpeg(frames),
      Multimodal.mp4MjpegSamples)
  }

  test("mp3/flac metadata parsers are total under mutation") {
    assertTotal("mp3", Multimodal.mp3Encode(6, brIdx = 9, srIdx = 0,
      mono = false), Multimodal.mp3Meta)
    assertTotal("flac", Multimodal.flacEncodeMeta(44100, 2, 16,
      88200L), Multimodal.flacMeta)
    assertTotal("id3tags", Multimodal.mp3EncodeTagged(4, brIdx = 9,
      srIdx = 1, mono = true, "Fuzz Title", "Fuzz Artist",
      "Fuzz Album", encSel = 1), Multimodal.id3TextTags)
  }

  test("exif parser is total under mutation") {
    val jpeg = Multimodal.withExifApp1(
      Multimodal.jpegEncodeGray(16, 16, grad(16, 16)), 6,
      bigEndian = true)
    assertTotal("exif", jpeg, Multimodal.exifOrientation)
  }

  test("archive decoders are total under mutation") {
    val zip = Archive.zipWrite(Seq(
      ("a.txt", "stored entry".getBytes, false),
      ("b.txt", ("deflated " * 40).getBytes, true)))
    assertTotal("zip/entries", zip, Archive.zipEntries)
    // extraction over mutated directories: list then extract each
    for (m <- mutants(zip, 40)) {
      try Archive.zipEntries(m).foreach(_.foreach(e =>
        Archive.zipExtract(m, e)))
      catch {
        case e: Throwable =>
          fail(s"zip extract threw ${e.getClass.getSimpleName}")
      }
    }
    assertTotal("gzip", Archive.gzipWrite("payload text".getBytes),
      Archive.gunzip)
    val tar = Archive.tarWrite(Seq(
      ("a.txt", ("tar member " * 30).getBytes)))
    assertTotal("tar", tar, Archive.tarEntries)
    val warc = Archive.warcWrite(Seq(
      ("response", "http://x.test/a",
        "HTTP/1.1 200 OK\r\n\r\nbody".getBytes)), gzipped = false)
    assertTotal("warc", warc, Archive.warcRecords)
    val warcGz = Archive.warcWrite(Seq(
      ("response", "http://x.test/a",
        "HTTP/1.1 200 OK\r\n\r\nbody".getBytes)), gzipped = true)
    assertTotal("warc.gz", warcGz, Archive.gunzipMembers)
    val warcZst = Archive.warcWriteComp(Seq(
      ("response", "http://x.test/a",
        "HTTP/1.1 200 OK\r\n\r\nbody".getBytes)), 2)
    assertTotal("warc.zst", warcZst, Archive.unwrapWarcBytes)
  }

  test("zstd container walk is total under mutation") {
    val text = ("zstd fuzz payload " * 10).getBytes("UTF-8")
    val stream = graft.operators.Zstd.encodeSkippable(
      Array.fill[Byte](6)(1)) ++
      graft.operators.Zstd.encodeFrame(text, blockSize = 48,
        fcsSel = 1, dictSel = 2, dictId = 9L, withChecksum = true,
        checksum = graft.operators.Zstd.xxhash64(text, 0,
          text.length) & 0xffffffffL) ++
      graft.operators.Zstd.encodeFrame(Array.fill[Byte](30)('r'))
    assertTotal("zstd/meta", stream, graft.operators.Zstd.frameMeta)
    assertTotal("zstd/decode", stream,
      graft.operators.Zstd.decompress)
  }

  test("zstd entropy decoder is total under mutation") {
    // FSE/Huffman-compressed blocks face the mutants too: a zstd-jni
    // frame and a reference-CLI frame (fse-compressed weights,
    // 4-stream literals, repeat modes)
    val rnd2 = new scala.util.Random(0x25DFL)
    val words = Seq("fuzz", "entropy", "block", "the", "of", "zstd")
    val text = Seq.fill(3000)(words(rnd2.nextInt(words.length)))
      .mkString(" ").getBytes("UTF-8")
    val jar = graft.operators.Zstd.compress(text)
    assertTotal("zstd/entropy-jar", jar,
      graft.operators.Zstd.decompress)
    val in = getClass.getResourceAsStream("/zstd/text_l19.zst")
    val golden = in.readAllBytes(); in.close()
    assertTotal("zstd/entropy-golden", golden,
      graft.operators.Zstd.decompress)
    // zstd-jni's stream writer declares no content size
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new com.github.luben.zstd.ZstdOutputStream(bos, 3)
    zos.write(text)
    zos.close()
    assertTotal("zstd/entropy-sizeless", bos.toByteArray,
      graft.operators.Zstd.decompress)
  }

  test("animated gif decoder is total under mutation") {
    import graft.operators.Multimodal.GifFrame
    val mk = (ph: Int) => Array.tabulate(16 * 16) { i =>
      if (((i % 16) / 2 + (i / 16) / 2 + ph) % 2 == 0) 60 else 200
    }
    val anim = Multimodal.gifEncodeAnimated(16, 16, Seq(
      GifFrame(0, 0, 16, 16, mk(0), 1),
      GifFrame(2, 2, 8, 8, mk(1).take(64), 2, transparentIndex = 60),
      GifFrame(0, 0, 16, 16, mk(1), 3, interlaced = true)))
    assertTotal("gif/anim", anim, Multimodal.gifDecodeFrames)
  }

  test("tiff strip decoder is total under mutation (all " +
      "compressions)") {
    val pix = grad(24, 16)
    for (comp <- Seq(1, 5, 32773))
      assertTotal(s"tiff/comp$comp",
        graft.operators.Tiff.tiffEncodeGray(24, 16, pix, comp,
          bigEndian = comp == 1, photometric = 1, rowsPerStrip = 5,
          predictor = if (comp == 5) 2 else 1),
        graft.operators.Tiff.decodeLuma)
  }

  test("flac pcm decoder is total under mutation (all codings)") {
    val samples = Array.tabulate(300)(i =>
      (((7 * 7919 + i.toLong * 104729) % 65536).toInt - 32768))
    for ((v, m) <- Seq((1, 0), (3, 3), (4, 1)))
      assertTotal(s"flac/v$v/m$m",
        graft.operators.Flac.encode(samples, 2, 16000L, v, m, 64),
        graft.operators.Flac.decodePcm16)
  }

  test("pdf extractor is total under mutation (all layouts)") {
    val text = "planted pdf words " * 8
    // classic xref / xref stream / ObjStm, across content filters
    assertTotal("pdf/classic",
      graft.operators.Pdf.pdfWrite(text, 0, 0),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/xrefstream",
      graft.operators.Pdf.pdfWrite(text, 1, 1),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/objstm",
      graft.operators.Pdf.pdfWrite(text, 3, 2),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/a85+flate",
      graft.operators.Pdf.pdfWrite(text, 4, 2),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/lzw",
      graft.operators.Pdf.pdfWrite(text, 5, 0),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/runlength",
      graft.operators.Pdf.pdfWrite(text, 6, 1),
      graft.operators.Pdf.pdfText)
  }

  test("pdf font decode (CMap/Differences) is total under mutation") {
    val text = "font mapped words é→Ω " * 6
    // Type0 + ToUnicode CMap, /Differences, single-byte ToUnicode —
    // mutated CMap bodies / font dicts must refuse or decode, never
    // throw
    assertTotal("pdf/type0-tounicode",
      graft.operators.Pdf.pdfWriteFontEncoded(text, 0),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/differences",
      graft.operators.Pdf.pdfWriteFontEncoded(text, 1),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/single-byte-tounicode",
      graft.operators.Pdf.pdfWriteFontEncoded(text, 2),
      graft.operators.Pdf.pdfText)
  }

  test("encrypted-pdf decryption is total under mutation") {
    val text = "sealed words é→Ω " * 6
    // mutated O/U/P/ID/ciphertext must refuse or decode, never
    // throw — bad AES padding, short keys, torn Encrypt dicts
    assertTotal("pdf/rc4-40",
      graft.operators.Pdf.pdfWriteEncryptedStd(text, 0, 3L),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/rc4-128",
      graft.operators.Pdf.pdfWriteEncryptedStd(text, 1, 3L),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/aes-128",
      graft.operators.Pdf.pdfWriteEncryptedStd(text, 2, 3L),
      graft.operators.Pdf.pdfText)
    assertTotal("pdf/aes-256-r6",
      graft.operators.Pdf.pdfWriteEncryptedStd(text, 3, 3L),
      graft.operators.Pdf.pdfText)
  }

  test("docx/xlsx extractors are total under mutation") {
    val text = "ooxml planted words é→Ω\nsecond para " * 4
    assertTotal("docx/stored",
      graft.operators.Docx.docxWrite(text, 0),
      graft.operators.Docx.docxText)
    assertTotal("docx/deflate-runs",
      graft.operators.Docx.docxWrite(text, 1),
      graft.operators.Docx.docxText)
    assertTotal("docx/decoys",
      graft.operators.Docx.docxWrite(text, 2),
      graft.operators.Docx.docxText)
    val items = Seq("shared one", "shared & two", "three")
    assertTotal("xlsx/plain",
      graft.operators.Docx.xlsxWrite(items, 0),
      graft.operators.Docx.xlsxStrings)
    assertTotal("xlsx/rich",
      graft.operators.Docx.xlsxWrite(items, 1),
      graft.operators.Docx.xlsxStrings)
    assertTotal("xlsx-cells/plain",
      graft.operators.Docx.xlsxCellsWrite(items, 11L, 0),
      graft.operators.Docx.xlsxCells)
    assertTotal("xlsx-cells/two-sheet",
      graft.operators.Docx.xlsxCellsWrite(items, 11L, 2),
      graft.operators.Docx.xlsxCells)
    assertTotal("pptx/slides",
      graft.operators.Docx.pptxWrite(Seq("one\ntwo", "three"), 1),
      graft.operators.Docx.pptxText)
    assertTotal("odt/content",
      graft.operators.Docx.odtWrite("odt body\ttext  here", 2),
      graft.operators.Docx.odtText)
    assertTotal("rtf/uN",
      graft.operators.Rtf.rtfWrite("rtf planted é→Ω\nsecond", 0),
      graft.operators.Rtf.rtfText)
    assertTotal("rtf/cp1252-tables",
      graft.operators.Rtf.rtfWrite("rtf planted é\nsecond", 1),
      graft.operators.Rtf.rtfText)
    assertTotal("rtf/starred-uc2",
      graft.operators.Rtf.rtfWrite("rtf planted é→Ω", 2),
      graft.operators.Rtf.rtfText)
    assertTotal("epub/spine",
      graft.operators.Docx.epubWrite("epub chapter\ntwo", "foot", 1),
      graft.operators.Docx.epubText)
    assertTotal("eml/qp",
      graft.operators.Mime.emlWrite("subj é", "mail body é→Ω", 0),
      graft.operators.Mime.emlText)
    assertTotal("eml/nested-multipart",
      graft.operators.Mime.emlWrite("subj", "mail body two", 2),
      graft.operators.Mime.emlText)
    assertTotal("mbox",
      graft.operators.Mime.mboxWrite(Seq(
        graft.operators.Mime.emlWrite("a", "first", 0),
        graft.operators.Mime.emlWrite("b", "second", 1))),
      graft.operators.Mime.mboxMessages)
    assertTotal("doc/piece-table",
      graft.operators.Cfb.docWrite("legacy doc words é→Ω\nsecond"),
      graft.operators.Cfb.docText)
    assertTotal("xls/biff8",
      graft.operators.Xls.xlsWrite("legacy xls cells é→Ω\nrow", 21L),
      graft.operators.Xls.xlsCells)
    assertTotal("ppt/records",
      graft.operators.Ppt.pptWrite(Seq("legacy ppt é→Ω\nslide", "Ω2")),
      graft.operators.Ppt.pptText)
    assertTotal("ipynb/nbformat4",
      graft.operators.Ipynb.ipynbWrite("md é→Ω\nprose", "code()", 1),
      graft.operators.Ipynb.ipynbText)
    assertTotal("srt/blocks",
      graft.operators.Subtitles.srtWrite(Seq("cue é→Ω", "two"), 9L),
      graft.operators.Subtitles.srtText)
    assertTotal("vtt/cues",
      graft.operators.Subtitles.vttWrite(Seq("cue é→Ω", "two"), 9L),
      graft.operators.Subtitles.vttText)
    assertTotal("feed/rss-cdata",
      graft.operators.Feed.feedWrite("f é→Ω",
        Seq(("t", "b ]]> c")), 1),
      graft.operators.Feed.feedText)
    assertTotal("msg/oxmsg",
      graft.operators.Msg.msgWrite("s é→Ω", "body é→Ω", "f", 2),
      graft.operators.Msg.msgText)
    assertTotal("ics/vevent",
      graft.operators.Vobject.icsWrite("s é→Ω", "d é→Ω\nx", 3L, 2),
      graft.operators.Vobject.icsText)
    assertTotal("vcf/card",
      graft.operators.Vobject.vcfWrite("fn é→Ω", "org", 2),
      graft.operators.Vobject.vcfText)
    assertTotal("sqlite/btree",
      graft.operators.Sqlite.sqliteWrite(Seq(
        (1L, 4L, "fuzz é→Ω"), (2L, 5L, "o" * 900), (3L, 6L, "t"))),
      graft.operators.Sqlite.sqliteRead)
    assertTotal("dbf/fixed-width",
      graft.operators.Dbf.dbfWrite(Seq(
        ("fuzz title", "fixed width body", 11L),
        ("second", "row", 12L))),
      graft.operators.Dbf.dbfRead)
    assertTotal("avro/container",
      graft.operators.Avro.avroWrite(Seq(
        (9L, "fuzz é→Ω", true, Some("n")),
        (10L, "row", false, None)), 1),
      graft.operators.Avro.avroRead)
    assertTotal("gpx/trkpts",
      graft.operators.Gpx.gpxWrite("fuzz é→Ω", 11L, 3),
      graft.operators.Gpx.gpxTrace)
    assertTotal("kml/coordinates",
      graft.operators.Gpx.kmlWrite("fuzz é→Ω", 11L, 3),
      graft.operators.Gpx.kmlTrace)
    assertTotal("png/meta-chunks",
      graft.operators.PngMeta.pngWithMeta(
        graft.operators.Multimodal.pngEncodeGray(8, 8,
          Array.tabulate(64)(i => (i * 4) % 256)),
        "mut é", "desc é→Ω", "c Ω", 43L, (2026, 8, 15, 1, 2, 3)),
      graft.operators.PngMeta.pngTexts)
    assertTotal("exif/app1",
      graft.operators.Exif.exifWrap(
        graft.operators.Multimodal.jpegEncodeGray(8, 8,
          Array.tabulate(64)(i => (i * 4) % 256)),
        5, "2026:08:15 01:02:03", 123456L, 654321L),
      graft.operators.Exif.exifMeta)
  }

  test("robots/sitemap parsers are total under mutation") {
    assertTotal("robots",
      graft.operators.Robots.robotsWrite(17L, 0),
      graft.operators.Robots.parse)
    assertTotal("sitemap/urlset",
      graft.operators.Sitemap.sitemapWrite(17L, 5, 1),
      graft.operators.Sitemap.parse)
    assertTotal("sitemap/index",
      graft.operators.Sitemap.sitemapWrite(17L, 5, 2),
      graft.operators.Sitemap.parse)
  }

  test("bzip2 codec is total under own-encoder mutation") {
    val text = ("bzip2 fuzz content with runs aaaaaa and words " +
      "words words ") * 8
    assertTotal("bzip2",
      graft.operators.Bzip2.compress(text.getBytes("UTF-8")),
      graft.operators.Bzip2.decompress(_: Array[Byte]))
    // a reference-encoder golden: the bzip2 CLI's multi-table
    // Huffman over long runs
    assertTotal("bzip2/golden", resource("/bzip2/runs_l9.bz2"),
      graft.operators.Bzip2.decompress(_: Array[Byte]))
  }

  test("unix .Z decoder is total under own-encoder mutation") {
    val text = ("compress fuzz content with words words words " +
      "é→Ω ") * 40
    assertTotal("Z", graft.operators.UnixZ.compress(
      text.getBytes("UTF-8")), graft.operators.UnixZ.decompress)
  }

  test("snappy and complex-avro decoders are total under mutation") {
    assertTotal("snappy",
      org.xerial.snappy.Snappy.compress(
        ("snappy fuzz corpus " * 30).getBytes("UTF-8")),
      graft.operators.Snappy.decompress(_: Array[Byte]))
    val valid = graft.operators.Avro.avroWriteComplex(14L)
    assert(graft.operators.Avro.decodeAvroComplex(valid).head != null)
    for (m <- mutants(valid, 60)) {
      try graft.operators.Avro.decodeAvroComplex(m)
      catch {
        case e: Throwable =>
          fail(s"avro complex threw ${e.getClass.getSimpleName}")
      }
    }
  }

  test("heif dims walk is total under own-writer mutation") {
    val valid = graft.operators.Heif.write("heic", "hvc1", 320, 240,
      3, 2)
    assertTotal("heif", valid, graft.operators.Heif.heifMeta)
  }

  test("7z walk is total under own-writer mutation") {
    val valid = graft.operators.SevenZip.write(Seq(
      ("a.txt", ("seven zip fuzz member " * 20).getBytes("UTF-8"),
        0),
      ("b.txt", ("lzma2 chunked member " * 40).getBytes("UTF-8"),
        1),
      ("c.txt", ("deflate member " * 30).getBytes("UTF-8"), 2)))
    assertTotal("7z/entries", valid,
      graft.operators.SevenZip.entries)
    assertTotal("7z/extract", valid,
      graft.operators.SevenZip.extractAll)
  }

  test("xz decoder is total under own-encoder mutation") {
    val text = ("xz fuzz content with words words words é→Ω ") * 10
    assertTotal("xz/container",
      graft.operators.Xz.compress(text.getBytes("UTF-8")),
      graft.operators.Xz.decompress(_: Array[Byte]))
    // the own encoder writes uncompressed chunks only: a reference
    // golden puts the LZMA range decoder in front of the mutants
    assertTotal("xz/golden", resource("/xz/text_p9e_crc64.xz"),
      graft.operators.Xz.decompress(_: Array[Byte]))
    // raw LZMA1 (ZIP method 14 / 7z): the .lzma golden's stream
    // after its 13-byte header, end marker included
    val alone = resource("/xz/text_alone.lzma")
    val n = resource("/xz/text.bin").length
    assertTotal("xz/lzma1-raw", alone, (b: Array[Byte]) =>
      graft.operators.Xz.lzma1Raw(b, 13, b.length, b(0) & 0xff, n))
  }

  test("lz4 frame decoder is total under own-encoder mutation") {
    val text = ("lz4 fuzz content with repeated repeated repeated " +
      "words é→Ω ") * 10
    assertTotal("lz4/frame",
      graft.operators.Lz4.encodeFrame(text.getBytes("UTF-8")),
      graft.operators.Lz4.decodeFrame(_: Array[Byte]))
    assertTotal("lz4/legacy", resource("/lz4/ref_legacy.lz4"),
      graft.operators.Lz4.decodeFrame(_: Array[Byte]))
    assertTotal("lz4/linked", resource("/lz4/ref_biglinked.lz4"),
      graft.operators.Lz4.decodeFrame(_: Array[Byte]))
    // a raw block with real matches, as ORC/Parquet embed it
    val plain = text.getBytes("UTF-8")
    val block = net.jpountz.lz4.LZ4Factory.safeInstance()
      .fastCompressor().compress(plain)
    assertTotal("lz4/raw-block", block, (b: Array[Byte]) =>
      graft.operators.Lz4.decodeRawBlock(b, 0, b.length, plain.length))
  }

  test("kept from-spec decoders read jar-encoded values byte-exactly " +
      "and stay total") {
    // bzip2, LZ4 frames and xz keep their from-spec decoders: each
    // must read what the jars on the classpath write, byte-exactly
    import net.jpountz.lz4.LZ4FrameOutputStream
    import LZ4FrameOutputStream.{BLOCKSIZE, FLG}
    import org.tukaani.xz.{LZMA2Options, XZ, XZOutputStream}
    import graft.operators.{Bzip2, Lz4, Xz}
    def written(data: Array[Byte])(
        wrap: java.io.OutputStream => java.io.OutputStream): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = wrap(bos)
      try out.write(data) finally out.close()
      bos.toByteArray
    }
    val rnd2 = new scala.util.Random(0xC1055L)
    val words = Seq("cross", "codec", "value", "the", "of", "é→Ω")
    val text = Seq.fill(600)(words(rnd2.nextInt(words.length)))
      .mkString(" ").getBytes("UTF-8")
    val random = Array.fill[Byte](700)(rnd2.nextInt(256).toByte)
    for ((name, data) <- Seq(("text", text), ("random", random),
        ("empty", Array.emptyByteArray))) {
      val cases = Seq[(String, Array[Byte], Array[Byte] => Option[Any])](
        ("bzip2/commons-compress", written(data)(o =>
          new org.apache.commons.compress.compressors.bzip2
            .BZip2CompressorOutputStream(o)),
          Bzip2.decompress(_: Array[Byte])),
        ("lz4/frame-stream", written(data)(o =>
          new LZ4FrameOutputStream(o, BLOCKSIZE.SIZE_64KB, data.length,
            FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_SIZE,
            FLG.Bits.CONTENT_CHECKSUM)),
          Lz4.decodeFrame(_: Array[Byte])),
        ("lz4/frame-stream-block-checksum", written(data)(o =>
          new LZ4FrameOutputStream(o, BLOCKSIZE.SIZE_64KB,
            FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.BLOCK_CHECKSUM)),
          Lz4.decodeFrame(_: Array[Byte])),
        ("xz/xz-java-preset0", written(data)(o =>
          new XZOutputStream(o, new LZMA2Options(0))),
          Xz.decompress(_: Array[Byte])),
        ("xz/xz-java-preset6-crc32", written(data)(o =>
          new XZOutputStream(o, new LZMA2Options(6), XZ.CHECK_CRC32)),
          Xz.decompress(_: Array[Byte])))
      for ((codec, enc, decode) <- cases) {
        assert(decode(enc).exists {
          case b: Array[Byte] => b.sameElements(data)
          case _ => false
        }, s"$codec/$name must decode byte-exactly")
        assertTotal(s"$codec/$name", enc, decode)
      }
    }
    // preset 0 writes compressed LZMA2 chunks (control byte ≥ 0x80
    // after the 12-byte stream header and the block header), which
    // the fixture writer never does
    val p0 = written(text)(o => new XZOutputStream(o, new LZMA2Options(0)))
    assert((p0(12 + ((p0(12) & 0xff) + 1) * 4) & 0x80) != 0,
      "preset-0 stream holds a compressed chunk")
  }

  /** `body`'s result and the heap bytes this thread allocated in it. */
  private def allocating[T](body: => T): (T, Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val id = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(id)
    val r = body
    (r, mx.getThreadAllocatedBytes(id) - before)
  }

  test("headers declaring sizes past the output cap allocate none of " +
    "them") {
    val cap = 64 << 20
    // every declared size below is ≥ 64 MiB; the decodes need < 1 MiB
    def lean[T](name: String, body: => Option[T]): Option[T] = {
      val (r, bytes) = allocating(body)
      assert(bytes < (8L << 20), s"$name allocated $bytes bytes")
      r
    }
    def le32(b: Array[Byte], at: Int, v: Long): Unit =
      for (i <- 0 until 4) b(at + i) = ((v >> (8 * i)) & 0xff).toByte
    // xz: the LZMA2 dictionary byte 40 (4 GiB − 1) the own encoder
    // used to write; the block header sits at 12, its CRC32 at 20.
    // The decoder never allocates a dictionary, so it still decodes
    val text = ("dictionary bound " * 20).getBytes("UTF-8")
    val xz = graft.operators.Xz.compress(text)
    assert(graft.operators.Xz.decompress(xz).exists(_.sameElements(text)))
    val dict40 = xz.clone()
    dict40(16) = 40
    val crc = new java.util.zip.CRC32
    crc.update(dict40, 12, 8)
    le32(dict40, 20, crc.getValue)
    assert(lean("xz dict 40", graft.operators.Xz.decompress(dict40))
      .exists(_.sameElements(text)), "xz dict 40")
    // .lzma alone: a 4 GiB − 1 dictionary in the header
    val alone = resource("/xz/text_alone.lzma")
    val plain = resource("/xz/text.bin")
    val bigDict = alone.clone()
    le32(bigDict, 1, 0xffffffffL)
    assert(lean("lzma dict", graft.operators.Xz.decompressAlone(bigDict))
      .exists(_.sameElements(plain)), "lzma dict")
    // zstd: a 2^27 window (descriptor byte 5) over a compressed block
    // decodes one-shot, no window allocated; a declared content size
    // (bytes 6..9, spliced onto the jar frame) of 4 GiB − 1, or of the
    // cap itself, passes the block walk's bound and refuses before
    // the buffer is made
    val zText = ("window bound " * 200).getBytes("UTF-8")
    val fcs4 = new Array[Byte](4)
    le32(fcs4, 0, zText.length.toLong)
    val zs = ZstdEntropySpec.spliced(zText, 2 << 6, fcs4)
    assert(graft.operators.Zstd.decompress(zs).isDefined)
    val wide = zs.clone()
    wide(5) = ((27 - 10) << 3).toByte
    assert(lean("zstd window", graft.operators.Zstd.decompress(wide))
      .exists(_.sameElements(zText)), "zstd window")
    for (size <- Seq(0xffffffffL, cap.toLong)) {
      val lie = zs.clone()
      le32(lie, 6, size)
      assert(lean(s"zstd size $size",
        graft.operators.Zstd.decompress(lie)).isEmpty, s"zstd size $size")
    }
    // snappy: a varint length one past the cap, and past `maxOut`
    val varint = Iterator.iterate((cap + 1).toLong)(_ >>> 7)
      .takeWhile(_ > 0).map(_ & 0x7f).toArray
    val lie = varint.init.map(v => (v | 0x80).toByte) :+
      varint.last.toByte
    assert(lean("snappy length", graft.operators.Snappy.decompress(lie ++
      Array[Byte](0, 'x'))).isEmpty, "snappy length")
    val snap = org.xerial.snappy.Snappy.compress(text)
    assert(graft.operators.Snappy.decompress(snap).isDefined)
    assert(graft.operators.Snappy.decompress(snap,
      maxOut = text.length - 1).isEmpty, "snappy maxOut")
    // lz4 legacy: one block claiming 8 MiB + 1 compressed bytes
    val legacy = Array[Byte](0x02, 0x21, 0x4c, 0x18) ++
      new Array[Byte](4) ++ Array.fill[Byte](16)(0x11)
    le32(legacy, 4, (8 << 20) + 1)
    assert(lean("lz4 legacy", graft.operators.Lz4.decodeFrame(legacy))
      .isEmpty, "lz4 legacy block")
  }

  test("brotli decoder is total under own-encoder mutation") {
    val text = ("brotli fuzz content é→Ω with repeated repeated " +
      "repeated words ") * 8
    assertTotal("brotli/entropy",
      graft.operators.Brotli.encodeEntropy(text.getBytes("UTF-8")),
      graft.operators.Brotli.decompress(_: Array[Byte]))
    assertTotal("brotli/stored",
      graft.operators.Brotli.encodeStored(text.getBytes("UTF-8")),
      graft.operators.Brotli.decompress(_: Array[Byte]))
  }

  test("vp8 lossy header parse is total under mutation") {
    assertTotal("vp8/meta",
      graft.operators.WebP.vp8Write(320, 240, 90, 33, 5, 2, 0),
      graft.operators.WebP.vp8Meta)
  }

  test("npy/npz parsers are total under own-writer mutation") {
    val data = Array.tabulate[Byte](48)(i => (i * 5).toByte)
    assertTotal("npy",
      graft.operators.Npy.npyWrite("<i4", fortran = false,
        Seq(12L), data),
      graft.operators.Npy.npyMeta)
    assertTotal("npz",
      Archive.zipWrite(Seq(("a.npy",
        graft.operators.Npy.npyWrite("<i8", fortran = false,
          Seq(6L), data), true))),
      graft.operators.Npy.npzEntries)
  }

  test("pickle census is total under own-writer mutation") {
    assertTotal("pickle/dict2",
      graft.operators.Pickle.writeDict2(99L, 5),
      graft.operators.Pickle.pickleCensus)
    assertTotal("pickle/list4",
      graft.operators.Pickle.writeList4(99L, 4),
      graft.operators.Pickle.pickleCensus)
  }

  test("safetensors/gguf parsers are total under own-writer " +
      "mutation") {
    assertTotal("safetensors",
      graft.operators.SafeTensors.stWrite(Seq(
        ("w", "F32", Seq(4L, 2L)), ("b", "I8", Seq(4L)))),
      graft.operators.SafeTensors.stMeta)
    assertTotal("gguf",
      graft.operators.Gguf.ggufWrite("llama", "f", 3,
        Seq(("t", Seq(8L, 2L), 8))),
      graft.operators.Gguf.ggufMeta)
  }

  test("cbor/msgpack censuses are total under own-writer mutation") {
    val cw = new graft.operators.Cbor.Writer
    cw.mapHead(2L).text("a").uint(1L).text("b")
      .arrayHead(2L).uint(2L).uint(3L)
    assertTotal("cbor", cw.result(),
      graft.operators.Cbor.cborCensus)
    val mw = new graft.operators.MsgPack.Writer
    mw.mapHead(2).str("a").int(1L).str("b").bool(false)
    assertTotal("msgpack", mw.result(),
      graft.operators.MsgPack.mpCensus)
  }

  test("tfrecord walk is total under own-writer mutation") {
    assertTotal("tfrecord",
      graft.operators.TfRecord.tfWrite(Seq(
        "alpha payload".getBytes, "beta payload longer".getBytes)),
      graft.operators.TfRecord.tfFacts)
  }

  test("ogg container walk is total under mutation (both codecs)") {
    assertTotal("ogg/vorbis-span",
      graft.operators.Ogg.oggWrite(opus = false, rate = 44100,
        channels = 2, preSkip = 0, granule = 44100L, title = "t",
        artist = "a", spanComment = true),
      graft.operators.Ogg.oggMeta)
    assertTotal("ogg/opus",
      graft.operators.Ogg.oggWrite(opus = true, rate = 48000,
        channels = 2, preSkip = 312, granule = 4800L, title = "t",
        artist = "a"),
      graft.operators.Ogg.oggMeta)
  }
}
