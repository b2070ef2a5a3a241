package graft

import org.apache.spark.sql.functions._
import graft.operators.Archive

/** ZIP central-directory walk + extraction and gzip member decode:
  * round-trips, CRC enforcement, malformed classification.
  */
class ArchiveSpec extends SparkSpec {
  import spark.implicits._

  private val payloads = Seq(
    ("a.txt", "hello archive world".getBytes("UTF-8"), false),
    ("dir/b.bin", Array.tabulate[Byte](5000)(i => (i * 7).toByte), true),
    ("c.txt", "x".getBytes("UTF-8"), true))

  test("zipWrite -> zipEntries lists the planted directory exactly") {
    val z = Archive.zipWrite(payloads)
    val es = Archive.zipEntries(z).get
    assert(es.map(_.name) == payloads.map(_._1))
    assert(es.map(_.method) == Seq(0, 8, 8))
    assert(es.map(_.uncompressedSize) ==
      payloads.map(_._2.length.toLong))
  }

  test("zipExtract round-trips stored and deflated members, " +
      "verifies CRC") {
    val z = Archive.zipWrite(payloads)
    val es = Archive.zipEntries(z).get
    for ((e, (_, data, _)) <- es.zip(payloads))
      assert(Archive.zipExtract(z, e).exists(_.sameElements(data)),
        e.name)
    // corrupt one data byte of the stored member: CRC must refuse
    val bad = z.clone()
    val off = es.head.localHeaderOffset.toInt + 30 +
      es.head.name.length
    bad(off) = (bad(off) ^ 0x5a).toByte
    assert(Archive.zipExtract(bad, es.head).isEmpty)
  }

  test("zip methods 12 (bzip2) and 14 (LZMA) extract via the new " +
      "codecs — reference-writer fixture") {
    def resource(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/zipmethods/$name")
      assert(in != null, s"missing $name")
      try in.readAllBytes() finally in.close()
    }
    val zip = resource("methods.zip")
    val entries = Archive.zipEntries(zip).get
    assert(entries.map(e => e.name -> e.method).toMap ==
      Map("bz.txt" -> 12, "lz.txt" -> 14, "st.txt" -> 0))
    for ((name, want) <- Seq("bz.txt" -> resource("bz.txt"),
      "lz.txt" -> resource("lz.txt"),
      "st.txt" -> "stored sibling".getBytes("UTF-8"))) {
      val e = entries.find(_.name == name).get
      val got = Archive.zipExtract(zip, e)
      assert(got.exists(_.sameElements(want)), name)
    }
    // mutated members refuse (codec or CRC), never throw
    val rnd = new scala.util.Random(12)
    for (_ <- 0 until 200) {
      val m = zip.clone()
      m(rnd.nextInt(m.length)) =
        (m(rnd.nextInt(m.length)) ^ (1 << rnd.nextInt(8))).toByte
      Archive.zipEntries(m).foreach(_.foreach(e =>
        Archive.zipExtract(m, e)))
    }
  }

  test("zip method 93 (zstd) extracts through the entropy decoder") {
    val want = ("zstd-in-zip member content " * 30).getBytes("UTF-8")
    val comp = graft.operators.Zstd.compress(want)
    val crc = { val c = new java.util.zip.CRC32; c.update(want)
      c.getValue }
    // hand-built single-entry zip with method 93
    val name = "z.txt".getBytes("UTF-8")
    val bb = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { bb.write(v & 0xff); bb.write(v >> 8 & 0xff) }
    def u32(v: Long): Unit = { u16((v & 0xffff).toInt)
      u16(((v >> 16) & 0xffff).toInt) }
    u32(0x04034b50L); u16(63); u16(0); u16(93); u16(0); u16(0)
    u32(crc); u32(comp.length); u32(want.length)
    u16(name.length); u16(0); bb.write(name); bb.write(comp)
    val cdOff = bb.size()
    u32(0x02014b50L); u16(63); u16(63); u16(0); u16(93); u16(0)
    u16(0); u32(crc); u32(comp.length); u32(want.length)
    u16(name.length); u16(0); u16(0); u16(0); u16(0); u32(0); u32(0)
    bb.write(name)
    val cdSize = bb.size() - cdOff
    u32(0x06054b50L); u16(0); u16(0); u16(1); u16(1)
    u32(cdSize); u32(cdOff); u16(0)
    val zip = bb.toByteArray
    val es = Archive.zipEntries(zip).get
    assert(es.length == 1 && es.head.method == 93)
    assert(Archive.zipExtract(zip, es.head)
      .exists(_.sameElements(want)))
  }

  test("zip64 layout: EOCD64 chain + extended-info extras read back") {
    val z = Archive.zipWrite64(payloads)
    val es = Archive.zipEntries(z).get
    assert(es.map(_.name) == payloads.map(_._1))
    assert(es.map(_.method) == Seq(0, 8, 8))
    assert(es.map(_.uncompressedSize) ==
      payloads.map(_._2.length.toLong))
    // extraction goes through the zip64-corrected offsets and sizes
    for ((e, (_, data, _)) <- es.zip(payloads))
      assert(Archive.zipExtract(z, e).exists(_.sameElements(data)),
        e.name)
    // the classic and zip64 layouts list IDENTICAL metadata
    val classic = Archive.zipEntries(Archive.zipWrite(payloads)).get
    assert(es.map(e => (e.name, e.method, e.uncompressedSize,
      e.crc32)) == classic.map(e => (e.name, e.method,
      e.uncompressedSize, e.crc32)))
    // damaged EOCD64 locator refuses instead of misreading
    val bad = z.clone()
    val loc = bad.length - 22 - 20
    bad(loc) = 0x00
    assert(Archive.zipEntries(bad).isEmpty)
  }

  test("zip64 container composes: a docx through the zip64 layout") {
    // an OOXML reader must not care which EOCD flavor carried it
    val docx = graft.operators.Docx.docxWrite("zip64 carried", 0)
    val es = Archive.zipEntries(docx).get
    val parts = es.map(e => (e.name,
      Archive.zipExtract(docx, e).get, false))
    val z64 = Archive.zipWrite64(parts)
    assert(graft.operators.Docx.docxText(z64)
      .contains(graft.operators.Docx.DocxText("zip64 carried", 1)))
  }

  test("zipEntries: malformed inputs classify as None") {
    assert(Archive.zipEntries(null).isEmpty)
    assert(Archive.zipEntries("not a zip".getBytes).isEmpty)
    val z = Archive.zipWrite(payloads)
    assert(Archive.zipEntries(z.take(z.length - 10)).isEmpty)
  }

  test("gunzip round-trips through the FNAME header path and " +
      "enforces the trailer") {
    val data = ("some document text " * 50).getBytes("UTF-8")
    val gz = Archive.gzipWrite(data, "name.txt")
    assert(Archive.gunzip(gz).exists(_.sameElements(data)))
    // corrupt the ISIZE trailer
    val bad = gz.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    assert(Archive.gunzip(bad).isEmpty)
    // corrupt the CRC trailer
    val bad2 = gz.clone()
    bad2(bad2.length - 6) = (bad2(bad2.length - 6) ^ 1).toByte
    assert(Archive.gunzip(bad2).isEmpty)
    assert(Archive.gunzip("garbage".getBytes).isEmpty)
    assert(Archive.gunzip(null).isEmpty)
    // empty payload round-trips
    assert(Archive.gunzip(Archive.gzipWrite(Array.emptyByteArray))
      .exists(_.isEmpty))
  }

  test("tarWrite -> tarEntries round-trips members, checksums " +
      "enforced, tgz composes") {
    val members = Seq(
      ("one.txt", "first file".getBytes("UTF-8")),
      ("dir-two.bin", Array.tabulate[Byte](1300)(i => (i * 3).toByte)))
    val tar = Archive.tarWrite(members)
    val es = Archive.tarEntries(tar).get
    assert(es.map(_.name) == members.map(_._1))
    assert(es.map(_.size) == members.map(_._2.length.toLong))
    assert(es.forall(_.typeflag == '0'))
    for ((e, (_, data)) <- es.zip(members))
      assert(Archive.tarExtract(tar, e).exists(_.sameElements(data)))
    // flipped header byte -> checksum refuses
    val bad = tar.clone()
    bad(3) = (bad(3) ^ 1).toByte
    assert(Archive.tarEntries(bad).isEmpty)
    assert(Archive.tarEntries("not a tar".getBytes).isEmpty)
    assert(Archive.tarEntries(null).isEmpty)
    // tgz: gunzip composes
    val tgz = Archive.gzipWrite(tar, "a.tar")
    assert(Archive.gunzip(tgz).flatMap(Archive.tarEntries)
      .exists(_.map(_.name) == members.map(_._1)))
  }

  test("tar long names: GNU @LongLink, PAX path/size, git-archive " +
      "global header — reference-tar fixtures") {
    def resource(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/zipmethods/$name")
      assert(in != null, s"missing $name")
      try in.readAllBytes() finally in.close()
    }
    val longName = "deep/" + ("a" * 60) + "/" + ("b" * 60) + "/" +
      ("c" * 40)
    for (fixture <- Seq("gnu_long.tar", "pax_long.tar")) {
      val tar = resource(fixture)
      val es = Archive.tarEntries(tar).get
      val files = es.filter(_.typeflag == '0')
      assert(files.map(_.name).contains(longName), fixture)
      assert(files.map(_.name).contains("short.txt"), fixture)
      // no @LongLink / PaxHeader pseudo-members leak through
      assert(!es.exists(e => e.name.contains("@LongLink") ||
        e.name.contains("PaxHeader")), fixture)
      val e = files.find(_.name == longName).get
      assert(Archive.tarExtract(tar, e).map(b2 =>
        new String(b2, "UTF-8")).contains("long path content here\n"),
        fixture)
    }
    // git archive prepends a 'g' global header: consumed, not a member
    val ga = Archive.tarEntries(resource("gitarchive.tar")).get
    assert(!ga.exists(_.name.contains("pax_global_header")))
    assert(ga.exists(_.name == "short.txt"))
  }

  test("malformed PAX extended-header records refuse instead of " +
      "throwing (ADVICE r14)") {
    // bodies whose length prefix is inconsistent with the record
    // ("2 \n": recLen=2 puts the value slice at substring(2,1))
    for (evil <- Seq("2 \n", "3 x\n", "1 \n", "4  =\n",
        "9999999 a=b\n", " 7 k=v\n")) {
      val tar = Archive.tarWrite(
        Seq(("after.txt", "payload".getBytes("UTF-8"))))
      val paxBody = evil.getBytes("UTF-8")
      // hand-build an 'x' PAX header in front of the real member
      val h = new Array[Byte](512)
      val nm = "PaxHeader/after.txt".getBytes("US-ASCII")
      System.arraycopy(nm, 0, h, 0, nm.length)
      def oct(off: Int, len: Int, v: Long): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val p = ("0" * (len - 1 - s.length)) + s
        System.arraycopy(p.getBytes("US-ASCII"), 0, h, off, len - 1)
      }
      oct(100, 8, 420); oct(108, 8, 0); oct(116, 8, 0)
      oct(124, 12, paxBody.length.toLong); oct(136, 12, 0)
      h(156) = 'x'
      System.arraycopy("ustar ".getBytes("US-ASCII"), 0, h,
        257, 6)
      System.arraycopy("00".getBytes("US-ASCII"), 0, h, 263, 2)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L
      for (i <- 0 until 512) sum += h(i) & 0xff
      oct(148, 8, sum); h(155) = ' '
      val pad = new Array[Byte]((512 - paxBody.length % 512) % 512)
      val evilTar = h ++ paxBody ++ pad ++ tar
      // must not throw; the real member still lists (the broken PAX
      // body simply contributes no overrides)
      val got = Archive.tarEntries(evilTar)
      assert(got.isDefined, s"refused outright for '$evil'")
      assert(got.get.exists(_.name == "after.txt"), s"'$evil'")
    }
  }

  test("warcRecords parses concatenated records; truncation and " +
      "junk classify as None") {
    val recs = Seq(
      ("warcinfo", null, "software: graft\r\n".getBytes("UTF-8")),
      ("response", "http://x.test/a",
        "HTTP/1.1 404 Not Found\r\n\r\nmissing".getBytes("UTF-8")))
    val bytes = Archive.warcWrite(recs, gzipped = false)
    val got = Archive.warcRecords(bytes).get
    assert(got.map(_.warcType) == Seq("warcinfo", "response"))
    assert(got(0).targetUri == null)
    assert(got(1).targetUri == "http://x.test/a")
    assert(got(1).contentLength == recs(1)._3.length.toLong)
    assert(new String(got(1).payload, "UTF-8")
      .endsWith("missing"))
    assert(Archive.warcRecords(bytes.take(30)).isEmpty)
    assert(Archive.warcRecords("HTTP/1.1 200 OK".getBytes).isEmpty)
    assert(Archive.warcRecords(null).isEmpty)
  }

  test("gunzipMembers splits member-per-record streams exactly") {
    val a = "first".getBytes("UTF-8")
    val b = "second member".getBytes("UTF-8")
    val cat = Archive.gzipWrite(a, "a") ++ Archive.gzipWrite(b, "b")
    val ms = Archive.gunzipMembers(cat).get
    assert(ms.length == 2)
    assert(ms(0).sameElements(a) && ms(1).sameElements(b))
    // a corrupt second member poisons the whole stream
    val bad = cat.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    assert(Archive.gunzipMembers(bad).isEmpty)
  }

  test("warcRecordRows: http split, request passthrough, gz parity") {
    val docs = Seq((7L, "the body text")).toDF("doc_id", "text")
    def rows(gz: Int) = {
      val d = docs.withColumn("__gz", lit(gz))
      Archive.warcRecordRows(
        Archive.synthWarcs(d, "doc_id", "text", "__gz", "content"),
        "doc_id", "content", gzipped = gz == 1)
        .select("doc_id", "rec_idx", "warc_type", "http_status",
          "body_text")
        .as[(Long, Int, String, Option[Int], String)].collect().toSet
    }
    val plain = rows(0)
    assert(plain.exists { case (_, _, t, st, b) =>
      t == "response" && st.contains(200) && b == "the body text" })
    assert(plain.exists { case (_, _, t, st, b) =>
      t == "request" && st.isEmpty && b.startsWith("GET /doc/7") })
    assert(rows(1) == plain) // gz layout parses to identical rows
  }

  test("warcRecordRowsAuto sniffs plain/.gz/.zst rows to one result") {
    val docs = Seq((7L, "the body text")).toDF("doc_id", "text")
    def rows(comp: Int) = {
      val d = docs.withColumn("__c", lit(comp))
      Archive.warcRecordRowsAuto(
        Archive.synthWarcsComp(d, "doc_id", "text", "__c", "content"),
        "doc_id", "content")
        .select("doc_id", "rec_idx", "warc_type", "http_status",
          "body_text")
        .as[(Long, Int, String, Option[Int], String)].collect().toSet
    }
    val plain = rows(0)
    assert(plain.exists { case (_, _, t, st, b) =>
      t == "response" && st.contains(200) && b == "the body text" })
    assert(rows(1) == plain)
    assert(rows(2) == plain) // the zstd entropy leg is lossless too
  }

  test("unwrapWarcBytes: zstd frame-per-record layout decodes; " +
      "corrupt members and foreign magics classify as None") {
    val recs = Seq(
      ("request", "http://x.test/a", "GET /a HTTP/1.1\r\n\r\n"
        .getBytes("UTF-8")),
      ("response", "http://x.test/a",
        "HTTP/1.1 200 OK\r\n\r\nbody".getBytes("UTF-8")))
    val plain = Archive.warcWriteComp(recs, 0)
    val zst = Archive.warcWriteComp(recs, 2)
    assert(!zst.sameElements(plain))
    assert(Archive.unwrapWarcBytes(zst).get.sameElements(plain))
    assert(Archive.unwrapWarcBytes(plain).get eq plain)
    assert(Archive.unwrapWarcBytes(Archive.warcWriteComp(recs, 1))
      .get.sameElements(plain))
    // flip a byte inside the zstd payload: checksum must refuse
    val bad = zst.clone()
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x41).toByte
    assert(Archive.unwrapWarcBytes(bad).isEmpty ||
      !Archive.unwrapWarcBytes(bad).get.sameElements(plain))
    assert(Archive.unwrapWarcBytes("PKjunk".getBytes)
      .isEmpty)
    assert(Archive.unwrapWarcBytes(null).isEmpty)
    assert(Archive.unwrapWarcBytes(Array[Byte](1, 2)).isEmpty)
  }

  test("zipEntryRows / zipExtractTextRows explode archives map-only") {
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .withColumn("__n", lit(2))
    val zips = Archive.synthZips(docs, "doc_id", "text", "__n",
      "content")
    val rows = Archive.zipEntryRows(zips, "doc_id", "content")
      .select("doc_id", "entry_name", "method")
      .as[(Long, String, Int)].collect().toSet
    assert(rows == Set((1L, "f0.txt", 0), (1L, "f1.txt", 8),
      (2L, "f0.txt", 0), (2L, "f1.txt", 8)))
    val texts = Archive.zipExtractTextRows(zips, "doc_id", "content")
      .select("doc_id", "entry_name", "entry_text")
      .as[(Long, String, String)].collect().toSet
    assert(texts == Set((1L, "f0.txt", "e0:alpha"),
      (1L, "f1.txt", "e1:alpha"), (2L, "f0.txt", "e0:beta"),
      (2L, "f1.txt", "e1:beta")))
  }
}
