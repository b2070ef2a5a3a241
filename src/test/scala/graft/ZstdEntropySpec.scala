package graft

import graft.operators.Zstd

/** The full zstd entropy decoder (FSE + Huffman compressed blocks,
  * RFC 8878) pinned two independent ways:
  *
  *  1. GOLDEN frames produced by the reference zstd CLI (v1.5.7,
  *     committed under resources/zstd) across levels 1/3/5/19/22 —
  *     fast-mode and btopt streams exercise FSE-compressed weight
  *     descriptions, 4-stream literals, treeless (repeat-tree)
  *     blocks, all sequence-table modes and the repeated-offset
  *     slots; the 200 KB repetitive payload compresses to 72 bytes
  *     (RLE-heavy), the random payload forces raw blocks. The
  *     checksummed goldens also pin the XXH64 implementation
  *     end-to-end: a wrong hash fails every checksummed decode.
  *
  *  2. Round-trips through zstd-jni's encoder ([[Zstd.compress]])
  *     across payload classes, checksum settings and header layouts
  *     (sized single-segment, size-less with a window descriptor).
  *
  * Plus the lying-checksum refusal and published XXH64 vectors.
  */
class ZstdEntropySpec extends SparkSpec {

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd/$name")
    assert(in != null, s"missing resource $name")
    try in.readAllBytes() finally in.close()
  }

  private val goldens = Seq(
    ("text.bin", "text_l1.zst", true),
    ("text.bin", "text_l19.zst", true),
    ("text.bin", "text_l3_nocheck.zst", false),
    ("repetitive.bin", "repetitive_l3.zst", true),
    ("random.bin", "random_l3.zst", true),
    ("tiny.bin", "tiny_l3.zst", true),
    ("long.bin", "long_l5.zst", true),
    ("long.bin", "long_l22.zst", true))

  test("reference-encoder golden frames decode bit-exactly") {
    for ((binName, zstName, checksummed) <- goldens) {
      val want = resource(binName)
      val zst = resource(zstName)
      val got = Zstd.decompress(zst)
      assert(got.isDefined, s"$zstName failed to decode")
      assert(java.util.Arrays.equals(got.get, want),
        s"$zstName decoded ${got.get.length} bytes != " +
          s"${want.length} expected")
      val meta = Zstd.frameMeta(zst).get
      assert(meta.length == 1 && meta.head.hasChecksum == checksummed,
        s"$zstName meta")
    }
  }

  test("compressible goldens actually carry entropy blocks") {
    // guard against accidentally pinning only the stored-block path
    for (zstName <- Seq("text_l1.zst", "text_l19.zst", "long_l5.zst",
      "long_l22.zst")) {
      val m = Zstd.frameMeta(resource(zstName)).get.head
      assert(m.nCompressed > 0, s"$zstName has no compressed blocks")
    }
    // the 300 KB payload must span several blocks (cross-block
    // matches + repeat offsets in the reference stream)
    assert(Zstd.frameMeta(resource("long_l5.zst")).get.head.nBlocks
      > 1)
  }

  private def payloads: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(0x25D0L)
    val words = Seq("graft", "zstd", "entropy", "stream", "decode",
      "the", "of", "and", "block", "offset")
    val text = Seq.fill(4000)(words(rnd.nextInt(words.length)))
      .mkString(" ").getBytes("UTF-8")
    val random = Array.fill[Byte](3000)(rnd.nextInt(256).toByte)
    val same = Array.fill[Byte](5000)('x')
    val long = {
      val sb = new StringBuilder
      for (i <- 0 until 2500)
        sb.append(s"row $i: ").append(
          Seq.fill(10)(words(rnd.nextInt(words.length)))
            .mkString(" ")).append('\n')
      sb.toString.getBytes("UTF-8")
    }
    Seq(("text", text), ("random", random), ("same", same),
      ("long", long), ("tiny", "abc".getBytes),
      ("empty", Array.emptyByteArray))
  }

  test("jar-encoder frames round-trip across layouts") {
    for ((name, data) <- payloads;
        sized <- Seq(false, true);
        check <- Seq(false, true)) {
      val f = Zstd.compress(data, checksum = check, contentSize = sized)
      val got = Zstd.decompress(f)
      assert(got.isDefined, s"$name sized=$sized check=$check refused")
      assert(java.util.Arrays.equals(got.get, data),
        s"$name sized=$sized check=$check mismatch")
      val m = Zstd.frameMeta(f).get.head
      assert(m.hasChecksum == check, s"$name check=$check meta")
      assert(m.contentSize == (if (sized) data.length else -1),
        s"$name sized=$sized meta")
    }
    // single-segment header variant (descriptor bit 5: no window byte)
    val d = payloads.head._2
    val ss = Zstd.compress(d)
    assert((ss(4) & 0x20) != 0, "sized frame is single-segment")
    assert(java.util.Arrays.equals(Zstd.decompress(ss).get, d))
  }

  test("jar-encoder compressible frames carry entropy blocks and win") {
    val data = payloads.head._2 // the repetitive text
    val f = Zstd.compress(data)
    val m = Zstd.frameMeta(f).get.head
    assert(m.nCompressed > 0, "text should entropy-compress")
    assert(f.length < data.length / 2,
      s"entropy frame ${f.length} bytes should beat half of " +
        s"${data.length}")
  }

  test("a lying stored checksum refuses decode but still walks") {
    val data = "checksummed payload with words words words repeated"
      .getBytes("UTF-8")
    val f = Zstd.compress(data, checksum = true)
    val bad = f.clone()
    bad(bad.length - 2) = (bad(bad.length - 2) ^ 0x40).toByte
    assert(Zstd.decompress(f).isDefined)
    assert(Zstd.decompress(bad).isEmpty, "lying checksum must refuse")
    assert(Zstd.frameMeta(bad).isDefined,
      "metadata walk does not verify, only surfaces")
  }

  test("xxhash64 matches the published vectors") {
    assert(Zstd.xxhash64(Array.emptyByteArray, 0, 0) ==
      0xEF46DB3751D8E999L)
    val abc = "abc".getBytes("UTF-8")
    assert(Zstd.xxhash64(abc, 0, 3) == 0x44BC2CF5AD770999L)
    // seed variant: xxh64("", 1)
    assert(Zstd.xxhash64(Array.emptyByteArray, 0, 0, 1L) !=
      Zstd.xxhash64(Array.emptyByteArray, 0, 0))
  }

  test("truncated and bit-damaged reference frames classify, " +
      "never throw") {
    val zst = resource("text_l1.zst")
    val rnd = new scala.util.Random(7L)
    for (_ <- 0 until 40) {
      val cut = zst.take(1 + rnd.nextInt(zst.length - 1))
      Zstd.decompress(cut) // must not throw
      val m = zst.clone()
      m(rnd.nextInt(m.length)) =
        (m(rnd.nextInt(m.length)) ^ (1 << rnd.nextInt(8))).toByte
      Zstd.decompress(m) // must not throw; None or equal bytes
    }
  }

  test("dictionary-coded frames refuse decode honestly") {
    // dict-flagged frame whose block is entropy-compressed: the
    // decoder cannot know the dictionary, so decode must classify
    val data = payloads.head._2
    // splice a 1-byte dict id AFTER the window descriptor (layout:
    // magic 4 + descriptor 1 + window 1, then dict id)
    val patched = ZstdEntropySpec.spliced(data, 1, Array[Byte](42))
    assert(Zstd.frameMeta(patched).get.head.nCompressed > 0)
    assert(Zstd.frameMeta(patched).get.head.dictId == 42L)
    assert(Zstd.decompress(patched).isEmpty)
  }

  test("frames that declare no content size decode") {
    // zstd-jni's stream writer (what Parquet's zstd codec uses) leaves
    // the size out: the decode buffer comes from the block walk
    for (name <- Seq("text.bin", "long.bin")) {
      val want = resource(name)
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new com.github.luben.zstd.ZstdOutputStream(bos, 3)
      zos.write(want)
      zos.close()
      val zst = bos.toByteArray
      val meta = Zstd.frameMeta(zst).get
      assert(meta.map(_.contentSize) == Seq(-1L), s"$name sized")
      assert(meta.head.nCompressed > 0, s"$name holds no entropy block")
      assert(Zstd.decompress(zst).exists(_.sameElements(want)), name)
    }
  }

  test("pooled encoder contexts write the frames a fresh context " +
      "writes") {
    import spark.implicits._
    // q_zstd_codec's value shape through the function that writes its
    // frames: padded texts, checksum and content size cycling by
    // doc_id % 4, so each pooled context is reused across settings on
    // four concurrent tasks
    val text = new String(resource("text.bin"), "UTF-8")
    val docs = (0 until 500).map { i =>
      val t = text.substring(i * 13 % (text.length - 400)).take(i % 400)
      (i, t + " " + t.take(64) + "pad " * (i % 17), i % 4)
    }.toDF("doc_id", "__t", "__s").repartition(4)
    val rows = Zstd.synthZstdEntropy(docs, "__t", "__s", "content")
      .collect()
    assert(rows.length == 500)
    for (r <- rows) {
      val sel = r.getInt(2)
      val fresh = new com.github.luben.zstd.ZstdCompressCtx
      val want =
        try fresh.setLevel(3).setChecksum(sel % 2 == 1)
          .setContentSize((sel >> 1) % 2 == 0)
          .compress(r.getString(1).getBytes("UTF-8"))
        finally fresh.close()
      assert(r.getAs[Array[Byte]]("content").sameElements(want),
        s"doc ${r.getInt(0)}")
    }
  }
}

object ZstdEntropySpec {

  /** A zstd-jni frame of `data` with header fields spliced in for
    * cases that patch fixed offsets: the frame is written without a
    * content size (magic 4 + descriptor 1 + window 1, then blocks),
    * `flags` are or-ed into the descriptor and `fields` (dictionary
    * id, then content size, as the flags declare) go after the
    * window byte.
    */
  def spliced(data: Array[Byte], flags: Int, fields: Array[Byte])
      : Array[Byte] = {
    val f = Zstd.compress(data, checksum = false, contentSize = false)
    require((f(4) & 0xe3) == 0, "expected a size-less, dict-less frame")
    f.take(4) ++ Array((f(4) | flags).toByte, f(5)) ++ fields ++ f.drop(6)
  }
}
