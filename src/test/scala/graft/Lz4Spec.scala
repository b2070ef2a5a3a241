package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Lz4

/** LZ4 frame codec: reference-CLI fixtures decode byte-exactly
  * (modern/linked/block-checksum/legacy/concatenated frames), the
  * fixture encoder (lz4-java blocks in the in-repo frame, whose
  * layout the reference `lz4` CLI extracted byte-exactly at
  * fixture-generation time) round-trips, xxHash32 matches its
  * published test vectors, damage refuses.
  */
class Lz4Spec extends AnyFunSuite {

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/lz4/$name")
    assert(in != null, s"missing $name")
    try in.readAllBytes() finally in.close()
  }

  test("xxhash32 published vectors") {
    // from the xxHash project's documented test vectors
    assert(Lz4.xxhash32(Array.emptyByteArray, 0, 0, 0) == 0x02cc5d05)
    assert(Lz4.xxhash32(Array.emptyByteArray, 0, 0,
      0x9e3779b1) == 0x36b78ae7)
    val abc = "abc".getBytes("US-ASCII")
    assert(Lz4.xxhash32(abc, 0, 3, 0) == 0x32d153ff)
    val msg = "Nobody inspects the spammish repetition"
      .getBytes("US-ASCII")
    assert(Lz4.xxhash32(msg, 0, msg.length, 0) == 0xe2293b2f)
  }

  test("reference CLI frames decode byte-exactly") {
    val cases = Seq(
      ("ref_default.lz4", "rep.txt"), // -9, independent 4M blocks
      ("ref_b4ck.lz4", "rand.bin"), // -B4 -BX --content-size
      ("ref_biglinked.lz4", "big.txt"), // -B4 -BD: 6 linked blocks
      ("ref_legacy.lz4", "mixed.bin"), // -l legacy frame
      ("ref_tiny.lz4", "tiny.txt"),
      ("ref_empty.lz4", "empty.bin"))
    for ((fx, src) <- cases) {
      val got = Lz4.decodeFrame(resource(fx))
      assert(got.isDefined, fx)
      assert(java.util.Arrays.equals(got.get, resource(src)), fx)
    }
    // concatenated frames decode to the concatenated contents
    val cat = Lz4.decodeFrame(resource("ref_concat.lz4")).get
    assert(java.util.Arrays.equals(cat,
      resource("rep.txt") ++ resource("tiny.txt")))
  }

  test("a skippable frame between frames is skipped") {
    val a = Lz4.encodeFrame("left".getBytes)
    val b = Lz4.encodeFrame("right".getBytes)
    val skip = Array[Byte](0x5a, 0x2a, 0x4d, 0x18, 4, 0, 0, 0,
      9, 9, 9, 9)
    val got = Lz4.decodeFrame(a ++ skip ++ b).get
    assert(new String(got) == "leftright")
    // a skippable-only stream has no content frame -> refuses
    assert(Lz4.decodeFrame(skip).isEmpty)
  }

  test("encoder round-trips every payload class (CLI-pinned at " +
      "fixture generation)") {
    for (name <- Seq("rep.txt", "rand.bin", "tiny.txt", "empty.bin",
        "mixed.bin", "big.txt")) {
      val src = resource(name)
      val enc = Lz4.encodeFrame(src)
      val dec = Lz4.decodeFrame(enc)
      assert(dec.isDefined, name)
      assert(java.util.Arrays.equals(dec.get, src), name)
      // compressible payloads must actually compress
      if (name == "rep.txt" || name == "big.txt")
        assert(enc.length < src.length / 4, s"$name ${enc.length}")
    }
    val rnd = new scala.util.Random(0x124C)
    for (n <- Seq(0, 1, 4, 17, 65535, 65536, 65537, 200000)) {
      val d = new Array[Byte](n)
      rnd.nextBytes(d)
      // half-repetitive so matching paths engage
      for (i <- n / 2 until n) d(i) = d(i % (n / 2 + 1))
      val back = Lz4.decodeFrame(Lz4.encodeFrame(d))
      assert(back.exists(java.util.Arrays.equals(_, d)), n.toString)
    }
  }

  test("lies refuse: checksum, declared size, oversized block, " +
      "bad HC, torn stream") {
    val good = Lz4.encodeFrame(("abc " * 2000).getBytes)
    assert(Lz4.decodeFrame(good).isDefined)
    // content checksum lives in the last 4 bytes
    val ck = good.clone()
    ck(ck.length - 2) = (ck(ck.length - 2) ^ 0x40).toByte
    assert(Lz4.decodeFrame(ck).isEmpty, "content checksum lie")
    // declared content size lives in descriptor bytes 6..13
    val cs = good.clone()
    cs(6) = (cs(6) ^ 0x01).toByte
    assert(Lz4.decodeFrame(cs).isEmpty,
      "size lie (HC catches or length mismatch)")
    // header checksum byte
    val hc = good.clone()
    hc(14) = (hc(14) ^ 0x7f).toByte
    assert(Lz4.decodeFrame(hc).isEmpty, "HC lie")
    for (cut <- Seq(3, 7, 15, 20, good.length - 1))
      assert(Lz4.decodeFrame(good.take(cut)).isEmpty, s"cut $cut")
    assert(Lz4.decodeFrame(null).isEmpty)
    assert(Lz4.decodeFrame("not lz4 at all".getBytes).isEmpty)
  }

  test("decoder is total under mutation") {
    val base = Lz4.encodeFrame(("mutate me é→Ω " * 500).getBytes)
    val rnd = new scala.util.Random(0x124C4)
    for (_ <- 0 until 400) {
      val m = base.clone()
      for (_ <- 0 until 1 + rnd.nextInt(4))
        m(rnd.nextInt(m.length)) = (rnd.nextInt(256) - 128).toByte
      Lz4.decodeFrame(m) // must never throw
    }
  }
}
