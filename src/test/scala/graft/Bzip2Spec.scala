package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bzip2

/** The bzip2 codec pinned two independent ways: GOLDEN streams from
  * the reference bzip2 implementation (levels 1/9, multi-block,
  * pbzip2-style multi-stream concatenation) must decode bit-exactly,
  * and streams from the fixture encoder (commons-compress) must
  * round-trip. `own_text.bz2`, written by a former in-repo encoder
  * and decoded bit-exactly by the reference tool, stays a golden.
  */
class Bzip2Spec extends AnyFunSuite {

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/bzip2/$name")
    assert(in != null, s"missing resource $name")
    try in.readAllBytes() finally in.close()
  }

  private val goldens = Seq(
    ("text.bin", "text_l9.bz2"),
    ("random.bin", "random_l1.bz2"),
    ("runs.bin", "runs_l9.bz2"),
    ("utf8.bin", "utf8_l1.bz2"),
    ("multiblock.bin", "multiblock_l1.bz2"),
    ("multistream.bin", "multistream.bz2"))

  test("reference-encoder golden streams decode bit-exactly") {
    for ((binName, bzName) <- goldens) {
      val want = resource(binName)
      val got = Bzip2.decompress(resource(bzName))
      assert(got.isDefined, s"$bzName failed to decode")
      assert(java.util.Arrays.equals(got.get, want),
        s"$bzName: ${got.get.length} != ${want.length}")
    }
    val own = ("the quick brown fox jumps over the lazy dog " * 500)
      .getBytes("UTF-8")
    assert(Bzip2.decompress(resource("own_text.bz2"))
      .exists(_.sameElements(own)), "own_text.bz2")
  }

  test("own encoder round-trips every payload family") {
    val rnd = new scala.util.Random(5)
    val cases: Seq[(String, Array[Byte])] = Seq(
      "empty" -> Array.emptyByteArray,
      "tiny" -> "a".getBytes("UTF-8"),
      "run4" -> "aaaa".getBytes("UTF-8"), // exactly one RLE1 escape
      "run259" -> Array.fill[Byte](259)('x'), // max single RLE1 run
      "run300" -> Array.fill[Byte](300)('x'), // run split
      "runs" -> ("aaaaaaaaaabbbbcccc" * 300 + "d" * 1000)
        .getBytes("UTF-8"),
      "text" -> ("the quick brown fox jumps over the lazy dog " * 500)
        .getBytes("UTF-8"),
      "utf8" -> ("ünïcödé Ωμέγα 中文 данные " * 400).getBytes("UTF-8"),
      "random" -> Array.fill[Byte](60000)(rnd.nextInt(256).toByte),
      "allbytes" -> Array.tabulate[Byte](4096)(i => i.toByte),
      "big" -> ("lorem ipsum dolor sit amet " * 20000)
        .getBytes("UTF-8")) // multi-block at the derived level
    for ((name, data) <- cases) {
      val c = Bzip2.compress(data)
      assert(Bzip2.decompress(c).exists(_.sameElements(data)), name)
    }
  }

  test("damage refuses: CRC, magic, truncation, randomized flag") {
    val good = resource("runs_l9.bz2")
    assert(Bzip2.decompress(null).isEmpty)
    assert(Bzip2.decompress("BZh9junkjunk".getBytes).isEmpty)
    assert(Bzip2.decompress(good.take(good.length / 2)).isEmpty)
    // flip one payload bit: some layer (huffman walk, MTF bounds,
    // CRC) must refuse — never silently-wrong output
    val want = resource("runs.bin")
    var caught = 0
    for (at <- 20 until good.length by 7) {
      val m = good.clone()
      m(at) = (m(at) ^ 0x10).toByte
      Bzip2.decompress(m) match {
        case None => caught += 1
        case Some(got) =>
          assert(java.util.Arrays.equals(got, want),
            s"bit flip at $at produced WRONG bytes undetected")
      }
    }
    assert(caught > (good.length / 7) * 9 / 10,
      s"only $caught mutations refused")
    // set the randomized flag: honest refusal
    // (bit position: 32 header + 48 block magic + 32 crc = 112)
    val r = good.clone()
    r(14) = (r(14) | 0x80).toByte
    assert(Bzip2.decompress(r).isEmpty)
  }

  test("decoder is total under random mutation") {
    val rnd = new scala.util.Random(0xB2122L)
    val good = resource("utf8_l1.bz2")
    for (_ <- 0 until 400) {
      val m = good.clone()
      for (_ <- 0 to rnd.nextInt(3))
        m(rnd.nextInt(m.length)) =
          (m(rnd.nextInt(m.length)) ^ (1 << rnd.nextInt(8))).toByte
      Bzip2.decompress(m) // refuse or decode, never throw
    }
    for (_ <- 0 until 100) {
      Bzip2.decompress(good.take(1 + rnd.nextInt(good.length)))
      val at = rnd.nextInt(good.length)
      val junk = Array.fill[Byte](1 + rnd.nextInt(9))(
        rnd.nextInt(256).toByte)
      Bzip2.decompress(good.take(at) ++ junk ++ good.drop(at))
    }
  }
}
