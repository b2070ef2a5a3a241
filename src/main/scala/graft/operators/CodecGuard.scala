package graft.operators

import scala.util.control.NonFatal

/** The untrusted-byte contract of the codec entry points ([[Zstd]],
  * [[Xz]], [[Bzip2]], [[Lz4]], [[Snappy]], [[UnixZ]]): a hostile
  * input yields `None`. It never throws, never returns more than
  * [[MaxOut]] bytes, and never makes a decoder allocate more than a
  * bound derived from [[MaxOut]].
  *
  * The jar-backed decoders (zstd-jni, snappy-java) throw unchecked
  * exceptions on damaged bytes (`ZstdException`, `SnappyError`), so
  * every call into them runs under [[guard]]. Each size a header
  * declares that a decoder would allocate — the zstd content size,
  * the snappy length — is checked against a bound no larger than
  * [[MaxOut]] first; the
  * from-spec decoders grow their output and allocate no declared
  * window or dictionary.
  */
private[operators] object CodecGuard {

  /** Output cap for one decoded value: the bomb guard. */
  val MaxOut: Int = 64 << 20

  /** `body`, with any non-fatal throwable mapped to None. */
  def guard[A](body: => Option[A]): Option[A] =
    try body catch { case NonFatal(_) => None }
}
