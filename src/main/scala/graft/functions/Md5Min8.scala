package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `graft_md5min8(s)`: the minimum md5 hex digest over all 8-CHARACTER
  * windows of `s` (windows at every position, the final window
  * whatever shorter tail remains; one window of the whole string when
  * it is shorter than 8) — byte-identical to
  * `array_min(transform(sequence(1, greatest(length(s) - 7, 1)),
  * i -> md5(substring(s, i, 8))))`, which is how p07 declared it and
  * how the DuckDB oracle still computes it.
  *
  * The md5 VALUES are output-semantic (the winnowing sketch IS the
  * min digest), so unlike p62's internal classes the hash cannot
  * change — but HOW it is computed can (round 15, optimization, guide
  * §1.2 step 2): the HOF spelling paid, per window, an interpreted
  * lambda dispatch, a substring UTF8String allocation, an md5
  * expression evaluation and a 32-char hex encode, then array_min
  * over n strings. This kernel is one fused loop per row: a reused
  * MessageDigest over byte windows (ASCII fast path; codepoint-exact
  * fallback otherwise), digests compared as unsigned bytes (hex is
  * order-isomorphic to its bytes: lowercase hex digits are ASCII-
  * ordered and encode nibbles high-to-low), ONE hex encode at the
  * end. Pinned byte-identical to the HOF spelling in Md5Min8Spec.
  */
object Md5Min8 {
  private val HexChars = "0123456789abcdef".toCharArray

  // One MessageDigest per thread, reset per row (round 16, ADVICE r15):
  // getInstance("MD5") walks the JCA provider list per call — non-trivial
  // relative to the per-row work this kernel exists to save on the
  // hottest string operator. MD5 instances are not thread-safe, so the
  // cache is a ThreadLocal; task threads are pooled, so each constructs
  // exactly one.
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff
      val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /** The kernel. Called from both interpreted eval and generated code. */
  def minHash(s: UTF8String): UTF8String = {
    val md = localMd.get()
    md.reset()
    val nChars = s.numChars()
    val nWin = math.max(nChars - 7, 1)
    var best: Array[Byte] = null
    val bytes = s.getBytes
    if (bytes.length == nChars) {
      // ASCII: character windows are byte windows
      var i = 0
      while (i < nWin) {
        md.reset()
        md.update(bytes, i, math.min(8, bytes.length - i))
        val d = md.digest()
        if (best == null || less(d, best)) best = d
        i += 1
      }
    } else {
      // multi-byte codepoints: char-exact windows via UTF8String
      var i = 0
      while (i < nWin) {
        md.reset()
        md.update(s.substring(i, i + 8).getBytes)
        val d = md.digest()
        if (best == null || less(d, best)) best = d
        i += 1
      }
    }
    val out = new Array[Char](32)
    var j = 0
    while (j < 16) {
      out(2 * j) = HexChars((best(j) >> 4) & 0xf)
      out(2 * j + 1) = HexChars(best(j) & 0xf)
      j += 1
    }
    UTF8String.fromString(new String(out))
  }
}
