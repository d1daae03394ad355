package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `graft_rollhash_min(s)`: minimum Rabin–Karp polynomial hash over
  * all 8-byte windows of `s` — a winnowing-style document sketch
  * (one value per document, robust to local edits) computed with the
  * true O(n) ROLLING update `h' = (h - b₀·B⁷)·B + b₈` instead of
  * rehashing every window. Parameters are chosen so the arithmetic
  * never overflows and needs no modulus: base B = 31, window w = 8,
  * byte values < 256 keep every window hash ≤ 255·Σ31ʲ < 2⁴⁶ and the
  * rolling intermediate below 2⁵¹ — exactly representable in BIGINT
  * AND float64, so a SQL oracle can recompute the same values
  * positionally (O(n·w) there) with plain integer arithmetic.
  *
  * Strings shorter than the window hash their full length (same
  * positional formula), so the result is total. Operates on UTF-8
  * BYTES (the corpus contract is ASCII; byte-level is what a
  * fingerprint over raw training data does anyway).
  *
  * A static kernel registered through StaticInvoke: the
  * higher-order-function spelling pays an interpreted lambda per
  * window; this is one fused loop per row.
  */
object RollingHashMin {
  final val Base = 31L
  final val Window = 8
  /** B^(w-1): the coefficient of the outgoing byte. */
  final val TopPow: Long = {
    var p = 1L
    var i = 0
    while (i < Window - 1) { p *= Base; i += 1 }
    p
  }

  /** The SQL entry point: the kernel over `s`'s UTF-8 bytes. */
  def minHash(s: UTF8String): Long = minHash(s.getBytes)

  /** The kernel: O(n) rolling min over all `Window`-byte windows;
    * inputs shorter than the window hash once over their full
    * length. */
  def minHash(b: Array[Byte]): Long = {
    val n = b.length
    if (n <= Window) {
      var h = 0L
      var i = 0
      while (i < n) { h = h * Base + (b(i) & 0xff); i += 1 }
      return h
    }
    var h = 0L
    var i = 0
    while (i < Window) { h = h * Base + (b(i) & 0xff); i += 1 }
    var min = h
    while (i < n) {
      h = (h - (b(i - Window) & 0xff) * TopPow) * Base + (b(i) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }
}
