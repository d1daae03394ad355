package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_md5longs(s)`: the md5 digest of `s`'s UTF-8 bytes, packed
  * once into the SIX integer views the query surface consumes —
  * struct<h1, h2, g0, g1, g2, g3: bigint> where
  *
  *  - h1 = `conv(substr(md5(s), 1, 13), 16, 10)`  (hex chars 1-13,
  *    the first 52 digest bits),
  *  - h2 = `conv(substr(md5(s), 14, 13), 16, 10)` (hex chars 14-26,
  *    digest bits 52-104),
  *  - g{k} = `conv(substr(md5(s), 8k+1, 8), 16, 10)` (hex chars
  *    8k+1..8k+8, the k-th big-endian 32-bit digest word).
  *
  * All six values are BIT-IDENTICAL to those SQL spellings (pinned in
  * Md5LongsSpec): lowercase hex encodes digest nibbles high-to-low,
  * so conv-of-substring is exactly a bit-slice of the raw digest.
  *
  * Round 16, optimization (guide §1.2 step 2 / "expressions and
  * codegen"): the md5 VALUES across the pipeline operators are
  * output-semantic (minhash signatures, bloom positions, CMS buckets,
  * simhash bits — each oracle-mirrored), so the hash cannot change —
  * but HOW it is computed can. The SQL spelling paid, per evaluated
  * digest: one md5 expression (digest + 32-char hex UTF8String
  * allocation), then per consumed slice a substring allocation and a
  * conv() string-parse (the hex goes long → string → long). This
  * kernel is one thread-local digest + a handful of shifts, no
  * intermediate strings, inside whole-stage codegen via a static
  * call (the Md5Min8 / RollingHashMin precedent).
  */
object Md5Longs {
  val outType: DataType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false),
    StructField("g0", LongType, nullable = false),
    StructField("g1", LongType, nullable = false),
    StructField("g2", LongType, nullable = false),
    StructField("g3", LongType, nullable = false)))

  // One MessageDigest per pooled task thread, reset per row (the
  // Md5Min8 pattern): getInstance("MD5") walks the JCA provider list,
  // non-trivial next to the digest itself.
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The kernel. Called from both interpreted eval and generated code. */
  def pack(s: UTF8String): InternalRow = {
    val md = localMd.get()
    md.reset()
    md.update(s.getBytes)
    val d = md.digest()
    @inline def be(i: Int, n: Int): Long = {
      var v = 0L
      var j = 0
      while (j < n) { v = (v << 8) | (d(i + j) & 0xffL); j += 1 }
      v
    }
    // h1 = nibbles 0..12  = top 52 of the 56-bit word at bytes 0..6
    // h2 = nibbles 13..25 = low 52 of the 56-bit word at bytes 6..12
    val h1 = be(0, 7) >>> 4
    val h2 = be(6, 7) & ((1L << 52) - 1)
    new GenericInternalRow(Array[Any](
      h1, h2, be(0, 4), be(4, 4), be(8, 4), be(12, 4)))
  }
}
