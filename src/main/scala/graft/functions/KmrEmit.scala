package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_kmr_emit(toks, minK, maxK)`: the whole p62 Karp–Miller–
  * Rosenberg prefix-doubling emission in ONE fused per-row kernel —
  * for each dyadic level k in [minK, maxK] and each window position,
  * one row (k, pos, cls, left_sym) where cls is the level-k equality
  * class of the 2^k-token window at pos (two independent xxhash64
  * planes = 128 bits) and left_sym is the raw previous token (NULL at
  * the document start).
  *
  * A static kernel registered through StaticInvoke (the
  * RollingHashMin precedent): the higher-order-function spelling paid
  * an interpreted lambda dispatch PER ARRAY ELEMENT across maxK
  * chained `transform`s plus a flatten — this is maxK primitive
  * long-array loops and one output array per row, inside whole-stage
  * codegen via a static call. The classes are engine-internal (the
  * DuckDB oracle replays its own md5 chain; only class-equality-
  * derived stats are compared), so the hash family only needs
  * determinism and collision resistance: per distinct window pair,
  * P(both planes collide) ≈ 2^-128 ASSUMING plane independence — the
  * planes are the same non-cryptographic mix under different seeds, so
  * unlike md5 the bound is heuristic, not proven; in practice the
  * joint collision rate is negligible on token data and every run is
  * gated by the DuckDB oracle hash-compare (ADVICE r15 #1).
  *
  * Precondition (ADVICE r15 #4): `toks` must not contain null
  * ELEMENTS — a null token would hash as a real class (SeedA/SeedB
  * constants) while its left-context role is indistinguishable from
  * the document-start marker, silently inflating has_start/n_left_ctx.
  * The only caller (p62 via toksExpr) can never produce one: split()
  * never yields null and the filter removes empties.
  */
object KmrEmit {
  val outType: DataType = ArrayType(StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("cls", StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), nullable = false),
    StructField("left_sym", StringType, nullable = true))),
    containsNull = false)

  // Arbitrary fixed plane seeds (golden-ratio / xxhash prime words).
  private final val SeedA = 0x9E3779B97F4A7C15L
  private final val SeedB = 0xC2B2AE3D27D4EB4FL
  private final val SeedPairA = 0x165667B19E3779F9L
  private final val SeedPairB = 0x27D4EB2F165667C5L

  /** The kernel. Called from both interpreted eval and generated
    * code. Output rows own copies of the left-context tokens (the
    * input ArrayData may be backed by a reused row buffer). */
  def emit(toks: ArrayData, minK: Int, maxK: Int): ArrayData = {
    val n = toks.numElements()
    var a = new Array[Long](n)
    var b = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      if (s == null) { a(i) = SeedA; b(i) = SeedB }
      else {
        a(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, SeedA)
        b(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, SeedB)
      }
      i += 1
    }
    // total emission count for exact-size output allocation
    var total = 0
    var k = 1
    var len = n
    while (k <= maxK) {
      len = math.max(0, len - (1 << (k - 1)))
      if (k >= minK) total += len
      k += 1
    }
    val out = new Array[Any](total)
    var outIdx = 0
    var curA = a
    var curB = b
    var curLen = n
    k = 1
    while (k <= maxK) {
      val step = 1 << (k - 1)
      val len2 = math.max(0, curLen - step)
      val na = new Array[Long](len2)
      val nb = new Array[Long](len2)
      var j = 0
      while (j < len2) {
        na(j) = XXH64.hashLong(curA(j), XXH64.hashLong(curA(j + step), SeedPairA))
        nb(j) = XXH64.hashLong(curB(j), XXH64.hashLong(curB(j + step), SeedPairB))
        j += 1
      }
      curA = na; curB = nb; curLen = len2
      if (k >= minK) {
        var p = 0
        while (p < len2) {
          val left: UTF8String =
            if (p == 0) null
            else {
              val t = toks.getUTF8String(p - 1)
              if (t == null) null else t.clone()
            }
          out(outIdx) = new GenericInternalRow(Array[Any](
            k, (p + 1).toLong,
            new GenericInternalRow(Array[Any](na(p), nb(p))), left))
          outIdx += 1
          p += 1
        }
      }
      k += 1
    }
    new GenericArrayData(out)
  }
}
