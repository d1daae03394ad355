package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Affinity

/** The static kernels over [[graft.sources.Affinity]]'s numeric-text
  * rule, each one call per value from generated code:
  *  - `graft_canonical(value, affinity)`: the affinity rule,
  *    [[Affinity.canonicalize]]. A value the rule keeps comes back as
  *    the same UTF8String.
  *  - [[sortKey]]: SQLite's storage-class key, the struct the
  *    `AffinityOrdering` rule orders and compares by.
  *  - `graft_unique_key(value)`: the key a UNIQUE index compares,
  *    [[normNumText]]; the DML layer's driver-side checks call that
  *    same function. */
object Canonical {
  def canonical(value: UTF8String, affinity: UTF8String): UTF8String = {
    val s = value.toString
    val c = Affinity.canonicalize(s, affinity.toString)
    if (c eq s) value else UTF8String.fromString(c)
  }

  /** `struct<r: int, n: double, t: string>`: rank 0 and the number
    * for numeric text, rank 1 and the text itself otherwise, so
    * field-wise struct order is SQLite's (numbers numerically, then
    * text). `text` is the type of `t`: a collated string keeps the
    * collation for the text tier only. */
  def sortKeyType(text: DataType): StructType = StructType(Seq(
    StructField("r", IntegerType, nullable = false),
    StructField("n", DoubleType, nullable = false),
    StructField("t", text, nullable = false)))

  /** The storage-class key of one value (trimmed like `String.trim`
    * before the numeric test; the text tier keeps the value as is). */
  def sortKey(value: UTF8String): InternalRow = {
    val s = value.toString
    if (Affinity.isNumeric(s))
      new GenericInternalRow(Array[Any](0, s.trim.toDouble, UTF8String.EMPTY_UTF8))
    else new GenericInternalRow(Array[Any](1, 0.0, value))
  }

  def uniqueKey(value: UTF8String): UTF8String = {
    val s = value.toString
    val k = normNumText(s)
    if (k eq s) value else UTF8String.fromString(k)
  }

  /** Unique-index key text under numeric/NONE affinity: numeric text
    * collapses to ONE key per value, because SQLite indexes compare
    * INTEGER and REAL storage numerically (100, 100.0 and 1e2 are one
    * key). In-range integer text keys by its exact int64 text (never
    * through double: 9223372036854775806 and …807 are distinct keys in
    * sqlite3), other numbers by an integral double's long text or else
    * `Double.toString`. Untrimmed: ' 12 ' is text storage, not 12. */
  def normNumText(s: String): String =
    if (Affinity.IntRe.matches(s))
      try String.valueOf(java.lang.Long.parseLong(s))
      catch { case _: NumberFormatException => normRealText(s.toDouble) }
    else if (Affinity.NumRe.matches(s)) normRealText(s.toDouble)
    else s

  private def normRealText(d: Double): String =
    if (d.toLong.toDouble == d && d < 9.223372036854775808e18)
      String.valueOf(d.toLong)
    else String.valueOf(d)
}
