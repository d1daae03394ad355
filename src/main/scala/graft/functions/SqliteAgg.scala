package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

import graft.sources.Affinity

/** SQLite-semantic aggregates over affinity (string) columns.
  *
  * SQLite's `sum()` returns an INTEGER when every non-NULL input was an
  * integer, and REAL otherwise; text coerces to a number via its
  * longest numeric PREFIX ('4096kb' → 4096, 'c' → 0); NULLs are
  * skipped; an empty input gives NULL (`total()` gives 0.0 and is
  * always REAL). Spark's built-in sum would coerce the whole column to
  * DOUBLE and print `30000.0` where the reference prints `30000`
  * (pinned by the chunked-input test, reference tests.tcl:505-525), so
  * the CLI dialect registers these in place of the built-ins.
  */
final case class SumAcc(
    seenAny: Boolean, seenReal: Boolean, overflow: Boolean, l: Long, d: Double)

object SqliteSum extends Aggregator[String, SumAcc, String] {

  /** SQLite text→numeric coercion: longest numeric prefix, else 0.
    * Returns (value, isReal). */
  def coerce(v: String): (Double, Boolean, Option[Long]) = {
    val t = v.trim
    Affinity.NumRe.findPrefixOf(t) match {
      case Some(p) =>
        val isInt = p.forall(c => c.isDigit || c == '+' || c == '-')
        if (isInt)
          try { val l = p.toLong; (l.toDouble, false, Some(l)) }
          catch { case _: NumberFormatException => (p.toDouble, true, None) }
        else (p.toDouble, true, None)
      case None => (0.0, false, Some(0L))
    }
  }

  /** SQLite AGGREGATE text→numeric coercion (sum/total/avg), which
    * differs from ARITHMETIC's prefix rule: a string counts as
    * INTEGER only when the WHOLE trimmed text is an integer; a
    * whole-real, partial-numeric, or non-numeric string is REAL
    * (prefix value, 0.0 when none). sqlite3-pinned (round-7 fuzz):
    * sum('12abc', 1) = 13.0 REAL and sum('', 100) = 100.0 REAL,
    * while '12abc' + 0 = 12 INTEGER. */
  def coerceFull(v: String): (Double, Boolean, Option[Long]) = {
    val t = v.trim
    if (Affinity.IntRe.matches(t))
      try { val l = t.toLong; (l.toDouble, false, Some(l)) }
      catch { case _: NumberFormatException => (t.toDouble, true, None) }
    else (coerce(v)._1, true, None)
  }

  def zero: SumAcc =
    SumAcc(seenAny = false, seenReal = false, overflow = false, 0L, 0.0)

  def reduce(acc: SumAcc, v: String): SumAcc =
    if (v == null) acc
    else {
      val (d, isReal, lOpt) = coerceFull(v)
      val real = acc.seenReal || isReal
      var overflow = acc.overflow
      val l =
        if (real || overflow) acc.l
        else lOpt match {
          case Some(x) =>
            try Math.addExact(acc.l, x)
            catch { case _: ArithmeticException => overflow = true; acc.l }
          case None => acc.l // unreachable: coerce sets isReal when lOpt is None
        }
      SumAcc(seenAny = true, real, overflow, l, acc.d + d)
    }

  def merge(a: SumAcc, b: SumAcc): SumAcc = {
    val real = a.seenReal || b.seenReal
    var overflow = a.overflow || b.overflow
    val l =
      if (real || overflow) 0L
      else try Math.addExact(a.l, b.l)
      catch { case _: ArithmeticException => overflow = true; 0L }
    SumAcc(a.seenAny || b.seenAny, real, overflow, l, a.d + b.d)
  }

  /** SQLite raises 'integer overflow' iff every input was an integer
    * (or NULL) and the int64 sum overflowed; any REAL input makes the
    * result an approximate REAL instead (verified against sqlite3;
    * total() below never errors). */
  def finish(acc: SumAcc): String =
    if (!acc.seenAny) null
    else if (acc.seenReal) Affinity.formatReal(acc.d)
    else if (acc.overflow) throw new ArithmeticException("integer overflow")
    else acc.l.toString

  def bufferEncoder: Encoder[SumAcc] = Encoders.product[SumAcc]
  def outputEncoder: Encoder[String] = Encoders.STRING
}

/** SQLite `total()`: like sum but always REAL, and 0.0 on empty. */
object SqliteTotal extends Aggregator[String, SumAcc, String] {
  def zero: SumAcc = SqliteSum.zero
  def reduce(acc: SumAcc, v: String): SumAcc = SqliteSum.reduce(acc, v)
  def merge(a: SumAcc, b: SumAcc): SumAcc = SqliteSum.merge(a, b)
  def finish(acc: SumAcc): String = Affinity.formatReal(acc.d)
  def bufferEncoder: Encoder[SumAcc] = Encoders.product[SumAcc]
  def outputEncoder: Encoder[String] = Encoders.STRING
}

/** Accumulator for [[SqliteAvg]]: non-NULL input count + coerced sum. */
final case class AvgAcc(n: Long, d: Double)

/** SQLite `avg()`: sum of the COERCED values (text → longest numeric
  * prefix, non-numeric → 0) over the count of non-NULL inputs; always
  * REAL; NULL over zero non-NULL inputs. Differs from Spark's avg,
  * which drops rows whose cast fails — sqlite3-pinned in CliSpec:
  * avg of {'10','x',NULL,'3.5'} is 4.5 ((10+0+3.5)/3), not 6.75. */
object SqliteAvg extends Aggregator[String, AvgAcc, String] {
  def zero: AvgAcc = AvgAcc(0L, 0.0)
  def reduce(acc: AvgAcc, v: String): AvgAcc =
    if (v == null) acc
    else AvgAcc(acc.n + 1, acc.d + SqliteSum.coerce(v)._1)
  def merge(a: AvgAcc, b: AvgAcc): AvgAcc = AvgAcc(a.n + b.n, a.d + b.d)
  def finish(acc: AvgAcc): String =
    if (acc.n == 0) null else Affinity.formatReal(acc.d / acc.n)
  def bufferEncoder: Encoder[AvgAcc] = Encoders.product[AvgAcc]
  def outputEncoder: Encoder[String] = Encoders.STRING
}
