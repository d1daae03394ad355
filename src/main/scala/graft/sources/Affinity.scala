package graft.sources

import scala.util.matching.Regex

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}

/** SQLite type-affinity emulation (SURVEY.md §1.3/§7.4).
  *
  * sqawk declares every field column INTEGER unless `datatypes=`
  * overrides it, and SQLite affinity then converts each VALUE that
  * looks numeric to numeric storage — so `001` prints as `1`, and with
  * REAL affinity as `1.0`, while `c` stays text
  * (reference: lib/classes/table.tcl:49-66; tests.tcl:1066-1106).
  *
  * We keep columns as StringType carrying the canonicalized rendering,
  * which preserves mixed-type columns exactly while letting Spark's
  * implicit string↔numeric coercion handle numeric WHERE clauses.
  * [[canonicalize]] is the one statement of the rule: plans apply it
  * through [[canonicalExpr]], a static call of that same function.
  */
object Affinity {

  /** Column-metadata keys recording the DECLARED shape of a table
    * column — what `PRAGMA table_info` reports and what the DML layer
    * enforces. Set at table creation (ingest: RecordPipeline; scripts:
    * ScriptDdl's CREATE TABLE) and carried through view rebinds.
    *  - [[DeclKey]]: the declared type text, sqlite3-normalized (see
    *    [[declaredTypeText]]); "" for an untyped column.
    *  - [[PkKey]]: "rowid" for SQLite's `INTEGER PRIMARY KEY` rowid
    *    alias (autoassigns on NULL/omitted INSERT); for any other
    *    PRIMARY KEY member (uniqueness only, NULLs allowed) its 1-based
    *    position in the key, as text.
    *  - [[NotNullKey]]: present when declared NOT NULL. */
  val DeclKey = "graft.decl.type"
  val PkKey = "graft.decl.pk"
  val NotNullKey = "graft.decl.notnull"

  /** sqlite3 (pinned on 3.x) reports the five canonical type keywords
    * uppercased in `PRAGMA table_info` and everything else verbatim:
    * int→INT, TeXt→TEXT, blob→BLOB, real→REAL, Integer→INTEGER, while
    * varchar(20), int8, numeric, double precision, foo stay as
    * written. */
  def declaredTypeText(decl: String): String = {
    val t = decl.trim
    if (Set("int", "integer", "text", "blob", "real")(t.toLowerCase)) t.toUpperCase else t
  }

  /** SQLite's integer and numeric text, whole-string: the one
    * statement of "does this text hold a number" for the engine. */
  val IntRe: Regex = """[+-]?\d+""".r
  val NumRe: Regex = """[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?""".r

  /** Integer or real text once trimmed like `String.trim`
    * (`[\x00-\x20]`). */
  def isNumeric(value: String): Boolean = NumRe.matches(value.trim)

  def hasAffinity(declared: String): String = {
    // SQLite's affinity-from-type-name rules, §3.1 of its datatype doc.
    val t = declared.toUpperCase
    if (t == "NULL") "BLOB" // `a1 null` parses as a constraint, not a type → no-type column = BLOB
    else if (t.contains("INT")) "INTEGER"
    else if (t.contains("CHAR") || t.contains("CLOB") || t.contains("TEXT")) "TEXT"
    else if (t.contains("BLOB") || t.isEmpty) "BLOB"
    else if (t.contains("REAL") || t.contains("FLOA") || t.contains("DOUB")) "REAL"
    else "NUMERIC"
  }

  /** Canonicalize one value under a given affinity. Null-safe. */
  def canonicalize(value: String, affinity: String): String = {
    if (value == null) return null
    affinity match {
      case "TEXT" | "BLOB" => value
      case "REAL" =>
        if (isNumeric(value)) formatReal(value.trim.toDouble) else value
      case _ => // INTEGER | NUMERIC
        val t = value.trim
        if (IntRe.matches(t)) {
          try String.valueOf(t.toLong)
          catch { case _: NumberFormatException => formatReal(t.toDouble) }
        } else if (isNumeric(value)) {
          // SQLite stores REAL text as INTEGER when the conversion is
          // lossless ('2.0'→2, '1e2'→100; verified against sqlite3).
          val d = t.toDouble
          realToLosslessLong(d) match {
            case Some(l) => String.valueOf(l)
            case None => formatReal(d)
          }
        } else value
    }
  }

  /** [[canonicalize]] as a column: TEXT and BLOB keep the raw value,
    * every other affinity is one call of the `graft_canonical` kernel
    * (functions/Canonical), which whole-stage codegen calls directly. */
  def canonicalExpr(raw: Column, affinity: String): Column = affinity match {
    case "TEXT" | "BLOB" => raw
    case _ => call_function("graft_canonical", raw, lit(affinity))
  }

  /** The double, if it is integral and round-trips through int64. */
  private def realToLosslessLong(d: Double): Option[Long] =
    if (d == d.floor && !d.isInfinite &&
        d >= -9.223372036854776e18 && d <= 9.223372036854775e18) {
      val l = d.toLong
      if (l.toDouble == d) Some(l) else None
    } else None

  /** SQLite renders REAL storage with `%!.15g` — 15 significant
    * digits, trailing fraction zeros stripped, the decimal point
    * forced (`!`): 1 → "1.0", 0.5 → "0.5", 0.1+0.2 → "0.3" (NOT the
    * 17-digit shortest round-trip "0.30000000000000004"),
    * 2^63 as a REAL → "9.22337203685478e+18". Java's `%g` keeps the
    * trailing zeros C strips, hence the post-pass. (Until round 7
    * this rendered shortest-round-trip text, which diverged from
    * sqlite3 exactly when a double needs >15 digits.) */
  def formatReal(d: Double): String = {
    if (d.isInfinite) { if (d > 0) "Inf" else "-Inf" }
    else if (d != d) "NaN"
    else if (d == d.floor && math.abs(d) < 1e15) {
      val l = d.toLong
      s"$l.0"
    } else {
      // non-integral or >=1e15, so %.15g always emits a '.' here
      val s = String.format(java.util.Locale.ROOT, "%.15g", d)
      val i = s.indexOf('e')
      val (mant0, exp) = if (i < 0) (s, "") else (s.substring(0, i), s.substring(i))
      var end = mant0.length
      while (end > 0 && mant0.charAt(end - 1) == '0') end -= 1
      val mant = if (end > 0 && mant0.charAt(end - 1) == '.')
        mant0.substring(0, end) + "0" else mant0.substring(0, end)
      mant + exp
    }
  }
}
