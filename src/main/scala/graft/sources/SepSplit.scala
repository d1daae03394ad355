package graft.sources

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

/** Record/field splitting with sqawk's exact semantics
  * (reference: lib/parsers/awk.tcl:19-71).
  *
  * All functions are pure and run inside executor tasks — no driver
  * state, so they distribute trivially.
  */
object SepSplit {

  /** Reject separator regexes that match the empty string (they would
    * loop forever in the reference; reference: awk.tcl:27-29,161-167). */
  def validateSeparator(regex: String, what: String): Unit = {
    if (regex.nonEmpty && Pattern.compile(regex).matcher("").find())
      throw new IllegalArgumentException(
        s"splitting on $what regexp $regex would cause infinite loop")
  }

  /** Split `str` into fields on matches of `regex`.
    *
    * `includeSeparators = true` returns fields and separators
    * interleaved `[f0, s0, f1, s1, …]`; a string ending on a separator
    * ends the list with that separator (no trailing empty field).
    * `includeSeparators = false` returns fields only, and a string
    * ending on a separator DOES yield a trailing empty field —
    * mirroring the reference's two call sites (awk.tcl:44-56).
    *
    * Empty input → no fields. Empty regex → one field per character.
    */
  def sepsplit(str: String, regex: String, includeSeparators: Boolean): Vector[String] =
    if (str.isEmpty) Vector.empty
    else sepsplit(str, Pattern.compile(regex), includeSeparators)

  /** [[sepsplit]] over a compiled separator: a reader compiles FS once
    * per partition, not once per record. */
  def sepsplit(str: String, sep: Pattern, includeSeparators: Boolean): Vector[String] = {
    if (str.isEmpty) return Vector.empty
    if (sep.pattern.isEmpty) return str.map(_.toString).toVector
    val out = ArrayBuffer.empty[String]
    val m = sep.matcher(str)
    var offset = 0
    while (m.find(offset)) {
      out += str.substring(offset, m.start)
      if (includeSeparators) out += str.substring(m.start, m.end)
      offset = m.end
    }
    if (offset >= str.length) {
      if (!includeSeparators) out += ""
    } else {
      out += str.substring(offset)
      if (includeSeparators) out += ""
    }
    out.toVector
  }

  /** `trim=left|right|both|none` applied to the record before field
    * splitting (reference: awk.tcl:62-71). */
  def trimRecord(record: String, mode: String): String = mode match {
    case "both" => record.trim
    case "left" => record.dropWhile(Character.isWhitespace)
    case "right" => record.reverse.dropWhile(Character.isWhitespace).reverse
    case "none" => record
    case other => throw new IllegalArgumentException(s"unknown mode: $other")
  }

  /** Split a whole text into records on RS matches. A trailing
    * separator produces NO final empty record; interior empty records
    * are kept (reference: awk.tcl:183-192; tests.tcl:1002-1040). */
  def splitRecords(text: String, rsRegex: String): Vector[String] =
    splitRecords(text, Pattern.compile(rsRegex))

  /** [[splitRecords]] over a compiled RS. */
  def splitRecords(text: String, rs: Pattern): Vector[String] = {
    val out = ArrayBuffer.empty[String]
    val m = rs.matcher(text)
    var offset = 0
    while (m.find(offset)) {
      out += text.substring(offset, m.start)
      offset = m.end
    }
    if (offset < text.length) out += text.substring(offset)
    out.toVector
  }
}
