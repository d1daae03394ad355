package graft.functions

import java.time.{LocalDate, LocalDateTime, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Affinity

/** SQLite date/time functions: `date`, `time`, `datetime`, `julianday`
  * and the `strftime` core, with the modifier list (SURVEY.md §2.2
  * "scalar: date"). Time values: ISO-8601 text (date, date+time,
  * bare time → 2000-01-01), julian day numbers, `'now'`. Modifiers,
  * applied left to right like sqlite3's date.c:
  * `±N days/hours/minutes/seconds/months/years` (months/years add the
  * integer part then fraction×30/×365 days, day overflow normalizes
  * through the calendar — Jan 31 +1 month = Mar 2/3, not a clamp),
  * `start of day/month/year`, `weekday N` (0=Sunday, no move if
  * already N), `unixepoch` (first modifier, reinterprets a numeric
  * time value as epoch seconds), `localtime`/`utc` (JVM default
  * zone). Invalid input returns SQL NULL like SQLite. Outputs pinned
  * against sqlite3 in CliSpec.
  *
  * Divergence, documented: `'now'` is evaluated per row, not frozen
  * per statement like SQLite's xCurrentTime — scripts that compare
  * sub-second `'now'` values across rows may see it move.
  */
object SqliteDate {

  private val SecondsPerDay = 86400.0
  /** Julian day of the Unix epoch 1970-01-01T00:00Z. */
  private val EpochJd = 2440587.5

  private def fromEpochSeconds(sec: Double): LocalDateTime =
    LocalDateTime.ofEpochSecond(
      math.floor(sec).toLong,
      math.round((sec - math.floor(sec)) * 1e9).toInt, ZoneOffset.UTC)

  /** Parse a SQLite time value: ISO text (date, date+time or bare
    * time), a julian day number, or 'now'. Returns UTC LocalDateTime. */
  def parse(v: String): Option[LocalDateTime] = {
    if (v == null) return None
    val t = v.trim
    try {
      if (Affinity.isNumeric(t)) {
        val jd = t.toDouble
        Some(fromEpochSeconds((jd - EpochJd) * SecondsPerDay))
      } else if (t.equalsIgnoreCase("now")) {
        Some(LocalDateTime.now(ZoneOffset.UTC))
      } else if (t.matches("\\d{4}-\\d{2}-\\d{2}")) {
        Some(LocalDate.parse(t).atStartOfDay)
      } else if (t.matches("\\d{4}-\\d{2}-\\d{2}[ T]\\d{2}:\\d{2}(:\\d{2}(\\.\\d+)?)?")) {
        val norm = t.replace(' ', 'T')
        val padded = if (norm.length == 16) norm + ":00" else norm
        Some(LocalDateTime.parse(padded))
      } else if (t.matches("\\d{2}:\\d{2}(:\\d{2}(\\.\\d+)?)?")) {
        // bare time → 2000-01-01 (sqlite3 date.c parseHhMmSs)
        val padded = if (t.length == 5) t + ":00" else t
        Some(LocalDate.of(2000, 1, 1).atTime(java.time.LocalTime.parse(padded)))
      } else None
    } catch { case _: Exception => None }
  }

  private val NumUnit =
    """([+-]?\d+(?:\.\d+)?)\s+(day|hour|minute|second|month|year)s?""".r
  private val StartOf = """start\s+of\s+(day|month|year)""".r
  private val Weekday = """weekday\s+([0-6])""".r

  /** Add months the way sqlite3's date.c does: adjust Y/M keeping D,
    * then normalize day overflow through the julian-day calendar. */
  private def addMonths(dt: LocalDateTime, n: Int): LocalDateTime = {
    val m0 = dt.getYear * 12 + (dt.getMonthValue - 1) + n
    val y = Math.floorDiv(m0, 12)
    val m = Math.floorMod(m0, 12) + 1
    LocalDate.of(y, m, 1).plusDays(dt.getDayOfMonth - 1L).atTime(dt.toLocalTime)
  }

  private def plusSeconds(dt: LocalDateTime, s: Double): LocalDateTime =
    dt.plusNanos(math.round(s * 1e9))

  private def applyModifier(dt: LocalDateTime, mod: String): Option[LocalDateTime] =
    mod match {
      case NumUnit(n, unit) =>
        val x = n.toDouble
        // month/year counts must stay Int-exact: Double→Int saturation
        // followed by Int wrap-around can otherwise land back INSIDE
        // the calendar and silently fabricate a date (second/hour
        // overflows throw from plusNanos and are caught by resolve;
        // the final julian-range filter there rejects the rest)
        if ((unit == "month" || unit == "year") && x.abs > 1.7e8) None
        else Some(unit match {
          case "day" => plusSeconds(dt, x * SecondsPerDay)
          case "hour" => plusSeconds(dt, x * 3600)
          case "minute" => plusSeconds(dt, x * 60)
          case "second" => plusSeconds(dt, x)
          case "month" =>
            plusSeconds(addMonths(dt, x.toInt), (x - x.toInt) * 30 * SecondsPerDay)
          case "year" =>
            plusSeconds(addMonths(dt, x.toInt * 12), (x - x.toInt) * 365 * SecondsPerDay)
        })
      case StartOf(what) =>
        Some(what match {
          case "day" => dt.toLocalDate.atStartOfDay
          case "month" => dt.toLocalDate.withDayOfMonth(1).atStartOfDay
          case "year" => dt.toLocalDate.withDayOfYear(1).atStartOfDay
        })
      case Weekday(n) =>
        // days until the next weekday n (0=Sunday); 0 if already there
        val cur = dt.getDayOfWeek.getValue % 7
        Some(dt.plusDays(Math.floorMod(n.toInt - cur, 7).toLong))
      case "localtime" =>
        Some(dt.atZone(ZoneOffset.UTC).withZoneSameInstant(ZoneId.systemDefault()).toLocalDateTime)
      case "utc" =>
        Some(dt.atZone(ZoneId.systemDefault()).withZoneSameInstant(ZoneOffset.UTC).toLocalDateTime)
      case _ => None
    }

  /** Resolve a time value + modifier list to a UTC LocalDateTime;
    * None (→ SQL NULL) on any invalid part. */
  def resolve(v: String, mods: Seq[String]): Option[LocalDateTime] = try {
    if (v == null || mods.exists(_ == null)) return None
    var rest = mods.map(_.trim.toLowerCase)
    val base: Option[LocalDateTime] =
      if (rest.headOption.contains("unixepoch")) {
        if (!Affinity.isNumeric(v)) None
        else { rest = rest.tail; Some(fromEpochSeconds(v.trim.toDouble)) }
      } else parse(v)
    rest.foldLeft(base)((acc, m) => acc.flatMap(applyModifier(_, m)))
      // sqlite3 validates the result against its julian-day range
      // (date.c: years -4713..9999) and yields NULL outside it
      .filter(dt => dt.getYear >= -4713 && dt.getYear <= 9999)
  } catch {
    // out-of-range epochs / modifier arithmetic overflow
    // (DateTimeException, saturated int math, …) are invalid input →
    // SQL NULL, like sqlite3 — never a query-aborting throw
    case _: Exception => None
  }

  private def fmt(v: UTF8String, mods: Seq[UTF8String], pattern: String): UTF8String =
    resolve(str(v), mods.map(str))
      .map(dt => UTF8String.fromString(dt.format(DateTimeFormatter.ofPattern(pattern))))
      .orNull

  private def str(u: UTF8String): String = if (u == null) null else u.toString

  // Per-arity overloads: StaticInvoke resolves by argument count, so
  // `date(x, '+1 day')` binds the 2-arg static and so on.
  def date(v: UTF8String): UTF8String = fmt(v, Nil, "yyyy-MM-dd")
  def date(v: UTF8String, m1: UTF8String): UTF8String = fmt(v, Seq(m1), "yyyy-MM-dd")
  def date(v: UTF8String, m1: UTF8String, m2: UTF8String): UTF8String =
    fmt(v, Seq(m1, m2), "yyyy-MM-dd")
  def date(v: UTF8String, m1: UTF8String, m2: UTF8String, m3: UTF8String): UTF8String =
    fmt(v, Seq(m1, m2, m3), "yyyy-MM-dd")

  def time(v: UTF8String): UTF8String = fmt(v, Nil, "HH:mm:ss")
  def time(v: UTF8String, m1: UTF8String): UTF8String = fmt(v, Seq(m1), "HH:mm:ss")
  def time(v: UTF8String, m1: UTF8String, m2: UTF8String): UTF8String =
    fmt(v, Seq(m1, m2), "HH:mm:ss")
  def time(v: UTF8String, m1: UTF8String, m2: UTF8String, m3: UTF8String): UTF8String =
    fmt(v, Seq(m1, m2, m3), "HH:mm:ss")

  def datetime(v: UTF8String): UTF8String = fmt(v, Nil, "yyyy-MM-dd HH:mm:ss")
  def datetime(v: UTF8String, m1: UTF8String): UTF8String =
    fmt(v, Seq(m1), "yyyy-MM-dd HH:mm:ss")
  def datetime(v: UTF8String, m1: UTF8String, m2: UTF8String): UTF8String =
    fmt(v, Seq(m1, m2), "yyyy-MM-dd HH:mm:ss")
  def datetime(v: UTF8String, m1: UTF8String, m2: UTF8String, m3: UTF8String): UTF8String =
    fmt(v, Seq(m1, m2, m3), "yyyy-MM-dd HH:mm:ss")

  private def jd(v: UTF8String, mods: Seq[UTF8String]): java.lang.Double =
    resolve(str(v), mods.map(str)).map { dt =>
      val sec = dt.toEpochSecond(ZoneOffset.UTC) + dt.getNano / 1e9
      Double.box(EpochJd + sec / SecondsPerDay)
    }.orNull

  def julianday(v: UTF8String): java.lang.Double = jd(v, Nil)
  def julianday(v: UTF8String, m1: UTF8String): java.lang.Double = jd(v, Seq(m1))
  def julianday(v: UTF8String, m1: UTF8String, m2: UTF8String): java.lang.Double =
    jd(v, Seq(m1, m2))
  def julianday(v: UTF8String, m1: UTF8String, m2: UTF8String, m3: UTF8String): java.lang.Double =
    jd(v, Seq(m1, m2, m3))

  /** SQLite strftime core substitutions (%%-escape honored). */
  def strftime(fmtSpec: UTF8String, v: UTF8String): UTF8String =
    strftimeImpl(fmtSpec, v, Nil)
  def strftime(fmtSpec: UTF8String, v: UTF8String, m1: UTF8String): UTF8String =
    strftimeImpl(fmtSpec, v, Seq(m1))
  def strftime(fmtSpec: UTF8String, v: UTF8String, m1: UTF8String, m2: UTF8String): UTF8String =
    strftimeImpl(fmtSpec, v, Seq(m1, m2))
  def strftime(
      fmtSpec: UTF8String, v: UTF8String, m1: UTF8String, m2: UTF8String,
      m3: UTF8String): UTF8String =
    strftimeImpl(fmtSpec, v, Seq(m1, m2, m3))

  private def strftimeImpl(
      fmtSpec: UTF8String, v: UTF8String, mods: Seq[UTF8String]): UTF8String = {
    val dtOpt = resolve(str(v), mods.map(str))
    if (fmtSpec == null || dtOpt.isEmpty) return null
    val dt = dtOpt.get
    val spec = fmtSpec.toString
    val sb = new StringBuilder
    var i = 0
    while (i < spec.length) {
      if (spec.charAt(i) == '%' && i + 1 < spec.length) {
        spec.charAt(i + 1) match {
          case 'Y' => sb.append(f"${dt.getYear}%04d")
          case 'm' => sb.append(f"${dt.getMonthValue}%02d")
          case 'd' => sb.append(f"${dt.getDayOfMonth}%02d")
          case 'H' => sb.append(f"${dt.getHour}%02d")
          case 'M' => sb.append(f"${dt.getMinute}%02d")
          case 'S' => sb.append(f"${dt.getSecond}%02d")
          case 'j' => sb.append(f"${dt.getDayOfYear}%03d")
          case 'w' => sb.append(dt.getDayOfWeek.getValue % 7) // Sunday=0
          case 's' => sb.append(dt.toEpochSecond(ZoneOffset.UTC))
          case 'J' =>
            val sec = dt.toEpochSecond(ZoneOffset.UTC) + dt.getNano / 1e9
            sb.append(EpochJd + sec / SecondsPerDay)
          case '%' => sb.append('%')
          case c => sb.append('%').append(c)
        }
        i += 2
      } else { sb.append(spec.charAt(i)); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }
}
