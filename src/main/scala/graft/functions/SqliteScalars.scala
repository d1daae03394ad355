package graft.functions

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.AffinityValue
import graft.sources.Affinity

/** SQLite `typeof()` / `quote()` and helpers — script-dialect scalar
  * functions whose result depends on the STORAGE CLASS of the value,
  * which this engine tracks two ways: by Spark type for typed
  * expressions (literals, arithmetic) and by canonical-string
  * classification for affinity columns (whose values were converted
  * at load, matching what sqlite3 stores under the reference's
  * INTEGER column affinity). A plain string literal is 'text' even
  * when numeric-looking — only affinity columns classify by value —
  * exactly sqlite3's behavior (typeof('123') = text, but typeof(c)
  * of a column holding '123' = integer). CodegenFallback: these run
  * in scripts, never on the 100 TB pipeline hot path. */
object SqliteScalars {

  private[functions] def isAffinityChild(e: Expression): Boolean = e match {
    case a: AttributeReference =>
      a.dataType.isInstanceOf[StringType] &&
        a.metadata.contains(graft.plans.AffinityOrdering.AffinityKey)
    // a "TEXT" tag means TEXT affinity: every value is text storage,
    // so per-value dynamic classification must NOT apply
    case AffinityValue(_, aff) => aff != "TEXT"
    // a script-arithmetic result is a DYNAMIC numeric in canonical
    // text — its storage class is its value's (typeof(5+3)=integer)
    case _: SqliteArithExpr => true
    case _ => false
  }

  /** Storage class of a canonical affinity string. */
  private[functions] def classify(v: String): String = {
    val t = v.trim
    if (Affinity.IntRe.matches(t) &&
        (try { t.toLong; true } catch { case _: NumberFormatException => false }))
      "integer"
    else if (Affinity.NumRe.matches(t)) "real"
    else "text"
  }

  /** SQLite `unicode(x)`: code point of the first character; NULL on
    * empty input (static target for the StaticInvoke registration). */
  def unicode(s: UTF8String): java.lang.Integer = {
    val str = s.toString
    if (str.isEmpty) null else Integer.valueOf(str.codePointAt(0))
  }

  /** One `char()` argument: SQLite coerces it to INTEGER (prefix
    * rule) and emits the UNICODE codepoint — not Spark Chr's mod-256
    * extended ASCII (sqlite3: char(8364) = '€'). Invalid codepoints
    * yield the empty string. */
  def charCode(s: UTF8String): UTF8String = {
    val cp = SqliteCast.textToInteger(s)
    if (cp >= 0 && cp <= Character.MAX_CODE_POINT &&
        Character.isValidCodePoint(cp.toInt))
      UTF8String.fromString(new String(Character.toChars(cp.toInt)))
    else UTF8String.fromString("")
  }

  /** SQLite floor/ceil over a canonical text value: INTEGER-class
    * input stays INTEGER (sqlite3: floor(5) = 5, typeof integer),
    * REAL-class applies the function and stays REAL ('5.5' → '5.0'),
    * non-numeric text is NULL (sqlite3: floor('abc') = NULL). Working
    * in canonical text also sidesteps the int64 clamp a Long
    * round-trip would impose (floor(1e19) stays '1.0e+19'). */
  private def mathText(s: UTF8String, f: Double => Double): UTF8String = {
    val t = s.toString.trim
    classify(t) match {
      case "integer" => UTF8String.fromString(t)
      case "real" => UTF8String.fromString(Affinity.formatReal(f(t.toDouble)))
      case _ => null
    }
  }
  def floorText(s: UTF8String): UTF8String = mathText(s, math.floor)
  def ceilText(s: UTF8String): UTF8String = mathText(s, math.ceil)

  /** SQLite `abs()` over an affinity-column value (dynamic storage
    * class; sqlite3-pinned, round-7 fuzz): INTEGER stays INTEGER
    * (abs(-3) = 3), REAL stays REAL, TEXT-storage converts to REAL
    * via the longest numeric prefix (abs('x') = 0.0, abs('12abc') =
    * 12.0 — NOT NULL, unlike floor/ceil). */
  def absTextDyn(s: UTF8String): UTF8String = {
    val t = s.toString.trim
    classify(t) match {
      case "integer" =>
        val l = t.toLong
        if (l == Long.MinValue) // |MIN| overflows: sqlite goes REAL? no —
          // sqlite raises "integer overflow"; match that surface
          throw new IllegalArgumentException("integer overflow")
        UTF8String.fromString(String.valueOf(math.abs(l)))
      case "real" =>
        UTF8String.fromString(Affinity.formatReal(math.abs(t.toDouble)))
      case _ =>
        UTF8String.fromString(
          Affinity.formatReal(math.abs(SqliteCast.textToReal(s))))
    }
  }

  /** SQLite `abs()` over a PLAIN string expression (TEXT storage →
    * always the REAL conversion: abs('5') = 5.0, typeof real). */
  def absTextLit(s: UTF8String): UTF8String =
    UTF8String.fromString(
      Affinity.formatReal(math.abs(SqliteCast.textToReal(s))))
}

/** `dynamicClass` is decided by the REGISTRATION BUILDER while the
  * child is still the resolved attribute (by eval time children are
  * bound to ordinals, so structural inspection would always fail). */
case class SqliteTypeof(child: Expression, dynamicClass: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "typeof"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val cls =
      if (v == null) "null"
      else child.dataType match {
        case _: StringType =>
          if (dynamicClass)
            SqliteScalars.classify(v.asInstanceOf[UTF8String].toString)
          else "text"
        case LongType | IntegerType | ShortType | ByteType | BooleanType => "integer"
        case DoubleType | FloatType => "real"
        case d: DecimalType => if (d.scale == 0) "integer" else "real"
        case BinaryType => "blob"
        case NullType => "null"
        case _ => "text"
      }
    UTF8String.fromString(cls)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SqliteQuote(child: Expression, dynamicClass: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "quote"

  private def quoteText(s: String): String =
    "'" + s.replace("'", "''") + "'"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val out =
      if (v == null) "NULL"
      else child.dataType match {
        case _: StringType =>
          val s = v.asInstanceOf[UTF8String].toString
          if (dynamicClass && SqliteScalars.classify(s) != "text") s
          else quoteText(s)
        case LongType | IntegerType | ShortType | ByteType => v.toString
        case BooleanType => if (v.asInstanceOf[Boolean]) "1" else "0"
        case DoubleType => Affinity.formatReal(v.asInstanceOf[Double])
        case FloatType => Affinity.formatReal(v.asInstanceOf[Float].toDouble)
        case d: DecimalType => v.toString
        case BinaryType =>
          "X'" + v.asInstanceOf[Array[Byte]]
            .map("%02X".format(_)).mkString + "'"
        case _ => quoteText(v.toString)
      }
    UTF8String.fromString(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
