package graft.cli

/** SQLite's operator spellings of the pattern predicates — `A GLOB B`,
  * `A REGEXP B` and their `NOT` forms — rewritten into the registered
  * function calls Spark's parser accepts (`glob(B, A)`, `regexp(B, A)`
  * — pattern first, matching SQLite's glob()/regexp() argument order,
  * which is how SQLite itself defines the operators: `A GLOB B` is
  * shorthand for `glob(B, A)`, sqlite.org/lang_expr.html §5; the
  * reference forwards scripts to SQLite verbatim so these operators
  * are part of its accepted dialect, /root/reference/lib/classes/sqawk.tcl:216).
  *
  * The rewrite is token-aware: string literals, quoted identifiers and
  * comments are never touched, function-call spellings (`glob('p', x)`)
  * are left alone (distinguished by the token BEFORE the word — an
  * operand-ending token means operator usage), and operands may be
  * identifiers, dotted chains, literals, parenthesized expressions or
  * function calls. Purely driver-side string work on statements that
  * are a few KB at most — zero impact on the executed plan.
  */
object SqliteOperators {

  private[cli] case class Tok(kind: Char, start: Int, end: Int) // kind: 'w'ord,'s'tring,'q'uoted,'n'um,'p'unct,' 'ws
  private val Keywords = Set(
    "select", "from", "where", "and", "or", "not", "on", "join", "when",
    "then", "else", "case", "end", "by", "having", "like", "ilike", "in",
    "is", "as", "all", "distinct", "union", "intersect", "except", "limit",
    "offset", "order", "group", "set", "values", "between", "escape",
    "insert", "into", "update", "delete", "create", "table", "view")

  private[cli] def tokenize(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      val start = i
      if (c.isWhitespace) {
        while (i < n && s.charAt(i).isWhitespace) i += 1
        out += Tok(' ', start, i)
      } else if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-') {
        while (i < n && s.charAt(i) != '\n') i += 1
        out += Tok(' ', start, i)
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(s.charAt(i) == '*' && s.charAt(i + 1) == '/')) i += 1
        i = math.min(n, i + 2)
        out += Tok(' ', start, i)
      } else if (c == '\'' || c == '"' || c == '`') {
        i += 1
        var done = false
        while (i < n && !done) {
          if (s.charAt(i) == c) {
            if (i + 1 < n && s.charAt(i + 1) == c) i += 2 // doubled = escaped
            else { i += 1; done = true }
          } else i += 1
        }
        out += Tok(if (c == '\'') 's' else 'q', start, i)
      } else if (c == '[') { // SQLite bracket-quoted identifier
        while (i < n && s.charAt(i) != ']') i += 1
        i = math.min(n, i + 1)
        out += Tok('q', start, i)
      } else if (c.isLetter || c == '_') {
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' || s.charAt(i) == '$')) i += 1
        out += Tok('w', start, i)
      } else if (c.isDigit) {
        // an exponent's sign belongs to the number (1e+5, 2.5E-3);
        // hex literals have no exponent (0x1E+1 is 0x1E plus 1)
        def expSign(j: Int) = (s.charAt(j) == '+' || s.charAt(j) == '-') &&
          (s.charAt(j - 1) == 'e' || s.charAt(j - 1) == 'E') &&
          j + 1 < n && s.charAt(j + 1).isDigit && !s.regionMatches(true, start, "0x", 0, 2)
        while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '.' || expSign(i))) i += 1
        out += Tok('n', start, i)
      } else {
        i += 1
        out += Tok('p', start, i)
      }
    }
    out.result()
  }

  /** The text of an identifier or string token without its quotes:
    * `'…'`, `"…"` and `` `…` `` undouble their quote character, `[…]`
    * has no escape. Anything else comes back trimmed. */
  private[cli] def unquote(s: String): String = {
    val t = s.trim
    if (t.length < 2) t
    else if (t.head == '[' && t.last == ']') t.substring(1, t.length - 1)
    else if ("'\"`".indexOf(t.head) >= 0 && t.last == t.head)
      t.substring(1, t.length - 1).replace(s"${t.head}${t.head}", t.head.toString)
    else t
  }

  /** Script text lexed once by [[tokenize]], for the dialect helpers
    * that split or rewrite statement text: comments are whitespace,
    * quoted text is one opaque token, and `depth(i)` is the paren
    * depth before token `i`. */
  private[cli] final class Lexed(val s: String) {
    val toks: Vector[Tok] = tokenize(s)
    def n: Int = toks.length
    lazy val depth: Array[Int] = toks.scanLeft(0)((d, t) =>
      if (t.kind != 'p') d else s.charAt(t.start) match {
        case '(' => d + 1
        case ')' => d - 1
        case _ => d
      }).toArray
    def text(i: Int): String = s.substring(toks(i).start, toks(i).end)
    private def kind(i: Int): Char = if (i >= 0 && i < n) toks(i).kind else 0
    def is(i: Int, p: Char): Boolean = kind(i) == 'p' && s.charAt(toks(i).start) == p
    /** Lower-cased text of a word token, "" for any other token. */
    def word(i: Int): String = if (kind(i) == 'w') text(i).toLowerCase else ""
    def isName(i: Int): Boolean = kind(i) == 'w' || kind(i) == 'q'
    /** Index of the first non-whitespace token at or after `i` (`n` if none). */
    def sig(i: Int): Int = { var k = i; while (k < n && toks(k).kind == ' ') k += 1; k }
    /** Index of the last non-whitespace token (-1 if none). */
    def lastSig: Int = toks.lastIndexWhere(_.kind != ' ')
    /** The `)` matching the `(` at `open`, or -1. */
    def close(open: Int): Int =
      (open + 1 until n).find(j => is(j, ')') && depth(j) == depth(open) + 1).getOrElse(-1)
    /** Text of tokens [a, b), each comment rendered as one space. */
    def render(a: Int, b: Int): String = {
      val sb = new StringBuilder
      for (i <- a until b) {
        val t = toks(i)
        if (t.kind == ' ' && !s.charAt(t.start).isWhitespace) sb += ' '
        else sb ++= s.substring(t.start, t.end)
      }
      sb.toString
    }
    /** [[render]]ed text with each `[name]` spelled `` `name` ``, for
      * statement classification; a bracket glued to the operand before
      * it (`a[0]`, `f(x)[1]`) is a subscript and stays. */
    def classified: String = rewrite { i =>
      val glued = i > 0 && toks(i - 1).kind != ' ' && (toks(i - 1).kind != 'p' || is(i - 1, ')'))
      if (toks(i).kind != 'q' || s.charAt(toks(i).start) != '[' || glued) None
      else Some(("`" + unquote(text(i)).replace("`", "``") + "`", i + 1))
    }
    /** Re-render token by token; `at(i)` may replace the tokens from `i`
      * up to a returned end index with new text. */
    def rewrite(at: Int => Option[(String, Int)]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < n) at(i) match {
        case Some((rep, next)) => sb ++= rep; i = next
        case None => sb ++= render(i, i + 1); i += 1
      }
      sb.toString
    }
  }

  /** Rewrites every operator-form GLOB/REGEXP in `sql`; returns the
    * input unchanged when none occur. */
  def rewrite(sql: String): String = {
    val l = new Lexed(sql)
    val toks = l.toks
    def text(t: Tok) = sql.substring(t.start, t.end)
    def prevIdx(j: Int): Int = { var k = j - 1; while (k >= 0 && toks(k).kind == ' ') k -= 1; k }
    def nextIdx(j: Int): Int = { var k = j + 1; while (k < toks.length && toks(k).kind == ' ') k += 1; k }
    // SQLite's `EXPLAIN QUERY PLAN stmt` answers with Spark's
    // formatted plan (SQLite's own plan rows have no Spark twin)
    val e = l.sig(0)
    val q = l.sig(e + 1)
    val p = l.sig(q + 1)
    if (l.word(e) == "explain" && l.word(q) == "query" && l.word(p) == "plan")
      return rewrite(sql.substring(0, toks(q).start) + "FORMATTED" + sql.substring(toks(p).end))
    def isOperand(t: Tok): Boolean = t.kind match {
      case 'w' => !Keywords.contains(text(t).toLowerCase)
      case 's' | 'q' | 'n' => true
      case 'p' => text(t) == ")" || text(t) == "]"
      case _ => false
    }

    var j = 0
    while (j < toks.length) {
      val t = toks(j)
      if (t.kind == 'w') {
        val w = text(t).toLowerCase
        if (w == "collate") {
          // SQLite collation names → Spark 4 collations: NOCASE maps
          // to UTF8_LCASE (identical on ASCII, SQLite's NOCASE scope;
          // full-Unicode case folding beyond it), BINARY to
          // UTF8_BINARY, RTRIM to UTF8_BINARY_RTRIM (both ignore
          // trailing 0x20 spaces in comparison — Spark 4's trim
          // collation, sqlite3-pinned in CliSpec).
          val nj = nextIdx(j)
          if (nj < toks.length && toks(nj).kind == 'w') {
            val name = text(toks(nj)).toLowerCase
            val mapped = name match {
              case "nocase" => Some("UTF8_LCASE")
              case "binary" => Some("UTF8_BINARY")
              case "rtrim" => Some("UTF8_BINARY_RTRIM")
              case _ => None
            }
            mapped.foreach { m =>
              return rewrite(sql.substring(0, toks(nj).start) + m +
                sql.substring(toks(nj).end))
            }
          }
        }
        if (w == "cast") {
          // SQLite CAST semantics (prefix coercion, saturation —
          // functions/SqliteCastExprs.scala): CAST(e AS T) becomes
          // sqlite_cast_<affinity>((e)), with T classified by SQLite's
          // column-affinity name rules (lang_datatype.html §3.1):
          // *INT* → INTEGER; *CHAR*/*CLOB*/*TEXT*/*BLOB* → TEXT;
          // *REAL*/*FLOA*/*DOUB* → REAL; anything else → NUMERIC.
          val oj = nextIdx(j)
          if (oj < toks.length && toks(oj).kind == 'p' && text(toks(oj)) == "(") {
            // balanced scan; record the depth-1 AS and the close paren
            var depth = 0
            var k = oj
            var asIdx = -1
            var close = -1
            while (k < toks.length && close < 0) {
              val tx = toks(k)
              if (tx.kind == 'p' && text(tx) == "(") depth += 1
              else if (tx.kind == 'p' && text(tx) == ")") {
                depth -= 1
                if (depth == 0) close = k
              } else if (depth == 1 && tx.kind == 'w' &&
                  text(tx).toLowerCase == "as") asIdx = k
              k += 1
            }
            if (close > 0 && asIdx > 0) {
              val typeName = toks.slice(asIdx + 1, close)
                .filter(_.kind == 'w').map(text).mkString(" ").toUpperCase
              if (typeName.nonEmpty) {
                val aff =
                  if (typeName.contains("INT")) "integer"
                  else if (typeName.contains("CHAR") || typeName.contains("CLOB") ||
                    typeName.contains("TEXT") || typeName.contains("BLOB")) "text"
                  else if (typeName.contains("REAL") || typeName.contains("FLOA") ||
                    typeName.contains("DOUB")) "real"
                  else "numeric"
                val operand =
                  sql.substring(toks(oj).end, toks(asIdx).start).trim
                val rewritten = sql.substring(0, t.start) +
                  s"sqlite_cast_$aff(($operand))" + sql.substring(toks(close).end)
                return rewrite(rewritten)
              }
            }
          }
        }
        if (w == "like") {
          // SQLite's LIKE is case-INSENSITIVE by default for ASCII
          // (lang_expr.html §5; PRAGMA case_sensitive_like flips it)
          // while Spark's LIKE is case-sensitive — rewrite the
          // OPERATOR spelling to ILIKE (NOT and ESCAPE survive in
          // place). The function spelling like(P, S) is shadowed in
          // GraftFunctions instead. Divergence note: ILIKE folds full
          // Unicode where SQLite folds ASCII only.
          val pj0 = prevIdx(j)
          val isOperator = pj0 >= 0 && (isOperand(toks(pj0)) ||
            (toks(pj0).kind == 'w' && text(toks(pj0)).toLowerCase == "not" && {
              val before = prevIdx(pj0)
              before >= 0 && isOperand(toks(before))
            }))
          if (isOperator) {
            return rewrite(sql.substring(0, t.start) + "ilike" +
              sql.substring(t.end))
          }
        }
        if (w == "limit") {
          // SQLite: a negative LIMIT means "no limit"
          // (lang_select.html §10); Spark rejects negative limits, so
          // the clause is dropped (a following OFFSET survives).
          val nj = nextIdx(j)
          if (nj < toks.length && toks(nj).kind == 'p' && text(toks(nj)) == "-") {
            val nnj = nextIdx(nj)
            // only when the negative number IS the whole limit
            // expression — `LIMIT -1+2` is a valid positive SQLite
            // limit and must not be half-stripped
            val endj = if (nnj < toks.length) nextIdx(nnj) else toks.length
            val terminates = endj >= toks.length ||
              (toks(endj).kind == 'p' &&
                (text(toks(endj)) == ";" || text(toks(endj)) == ")")) ||
              (toks(endj).kind == 'w' &&
                text(toks(endj)).toLowerCase == "offset")
            if (nnj < toks.length && toks(nnj).kind == 'n' && terminates) {
              return rewrite(sql.substring(0, t.start) +
                sql.substring(toks(nnj).end))
            }
          }
        }
        if (w == "is") {
          // SQLite `A IS B` / `A IS NOT B` are null-safe comparisons
          // between arbitrary expressions (lang_expr.html §4) — Spark
          // spells them `<=>` and `IS DISTINCT FROM`. The NULL /
          // TRUE / FALSE / DISTINCT right-hand forms are shared
          // syntax both parsers accept and keep their meaning, so
          // they are left untouched.
          val shared = Set("null", "not", "true", "false", "distinct")
          // an operand may start with a unary sign: `1 IS -1` is
          // valid SQLite (→ 0)
          def startsOperand(k: Int): Boolean = k < toks.length && {
            val tk = toks(k)
            isOperand(tk) ||
              (tk.kind == 'p' && text(tk) == "(") ||
              (tk.kind == 'p' && (text(tk) == "-" || text(tk) == "+") && {
                val k2 = nextIdx(k)
                k2 < toks.length && (toks(k2).kind == 'n' || isOperand(toks(k2)))
              })
          }
          val nj = nextIdx(j)
          if (nj < toks.length) {
            val nw = if (toks(nj).kind == 'w') text(toks(nj)).toLowerCase else ""
            if (toks(nj).kind == 'w' && nw == "not") {
              val nnj = nextIdx(nj)
              val nnw =
                if (nnj < toks.length && toks(nnj).kind == 'w')
                  text(toks(nnj)).toLowerCase
                else ""
              if (!shared.contains(nnw) && startsOperand(nnj)) {
                return rewrite(sql.substring(0, t.start) + "IS DISTINCT FROM" +
                  sql.substring(toks(nj).end))
              }
            } else if (!shared.contains(nw) && startsOperand(nj)) {
              return rewrite(sql.substring(0, t.start) + "<=>" +
                sql.substring(t.end))
            }
          }
        }
        if (w == "glob" || w == "regexp") {
          var pj = prevIdx(j)
          val negated = pj >= 0 && toks(pj).kind == 'w' && text(toks(pj)).toLowerCase == "not"
          if (negated) pj = prevIdx(pj) // pj now ends the left operand
          if (pj >= 0 && isOperand(toks(pj))) {
            val lhsEnd = toks(pj).end
            val lo = leftOperandStart(toks, sql, pj)
            var rj = nextIdx(j)
            if (rj < toks.length) {
              val hi = rightOperandEnd(toks, sql, rj)
              val lhs = sql.substring(toks(lo).start, lhsEnd).trim
              val rhs = sql.substring(toks(rj).start, toks(hi).end).trim
              // `= 1` turns the 0/1 integer into the boolean Spark's
              // WHERE needs; the serializer prints booleans as 1/0, so
              // select-list usage still matches SQLite's integer
              // output (NULL propagates through both forms).
              val call = s"${if (negated) "NOT " else ""}($w($rhs, $lhs) = 1)"
              val rewritten = sql.substring(0, toks(lo).start) + call +
                sql.substring(toks(hi).end)
              return rewrite(rewritten) // restart on the shifted text
            }
          }
        }
      }
      j += 1
    }
    sql
  }

  // ---- operand extraction ------------------------------------------------

  /** Matching `(` index for the `)` at `close` (same-token scan back);
    * 0-floored on unbalanced input. */
  private def balancedBack(toks: Vector[Tok], sql: String, close: Int): Int = {
    def text(t: Tok) = sql.substring(t.start, t.end)
    var depth = 0
    var k = close
    while (k >= 0) {
      val tx = toks(k)
      if (tx.kind == 'p' && text(tx) == ")") depth += 1
      else if (tx.kind == 'p' && text(tx) == "(") {
        depth -= 1
        if (depth == 0) return k
      }
      k -= 1
    }
    0
  }

  /** Matching `)` index for the `(` at `open` (forward); capped at the
    * last token on unbalanced input. */
  private def balancedFwd(toks: Vector[Tok], sql: String, open: Int): Int = {
    def text(t: Tok) = sql.substring(t.start, t.end)
    var depth = 0
    var k = open
    while (k < toks.length) {
      val tx = toks(k)
      if (tx.kind == 'p' && text(tx) == "(") depth += 1
      else if (tx.kind == 'p' && text(tx) == ")") {
        depth -= 1
        if (depth == 0) return k
      }
      k += 1
    }
    toks.length - 1
  }

  /** SQLite operators binding TIGHTER than GLOB/REGEXP (lang_expr.html
    * §2): `||` and the arithmetic family. An operand of the pattern
    * operators extends over chains of these — `a1 || a2 GLOB 'fo*'`
    * parses as `(a1 || a2) GLOB 'fo*'`. */
  private def isTightOp(toks: Vector[Tok], sql: String, k: Int): Boolean = {
    def text(t: Tok) = sql.substring(t.start, t.end)
    k >= 0 && k < toks.length && toks(k).kind == 'p' &&
      ("*/%+-".contains(text(toks(k))) ||
        (text(toks(k)) == "|" && k + 1 < toks.length &&
          toks(k + 1).kind == 'p' && text(toks(k + 1)) == "|" &&
          toks(k).end == toks(k + 1).start) ||
        (text(toks(k)) == "|" && k >= 1 && toks(k - 1).kind == 'p' &&
          sql.substring(toks(k - 1).start, toks(k - 1).end) == "|" &&
          toks(k - 1).end == toks(k).start))
  }

  /** Start index of the left operand whose LAST token is `end`:
    * a primary (literal / dotted chain / call / parenthesized group),
    * extended back over tight-binding operator chains and a leading
    * unary sign. */
  private def leftOperandStart(toks: Vector[Tok], sql: String, end: Int): Int = {
    def text(t: Tok) = sql.substring(t.start, t.end)
    def prevIdx(j: Int): Int = { var k = j - 1; while (k >= 0 && toks(k).kind == ' ') k -= 1; k }
    def endsOperand(k: Int): Boolean = k >= 0 && (toks(k).kind match {
      case 'w' => !Keywords.contains(text(toks(k)).toLowerCase)
      case 's' | 'q' | 'n' => true
      case 'p' => text(toks(k)) == ")" || text(toks(k)) == "]"
      case _ => false
    })
    def primaryStart(pEnd: Int): Int = {
      var lo = pEnd
      if (toks(lo).kind == 'p' && text(toks(lo)) == ")") {
        lo = balancedBack(toks, sql, lo)
        val fn = prevIdx(lo)
        if (fn >= 0 && toks(fn).kind == 'w' &&
            !Keywords.contains(text(toks(fn)).toLowerCase)) lo = fn
      }
      // dotted chain: a.b / tbl."c"
      var p2 = prevIdx(lo)
      while (p2 >= 1 && toks(p2).kind == 'p' && text(toks(p2)) == "." && {
          val p3 = prevIdx(p2)
          p3 >= 0 && (toks(p3).kind == 'w' || toks(p3).kind == 'q')
        }) {
        lo = prevIdx(p2)
        p2 = prevIdx(lo)
      }
      lo
    }
    var lo = primaryStart(end)
    // tight-operator chains: keep absorbing `<primary> <op>` on the left
    var continue = true
    while (continue) {
      continue = false
      var opIdx = prevIdx(lo)
      // '||' spans two tokens; land on its first '|'
      if (opIdx >= 1 && toks(opIdx).kind == 'p' && text(toks(opIdx)) == "|" &&
          toks(opIdx - 1).kind == 'p' && text(toks(opIdx - 1)) == "|" &&
          toks(opIdx - 1).end == toks(opIdx).start) opIdx -= 1
      if (isTightOp(toks, sql, opIdx)) {
        val before = prevIdx(opIdx)
        if (endsOperand(before)) { // binary, not unary sign
          lo = primaryStart(before)
          continue = true
        }
      }
    }
    // leading unary sign: `-a1 GLOB 'x'` is (-a1) GLOB 'x'
    val sign = prevIdx(lo)
    if (sign >= 0 && toks(sign).kind == 'p' &&
        (text(toks(sign)) == "-" || text(toks(sign)) == "+") &&
        !endsOperand(prevIdx(sign))) lo = sign
    lo
  }

  /** End index of the right operand whose FIRST token is `start`:
    * an optionally-signed primary, extended forward over
    * tight-binding operator chains. */
  private def rightOperandEnd(toks: Vector[Tok], sql: String, start: Int): Int = {
    def text(t: Tok) = sql.substring(t.start, t.end)
    def nextIdx(j: Int): Int = { var k = j + 1; while (k < toks.length && toks(k).kind == ' ') k += 1; k }
    def primaryEnd(pStart: Int): Int = {
      var hi = pStart
      // unary sign
      if (toks(hi).kind == 'p' &&
          (text(toks(hi)) == "-" || text(toks(hi)) == "+")) hi = nextIdx(hi)
      if (hi >= toks.length) return toks.length - 1
      if (toks(hi).kind == 'w' || toks(hi).kind == 'q') {
        val nx = nextIdx(hi)
        if (nx < toks.length && toks(nx).kind == 'p' && text(toks(nx)) == "(")
          hi = balancedFwd(toks, sql, nx)
      } else if (toks(hi).kind == 'p' && text(toks(hi)) == "(") {
        hi = balancedFwd(toks, sql, hi)
      }
      hi
    }
    var hi = primaryEnd(start)
    var continue = true
    while (continue) {
      continue = false
      val opIdx = nextIdx(hi)
      if (isTightOp(toks, sql, opIdx)) {
        // land past a two-token '||'
        val opEnd =
          if (text(toks(opIdx)) == "|" && opIdx + 1 < toks.length &&
              toks(opIdx + 1).kind == 'p' && text(toks(opIdx + 1)) == "|" &&
              toks(opIdx).end == toks(opIdx + 1).start) opIdx + 1
          else opIdx
        val after = nextIdx(opEnd)
        if (after < toks.length) {
          hi = primaryEnd(after)
          continue = true
        }
      }
    }
    hi
  }
}
