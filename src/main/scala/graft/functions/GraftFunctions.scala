package graft.functions

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, InheritAnalysisRules,
  Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType,
  StringType}

/** Compatibility scalar functions the reference registers into SQLite
  * (reference: sqawk-dev.tcl:199-215, behavior pinned by
  * tests.tcl:1108-1156), re-expressed for Spark SQL.
  *
  * All functions are registered as Catalyst builders producing
  * [[StaticInvoke]] calls into [[TclExprs]]' static entry points —
  * direct calls inside whole-stage codegen with no per-row UDF encoder
  * round trip; the variadic ones (`lindex`/`dict get`/`regsub`) pick
  * the per-arity overload at analysis time. All are deterministic
  * (the reference registers them `-deterministic` too), so Catalyst
  * may factor/common-subexpression them freely.
  */
object GraftFunctions {

  /** Tcl `regexp RE STRING` → 1 if RE matches anywhere, else 0.
    * The pattern is Tcl ARE syntax, bridged by [[TclRegex]]. */
  def tclRegexp(re: String, s: String): Int =
    if (re == null || s == null) 0
    else if (TclRegex.compile(re).matcher(s).find()) 1 else 0

  /** Convert a Tcl regsub replacement spec to a Java one:
    * `&` → whole match, `\N` → group N; `$` and stray `\` escaped. */
  private def tclSubSpecToJava(spec: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < spec.length) {
      spec.charAt(i) match {
        case '&' => sb.append("$0"); i += 1
        case '\\' if i + 1 < spec.length =>
          val c = spec.charAt(i + 1)
          if (c.isDigit) sb.append('$').append(c)
          else if (c == '&') sb.append('&')
          else sb.append(Matcher.quoteReplacement(c.toString))
          i += 2
        case '$' => sb.append("\\$"); i += 1
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** Tcl `regsub ?-all? RE STRING SUBSPEC` → substituted string.
    * Default replaces the FIRST match only (unlike Spark's always-all
    * `regexp_replace`), `-all` replaces every match. */
  def tclRegsub(all: Boolean, re: String, s: String, spec: String): String =
    if (re == null || s == null || spec == null) null
    else {
      val m = TclRegex.compile(re).matcher(s)
      val j = tclSubSpecToJava(spec)
      if (all) m.replaceAll(j) else m.replaceFirst(j)
    }

  /** Compiled glob patterns, keyed by the raw glob text (a distinct
    * namespace from TclRegex's ARE cache). Bounded like TclRegex's. */
  private val globCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pattern]()

  /** SQLite `glob(PATTERN, STRING)` → 0/1; `*`, `?`, `[...]` wildcards,
    * case-sensitive (unlike LIKE). */
  def sqliteGlob(pattern: String, s: String): Int = {
    if (pattern == null || s == null) return 0
    val cached = globCache.get(pattern)
    if (cached != null) return if (cached.matcher(s).matches()) 1 else 0
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val close = pattern.indexOf(']', i + 2) // "[]" literal ] first
          if (close < 0) { sb.append("\\["); }
          else {
            var cls = pattern.substring(i + 1, close)
            if (cls.startsWith("^")) cls = "\\^" + cls.drop(1)
            if (cls.startsWith("!")) cls = "^" + cls.drop(1)
            sb.append('[').append(cls).append(']')
            i = close
          }
        case c if "\\.^$|+(){}".indexOf(c.toInt) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    val p = Pattern.compile("^" + sb.toString + "$", Pattern.DOTALL)
    if (globCache.size >= 10000) globCache.clear()
    globCache.put(pattern, p)
    if (p.matcher(s).matches()) 1 else 0
  }

  /** The optimizer rules, in the order they must run:
    *  - AffinityOrdering: SQLite cross-type ordering for affinity
    *    columns;
    *  - GlobalRankRewrite: single-row_number empty-partition windows
    *    range-partition instead of collapsing into one task (after
    *    AffinityOrdering, so the storage-class key rewrite lands in the
    *    rank's order first);
    *  - SortKeyMaterialization: expensive (regex-bearing) sort keys
    *    evaluate once per row in a projection below the Sort/GlobalRank
    *    instead of inside the sort comparator (last, after both
    *    rewrites above have produced the final sort keys). */
  private val rules = Seq(graft.plans.AffinityOrdering,
    graft.plans.GlobalRankRewrite, graft.plans.SortKeyMaterialization)

  /** Install every graft function, optimizer rule and planner strategy
    * on the session. [[graft.cli.GraftSession.build]] calls it for the
    * sessions it builds, [[graft.SparkEntry.queries]] for sessions built
    * elsewhere. The rules go in last, so a session that has them has
    * everything and returns at once. */
  def register(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (rules.forall(exp.extraOptimizations.contains) &&
        exp.extraStrategies.contains(graft.plans.GlobalRankStrategy)) return
    // Compat functions and kernels alike are static methods called
    // through StaticInvoke: direct calls inside whole-stage codegen,
    // no ScalaUDF encoder/boxing round trip per row. The variadic ones
    // (lindex/dict get/regsub) are per-arity overloads (regsub: 3-arg
    // = first-match, 4-arg with leading "-all" = global; Tcl switch
    // semantics, tests.tcl:1126-1132).
    registerStatic(spark, "regexp", 2 to 2, IntegerType, "TclExprs.regexp")
    registerStatic(spark, "glob", 2 to 2, IntegerType, "TclExprs.glob")
    registerStatic(spark, "llength", 1 to 1, IntegerType, "TclExprs.llength")
    registerStatic(spark, "lrange", 3 to 3, StringType, "TclExprs.lrange")
    registerStatic(spark, "lindex", 2 to 4, StringType, "TclExprs.lindex")
    registerStatic(spark, "dict_get", 2 to 4, StringType, "TclExprs.dict_get")
    registerStatic(spark, "dict_exists", 2 to 4, IntegerType, "TclExprs.dict_exists")
    registerStatic(spark, "regsub", 3 to 4, StringType, "TclExprs.regsub")
    registerStatic(spark, "graft_fold_accents", 1 to 1, StringType,
      "TextNorm.graft_fold_accents")
    spark.udf.register("sqlite_version", () => "3.45.0")

    // SQLite CAST semantics (prefix coercion, saturation, SQLite real
    // rendering) — targets of the CAST(expr AS type) rewrite in
    // cli/SqliteOperators; custom unary expressions that dispatch on
    // the child type at codegen time (SqliteCastExprs.scala).
    registerUnary(spark, "sqlite_cast_integer", SqliteCastInteger)
    registerUnary(spark, "sqlite_cast_real", SqliteCastReal)
    registerUnary(spark, "sqlite_cast_text", SqliteCastText)
    registerUnary(spark, "sqlite_cast_numeric", SqliteCastNumeric)

    // Beyond-reference kernels, exposed to scripts too. A null input
    // is a null result; only graft_dot can also return null itself.
    registerStatic(spark, "graft_md5longs", 1 to 1, Md5Longs.outType, "Md5Longs.pack",
      Seq(StringType), returnNullable = false)
    registerStatic(spark, "graft_md5min8", 1 to 1, StringType, "Md5Min8.minHash",
      Seq(StringType), returnNullable = false)
    registerStatic(spark, "graft_rollhash_min", 1 to 1, LongType, "RollingHashMin.minHash",
      Seq(StringType), returnNullable = false)
    registerStatic(spark, "graft_dot", 2 to 2, DoubleType, "DotProduct.dot",
      Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
    registerStatic(spark, "graft_kmr_emit", 3 to 3, KmrEmit.outType, "KmrEmit.emit",
      Seq(ArrayType(StringType), IntegerType, IntegerType), returnNullable = false)
    registerStatic(spark, "graft_canonical", 2 to 2, StringType, "Canonical.canonical",
      Seq(StringType, StringType), returnNullable = false)
    registerStatic(spark, "graft_unique_key", 1 to 1, StringType, "Canonical.uniqueKey",
      Seq(StringType), returnNullable = false)

    // Marker builder for AffinityValue (a custom expression cannot be
    // built through the public Column API; the registry can). Ingested
    // and script-DDL tables wrap their affinity columns in it so
    // affinity provenance survives projection collapse. IDEMPOTENT:
    // every DML rebind re-applies the marker to the column it rebinds,
    // so a long script used to stack wrappers one level per statement —
    // and each comparison/sort key rewrite then multiplied the
    // ever-deeper operand into its 6 key slots, growing expression
    // trees exponentially with script length (round-10 fuzz seed
    // 2665 OOMed a 4 GB heap on a 6-row table). A re-wrap now
    // collapses to depth 1, keeping the NEWEST affinity.
    put(spark, "graft_affinity_value",
      { children =>
        val aff = children(1) match {
          case Literal(s, _) => s.toString
          case other => other.eval(null).toString
        }
        children.head match {
          case av: graft.plans.AffinityValue =>
            if (av.affinity == aff) av else graft.plans.AffinityValue(av.child, aff)
          case c => graft.plans.AffinityValue(c, aff)
        }
      })

    exp.extraOptimizations = exp.extraOptimizations.filterNot(rules.contains) ++ rules
    exp.extraStrategies =
      exp.extraStrategies.filterNot(_ == graft.plans.GlobalRankStrategy) :+
        graft.plans.GlobalRankStrategy
  }

  private def registerUnary(
      spark: SparkSession, name: String, f: Expression => Expression): Unit = {
    val builder: Seq[Expression] => Expression = { children =>
      if (children.length != 1)
        throw new IllegalArgumentException(s"$name expects 1 argument")
      f(children.head)
    }
    put(spark, name, builder)
  }

  /** Run `body` with the SQLite script dialect's built-in shadows —
    * `sum`/`total` aggregates and the `date`/`time`/`datetime`/
    * `julianday`/`strftime` family — restoring the originals after.
    * The shadows must be scoped to SCRIPT execution only: in this
    * Spark version even the DataFrame API's `functions.sum` resolves
    * by name through the session registry, so a session-global shadow
    * would silently change every library query in the session. */
  def withSqliteAggregates[T](spark: SparkSession)(body: => T): T = {
    val registry = spark.sessionState.functionRegistry
    val names = Seq("sum", "total", "date", "time", "datetime", "julianday",
      "strftime", "random", "min", "max", "typeof", "quote", "unicode",
      "ltrim", "rtrim", "trim", "likely", "unlikely", "likelihood", "avg",
      "group_concat", "iif", "printf", "format", "char", "sign", "floor",
      "ceil", "ceiling", "mod", "like", "abs")
    val saved = names.map(n => FunctionIdentifier(n)).map(id =>
      (id, registry.lookupFunction(id), registry.lookupFunctionBuilder(id)))
    // SQLite's min/max are BOTH the aggregate (1 arg) and a scalar
    // cross-type comparison (>= 2 args: the winning ORIGINAL value by
    // storage-class ordering, NULL if any argument is NULL —
    // sqlite3-pinned in CliSpec). Spark's least/greatest would coerce
    // mixed operands to one type (changing the rendered value) and
    // skip NULLs, so the scalar form compares by the affinity
    // sort key over string-cast operands and returns the winner
    // verbatim.
    put(spark, "min", scalarOrAggMinMax(isMin = true))
    put(spark, "max", scalarOrAggMinMax(isMin = false))
    // typeof/quote report SQLite storage classes (affinity columns
    // classify by canonical value, typed expressions by Spark type);
    // unicode() is first-codepoint-or-NULL; the two-argument
    // ltrim/rtrim/trim shadows fix a SILENT argument swap — Spark's
    // SQL surface is (trimStr, srcStr) where SQLite's is (srcStr,
    // trimChars), so an unshadowed sqawk script would trim the wrong
    // string; likely/unlikely/likelihood are SQLite planner hints,
    // identity here. All sqlite3-pinned in CliSpec.
    put(spark, "typeof",
      { children => SqliteTypeof(children.head,
          SqliteScalars.isAffinityChild(children.head)) })
    put(spark, "quote",
      { children => SqliteQuote(children.head,
          SqliteScalars.isAffinityChild(children.head)) })
    registerStatic(spark, "unicode", 1 to 1, IntegerType, "SqliteScalars.unicode")
    def trimBuilder(mk: (Expression, Option[Expression]) => Expression)
        : Seq[Expression] => Expression = {
      case Seq(s) => mk(s, None)
      case Seq(s, chars) => mk(s, Some(chars))
      case other => throw new IllegalArgumentException(
        s"trim expects 1 or 2 arguments, got ${other.length}")
    }
    put(spark, "ltrim",
      trimBuilder((s, c) => org.apache.spark.sql.catalyst.expressions.StringTrimLeft(s, c)))
    put(spark, "rtrim",
      trimBuilder((s, c) => org.apache.spark.sql.catalyst.expressions.StringTrimRight(s, c)))
    put(spark, "trim",
      trimBuilder((s, c) => org.apache.spark.sql.catalyst.expressions.StringTrim(s, c)))
    Seq("likely", "unlikely", "likelihood").foreach(n => put(spark, n, _.head))
    // SQLite group_concat(x[, sep]) → Spark 4's ListAgg aggregate;
    // values render SQLite-style via the text cast, NULLs are skipped
    // by both engines, DISTINCT comes from the generic wrap. Ordering
    // is unspecified in BOTH dialects (SQLite docs say so explicitly).
    put(spark, "group_concat", {
      case Seq(c) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.ListAgg(
          SqliteCastText(c), org.apache.spark.sql.catalyst.expressions.Literal(","))
      case Seq(c, sep) => // sep coerces to text too (sqlite3: sep 5 → 'a5b')
        org.apache.spark.sql.catalyst.expressions.aggregate.ListAgg(
          SqliteCastText(c), SqliteCastText(sep))
      case other => throw new IllegalArgumentException(
        s"group_concat expects 1 or 2 arguments, got ${other.length}")
    })
    // Remaining SQLite core-function surface (battery-probed against
    // sqlite3):
    //  - iif: SQLite's conditional → If (branch types coerce);
    //  - printf / its alias format: Spark's FormatString throws when a
    //    DECIMAL-typed literal meets %f, so decimal args pre-cast to
    //    double (children are resolved here — same guarantee the
    //    min/max builder relies on);
    //  - char(c1, c2, ...): variadic codepoints → concat of chr();
    //  - sign returns INTEGER in SQLite (Spark: double), and the math
    //    functions floor/ceil/mod always return REAL in SQLite
    //    (Spark: integral) — shadowed with the SQLite result types so
    //    rendering matches sqlite3 output.
    locally {
      import org.apache.spark.sql.catalyst.expressions._
      def arity(name: String, n: Int)(children: Seq[Expression]): Seq[Expression] = {
        if (children.length != n) throw new IllegalArgumentException(
          s"wrong number of arguments to function $name()")
        children
      }
      // iif applies SQLite truthiness to non-boolean conditions
      // (numeric coercion, nonzero = true: iif(1,..), iif('5abc',..)
      // take the THEN branch; NULL and 'abc' the ELSE branch).
      put(spark, "iif", { children0 =>
        val Seq(c, t, f) = arity("iif", 3)(children0)
        val pred = c.dataType match {
          case org.apache.spark.sql.types.BooleanType => c
          case _ => Not(EqualTo(SqliteCastReal(c), Literal(0.0)))
        }
        If(pred, t, f)
      })
      // SQLite printf semantics live in SqlitePrintf (per-directive
      // coercion, C-style %g, %q/%Q/%w); args pass as canonical text.
      val printfClass = Class.forName("graft.functions.SqlitePrintf")
      val printfBuilder: Seq[Expression] => Expression = { children =>
        if (children.isEmpty || children.length > 9)
          throw new IllegalArgumentException(
            "wrong number of arguments to function printf()")
        val args = Cast(children.head, StringType) +:
          children.tail.map(a => SqliteCastText(a): Expression)
        StaticInvoke(
          staticObject = printfClass,
          dataType = StringType,
          functionName = s"printf${children.length}",
          arguments = args,
          inputTypes = Seq.fill(args.length)(StringType),
          propagateNull = false, // NULL args render as 0 / '' / NULL-literal
          returnNullable = true)
      }
      put(spark, "printf", printfBuilder)
      put(spark, "format", printfBuilder)
      // char(): Unicode codepoints (sqlite3: char(8364) = '€'), zero
      // arguments give the empty string.
      val scalarsClass = Class.forName("graft.functions.SqliteScalars")
      def scalarsInvoke(method: String, a: Expression): Expression =
        StaticInvoke(
          staticObject = scalarsClass,
          dataType = StringType,
          functionName = method,
          arguments = Seq(SqliteCastText(a)),
          inputTypes = Seq(StringType),
          propagateNull = true,
          returnNullable = true)
      put(spark, "char", { children =>
        if (children.isEmpty) Literal("")
        else children.map(c => scalarsInvoke("charCode", c))
          .reduceLeft((a, b) => Concat(Seq(a, b)))
      })
      put(spark, "sign", { children0 =>
        val Seq(c) = arity("sign", 1)(children0)
        Cast(Signum(Cast(c, DoubleType)), org.apache.spark.sql.types.LongType)
      })
      // floor/ceil keep SQLite's result classes by working over the
      // canonical text value (INTEGER stays INTEGER, REAL stays REAL,
      // non-numeric text is NULL, no int64 clamp on huge doubles).
      put(spark, "floor", { children0 =>
        scalarsInvoke("floorText", arity("floor", 1)(children0).head)
      })
      val ceilB: Seq[Expression] => Expression = { children0 =>
        scalarsInvoke("ceilText", arity("ceil", 1)(children0).head)
      }
      put(spark, "ceil", ceilB)
      put(spark, "ceiling", ceilB)
      put(spark, "mod", { children0 =>
        val Seq(a, b) = arity("mod", 2)(children0)
        Remainder(Cast(a, DoubleType), Cast(b, DoubleType))
      })
      // SQLite abs(): dynamic storage class for affinity/arithmetic
      // children (INTEGER stays INTEGER, TEXT storage → REAL via
      // numeric prefix, abs('x') = 0.0 — sqlite3-pinned, round-7
      // fuzz); Spark's Abs already preserves the class for operands
      // that are numeric-TYPED (literals, julianday() results).
      put(spark, "abs", { children0 =>
        val Seq(c) = arity("abs", 1)(children0)
        if (c.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
          scalarsInvoke(
            if (SqliteScalars.isAffinityChild(c)) "absTextDyn" else "absTextLit",
            c)
        else Abs(c, failOnError = false)
      })
      // SQLite's like(PATTERN, STRING[, ESCAPE]) function — case-
      // insensitive like the operator (the operator spelling rewrites
      // to ILIKE in cli/SqliteOperators).
      put(spark, "like", { children =>
        children match {
          case Seq(p, str) => ILike(str, p, '\\')
          case Seq(p, str, esc) =>
            val e = esc match {
              case Literal(u: org.apache.spark.unsafe.types.UTF8String, _)
                  if u.numChars() == 1 => u.toString.charAt(0)
              case _ => throw new IllegalArgumentException(
                "ESCAPE expression must be a single character")
            }
            ILike(str, p, e)
          case other => throw new IllegalArgumentException(
            "wrong number of arguments to function like()")
        }
      })
    }
    Seq("sum", "total", "avg", "random").map(FunctionIdentifier(_)).foreach(registry.dropFunction)
    spark.udf.register("sum", org.apache.spark.sql.functions.udaf(SqliteSum))
    spark.udf.register("total", org.apache.spark.sql.functions.udaf(SqliteTotal))
    spark.udf.register("avg", org.apache.spark.sql.functions.udaf(SqliteAvg))
    // SQLite date/time family: time-value forms (ISO text, julian
    // day, 'now') plus up to three modifiers, NULL on invalid input
    // like SQLite. Arity overloads on SqliteDate resolve per call.
    registerStatic(spark, "date", 1 to 4, StringType, "SqliteDate.date")
    registerStatic(spark, "time", 1 to 4, StringType, "SqliteDate.time")
    registerStatic(spark, "datetime", 1 to 4, StringType, "SqliteDate.datetime")
    registerStatic(spark, "julianday", 1 to 4, DoubleType, "SqliteDate.julianday")
    registerStatic(spark, "strftime", 2 to 5, StringType, "SqliteDate.strftime")
    // SQLite random() returns a signed int64 (Spark's alias of rand()
    // returns a double in [0,1)).
    spark.udf.register("random",
      org.apache.spark.sql.functions.udf(() => scala.util.Random.nextLong())
        .asNondeterministic())
    try body
    finally saved.foreach { case (id, info, builder) =>
      registry.dropFunction(id)
      for (i <- info; b <- builder) registry.registerFunction(id, i, b)
    }
  }

  /** SQLite min/max: aggregate at arity 1, scalar cross-type compare
    * at arity >= 2 (see the registration comment). Each operand's
    * storage class comes from its PROVENANCE, decided here while the
    * children are resolved (ResolveFunctions guarantees that): an
    * affinity column classifies per value via the cross-type sort
    * key, a numeric-typed expression is the numeric class, and a
    * plain string expression/literal is TEXT even when it looks
    * numeric — sqlite3: max('2', 10) is '2', because a TEXT value
    * sorts above every number. Winners render via SqliteCastText so
    * doubles print SQLite-style ('1.0e+20', not '1.0E20'). */
  private def scalarOrAggMinMax(isMin: Boolean): Seq[Expression] => Expression = {
    case Seq(single) =>
      if (isMin) org.apache.spark.sql.catalyst.expressions.aggregate.Min(single)
      else org.apache.spark.sql.catalyst.expressions.aggregate.Max(single)
    case args if args.length >= 2 =>
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.types.{DoubleType => DT}
      def storageKey(a: Expression): Expression = {
        val isNumericType = a.dataType match {
          case _: org.apache.spark.sql.types.NumericType => true
          case org.apache.spark.sql.types.BooleanType => true
          case _ => false
        }
        if (SqliteScalars.isAffinityChild(a))
          graft.plans.AffinityOrdering.sortKeyFor(Cast(a, StringType))
        else if (isNumericType)
          CreateNamedStruct(Seq(
            Literal("r"), Literal(0),
            Literal("n"), Cast(a, DT),
            Literal("t"), Literal("")))
        else // string expressions and literals: TEXT storage class
          CreateNamedStruct(Seq(
            Literal("r"), Literal(1),
            Literal("n"), Literal(0.0),
            Literal("t"), Cast(a, StringType)))
      }
      val rendered: Seq[Expression] = args.map(a => SqliteCastText(a))
      val keys = args.map(storageKey)
      val anyNull = args.map(IsNull(_): Expression).reduce(Or(_, _))
      val winner = rendered.zip(keys).reduce[(Expression, Expression)] {
        case ((va, ka), (vb, kb)) =>
          val cmp: Expression =
            if (isMin) LessThanOrEqual(ka, kb) else GreaterThanOrEqual(ka, kb)
          (If(cmp, va, vb), If(cmp, ka, kb))
      }._1
      If(anyNull, Literal.create(null, StringType), winner)
    case _ =>
      throw new IllegalArgumentException(
        s"${if (isMin) "min" else "max"} expects at least 1 argument")
  }

  /** Register `builder` as `name`, dropping any function of that
    * name first: every graft shadow of a Spark built-in is deliberate,
    * and a plain replace makes Spark WARN once per name. */
  private def put(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.dropFunction(FunctionIdentifier(name))
    registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** Register `name` as a call of the static method `target`
    * ("Class.method" in this package; the Scala objects compile
    * static forwarders onto `Class`, and arity overloads resolve by
    * argument count). With no `in`, every argument casts to text (the
    * compat functions); otherwise the arguments must have exactly the
    * types `in` lists, and an int slot takes an int literal (a kernel
    * parameter, not per-row data). A null argument is a null result;
    * `returnNullable` says whether the method may also return null.
    * The call is wrapped in [[NamedStaticInvoke]], so an unaliased
    * column reads as the SQL call. */
  private def registerStatic(spark: SparkSession, name: String, arities: Range,
      out: DataType, target: String, in: Seq[DataType] = Nil,
      returnNullable: Boolean = true): Unit = {
    val cls = Class.forName("graft.functions." + target.takeWhile(_ != '.'))
    val method = target.dropWhile(_ != '.').tail
    def show(ts: Seq[String]) = if (ts.size == 1) ts.head else ts.mkString("(", ", ", ")")
    def accepts(c: Expression, t: DataType) = (c.dataType, t) match {
      case (IntegerType, IntegerType) => c.isInstanceOf[Literal]
      case (ArrayType(e, _), ArrayType(f, _)) => e == f
      case (d, _) => d == t
    }
    put(spark, name, { children =>
      if (!arities.contains(children.length))
        throw new IllegalArgumentException(s"$name: unsupported arity ${children.length}")
      val args =
        if (in.isEmpty)
          children.map(c => if (c.dataType == StringType) c else Cast(c, StringType))
        else if (children.zip(in).forall((accepts _).tupled)) children
        else {
          val want = in.map(t => if (t == IntegerType) "int literal" else t.simpleString)
          throw new IllegalArgumentException(s"$name expects ${show(want)}, " +
            s"got ${show(children.map(_.dataType.simpleString))}")
        }
      NamedStaticInvoke(name, children, StaticInvoke(cls, out, method, args,
        args.map(_.dataType), propagateNull = true, returnNullable = returnNullable))
    })
  }
}

/** A registered static-method call: `replacement` is the StaticInvoke
  * that runs, `parameters` the call as written, so an unaliased column
  * reads `lindex(a0, 0)` rather than StaticInvoke's own
  * `static_invoke(...)`. Spark's idiom for static-method functions:
  * the optimizer's first batch swaps in the replacement, so optimized
  * plans and generated code only ever see the StaticInvoke. */
final case class NamedStaticInvoke(
    name: String, parameters: Seq[Expression], replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}
