package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, MaxBy, Min, MinBy}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType}

/** SQLite cross-type ordering for affinity columns (SURVEY.md §1.3:
  * storage classes order NULL < INTEGER/REAL < TEXT < BLOB, numerics
  * comparing numerically — so `'2' < '10'`, and `min()` of
  * {'10','2','x'} is 2, where plain string sorting says otherwise).
  *
  * Spark has no per-value dynamic typing, so this cannot be expressed
  * with built-in operators alone: a custom optimizer rule rewrites
  *  - every ordering spec (Sort nodes, window ORDER BY, ordered
  *    aggregates) into ordering by the struct key
  *    `(numeric?0:1, numericValue, textValue)` (struct comparison is
  *    field-wise, NULL handling stays with SortOrder),
  *  - `min(col)` / `max(col)` into `min_by(col, key)` / `max_by`, and
  *  - string inequalities between affinity operands into key
  *    comparisons —
  * for exactly those StringType operands that RecordPipeline marked
  * (attribute metadata, or the [[AffinityValue]] wrapper once pushdown
  * substitutes the attribute away). Everything else is untouched, so
  * the rule is a no-op outside sqawk-shaped tables. Verified against
  * sqlite3: ORDER BY gives NULL, 2, 2.5, 9, 10, 'B', 'a', 'x'.
  *
  * SCOPE LIMIT: the inequality rewrite only fires when each side is an
  * affinity column or a FOLDABLE string expression. An affinity column
  * compared to a computed string (`a1 < upper(a2)`) or to another
  * table's plain string column in a join predicate keeps Spark's
  * memcmp string ordering, where SQLite would apply storage-class
  * ordering; `BETWEEN`/`IN`/`greatest`/`least` over affinity columns
  * are likewise untouched. Collated INEQUALITIES (`a1 < 'B' COLLATE
  * NOCASE`) keep Spark's collated string comparison without the
  * storage-class tier (collated ORDER BY is handled — see sortKey).
  * Those shapes don't occur in the reference suite; widening the
  * match to arbitrary non-foldable string operands would rewrite
  * comparisons on unrelated tables wherever one side is an affinity
  * column, which is unsafe without per-expression provenance, so the
  * narrower contract is deliberate.
  *
  * Registered via `spark.experimental.extraOptimizations` (it must run
  * after analysis; it only reshapes expressions, never plan structure,
  * so optimizer placement is safe).
  */
object AffinityOrdering extends Rule[LogicalPlan] {

  /** Metadata key RecordPipeline sets on numeric-affinity columns. */
  val AffinityKey = "graft.affinity"

  private def isAffinityAttr(e: Expression): Boolean = e match {
    case a: AttributeReference =>
      a.dataType == StringType && a.metadata.contains(AffinityKey)
    // survives pushdown substitution; the "TEXT" tag is provenance
    // for COMPARISONS only — TEXT columns order by plain memcmp, so
    // they are not "affinity attrs" for the sort/min/max rewrites
    case AffinityValue(_, aff) => aff != "TEXT"
    case _ => false
  }

  /** True when the tagged column has a NUMERIC-family affinity
    * (INTEGER/REAL/NUMERIC) — which SQLite APPLIES to the other
    * comparison operand; the "NONE" tag (BLOB/undeclared columns)
    * keeps value-based ordering but converts nothing. */
  private def hasNumericAffinity(e: Expression): Boolean = e match {
    case a: AttributeReference =>
      a.metadata.contains(AffinityKey) &&
        a.metadata.getString(AffinityKey) != "NONE"
    case AffinityValue(_, aff) => aff != "NONE" && aff != "TEXT"
    case _ => false
  }

  /** A TEXT-affinity column: holds only TEXT storage, and SQLite
    * applies TEXT affinity to whatever it is compared against.
    * Recognized by declared-type metadata, or by the "TEXT"
    * AffinityValue tag once pushdown has substituted the attribute
    * away (these columns carry no AffinityKey — plain memcmp is
    * their correct ORDER BY). */
  private def isTextDeclAttr(e: Expression): Boolean = e match {
    case a: AttributeReference =>
      a.dataType == StringType && !a.metadata.contains(AffinityKey) &&
        a.metadata.contains(graft.sources.Affinity.DeclKey) &&
        graft.sources.Affinity.hasAffinity(
          a.metadata.getString(graft.sources.Affinity.DeclKey)) == "TEXT"
    case AffinityValue(_, "TEXT") => true
    case _ => false
  }

  private def stripCasts(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCasts(c)
    case _ => e
  }

  /** Recognition helper: a correlated subquery's outer operand
    * arrives as OuterReference(attr) (round-13 fuzz seeds 2161/2254 —
    * `x.d = t1.d` inside EXISTS never matched the comparison matrix,
    * so cross-storage-class equality on the outer column fell back to
    * string equality). Recognition looks THROUGH the wrapper; key
    * building keeps the original wrapped expression so correlation
    * extraction still sees the OuterReference. */
  private def derefOuter(e: Expression): Expression = e match {
    case OuterReference(a) => a
    case _ => e
  }

  /** The cross-type key for expression builders outside this rule
    * (scalar min/max in GraftFunctions). */
  private[graft] def sortKeyFor(a: Expression): Expression = sortKey(a)

  /** `(rank, numeric, text)` sort key: one call of the static kernel
    * `Canonical.sortKey`, which states the numeric test once (through
    * `Affinity.isNumeric`). A NULL input stays NULL, so the
    * SortOrder's null ordering applies (SQLite: NULL first ASC).
    * `textType` is a collated string for an `a1 COLLATE NOCASE`
    * spelling: the collation refines only text-vs-text comparison,
    * never SQLite's storage-class ordering (sqlite3-pinned:
    * '10','b','A','2' ORDER BY c COLLATE NOCASE → 2, 10, A, b). A
    * plain StaticInvoke, because this rule runs after the optimizer
    * has replaced every NamedStaticInvoke. */
  private def sortKey(a: Expression, textType: DataType = StringType): Expression =
    StaticInvoke(CanonicalClass, graft.functions.Canonical.sortKeyType(textType),
      SortKeyMethod, Seq(a), Seq(StringType), propagateNull = true, returnNullable = false)

  private val CanonicalClass = Class.forName("graft.functions.Canonical")
  private val SortKeyMethod = "sortKey"

  /** True for a storage-class key built by [[sortKey]]. */
  private[graft] def isSortKey(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.staticObject == CanonicalClass && s.functionName == SortKeyMethod
    case _ => false
  }

  /** ORDER BY over a string-typed COMPUTED expression whose value
    * provenance can carry numeric storage (coalesce/CASE over
    * affinity columns, script arithmetic results) sorts by the
    * cross-type key too — SQLite orders by each VALUE's storage
    * class wherever the value came from (round-7 fuzz seed 23:
    * `ORDER BY coalesce(c, -1.25)` ranks '' after the numerics).
    * Applied by SqliteArith on the ANALYZED plan of each script
    * statement — there the Sort still sits directly on the SELECT's
    * Project/Aggregate, so the ordinal/alias indirection resolves by
    * looking one level down (after optimization the projection may
    * have collapsed into union branches, too late to see the alias).
    */
  def rewriteComputedSorts(plan: LogicalPlan): LogicalPlan = {
    // Every Alias in the whole statement, keyed by exprId — a
    // CTERelationRef reuses its def's exprIds, so a Sort over
    // `SELECT u, v FROM w` can resolve v to the abs(b) the CTE body
    // computed (round-13 fuzz seed 2152: that ORDER BY sorted
    // lexically because the one-level alias map under the Sort sees
    // only pass-through attributes). Used for CLASSIFICATION only;
    // key injection still needs the one-level shape. LAZY: fixup runs
    // on every script statement/rebind/constraint probe, and the
    // whole-plan walk is only needed when a Sort's one-level alias
    // map actually misses — which most statements never reach.
    lazy val deepAliased: Map[ExprId, Expression] = {
      val b = Map.newBuilder[ExprId, Expression]
      def fromExpr(e: Expression): Unit = e.foreach {
        case al: Alias => b += al.exprId -> al.child
        case sq: SubqueryExpression => fromPlan(sq.plan)
        case _ => ()
      }
      def fromPlan(p: LogicalPlan): Unit =
        p.foreach(_.expressions.foreach(fromExpr))
      fromPlan(plan)
      b.result()
    }
    plan.transformDown {
      case s @ Sort(order, _, child, _) =>
        // conditionals mixing text-storage branches (upper/substr/
        // literals) with value-mode branches need the PER-BRANCH key
        // ([[provKey]]); an alias-resolved one must evaluate against
        // the DEFINING node's input, so the key rides in as a hidden
        // output column of that Project's list (round-9 fuzz seed
        // 2172) or Aggregate's aggregateExpressions (ADVICE r9), and
        // — round 14, VERDICT r13 #3 — the defining node may sit a
        // pass-through chain below the Sort (the inlined CTE shape
        // `Sort → Project[u,v] → SubqueryAlias w → Project[…CASE AS
        // v]`): [[injectKey]] threads the key up through pass-through
        // Projects / Filters / SubqueryAliases. The original output
        // is restored by a pruning Project on top.
        var curChild = child
        var injected = false
        val newOrder = order.map { so =>
          so.child match {
            case ar: AttributeReference
                if ar.dataType == StringType &&
                  !ar.metadata.contains(AffinityKey) =>
              resolveDef(curChild, ar) match {
                case Some(ce) if mixedProvenance(ce) =>
                  injectKey(curChild, ar, ce) match {
                    case Some((nc, key)) =>
                      curChild = nc; injected = true
                      so.copy(child = key)
                    // unreachable in practice: resolveDef and
                    // injectKey walk the same chain
                    case None => so.copy(child = sortKey(ar))
                  }
                case Some(ce) if valueModeExpr(ce) =>
                  so.copy(child = sortKey(ar))
                // defining expression sits past a boundary the chain
                // walk can't thread (a multi-reference CTERelationRef
                // that Spark's InlineCTE kept, a Window, a set-op):
                // classify by the resolved definition, key by the
                // attribute's per-value storage class. For mixed
                // text-storage branches the per-value key is a
                // documented approximation (a per-branch key cannot
                // ride through a CTERelationRef's fixed output) —
                // strictly closer to sqlite than the lexical sort it
                // replaces.
                case _
                    if deepAliased.get(ar.exprId)
                      .exists(ce => valueModeExpr(ce) || mixedProvenance(ce)) =>
                  so.copy(child = sortKey(ar))
                case _ => so
              }
            case e
                if e.dataType == StringType && !isAffinityAttr(e) &&
                  (valueModeExpr(e) || mixedProvenance(e)) =>
              so.copy(child = provKey(e))
            case _ => so
          }
        }
        if (!injected) s.copy(order = newOrder)
        else Project(child.output, s.copy(order = newOrder, child = curChild))
    }
  }

  /** Resolve `ar` to its defining expression by walking pass-through
    * Projects, Filters and SubqueryAliases below the Sort — the
    * shapes [[injectKey]] can thread a hidden key column through. */
  private def resolveDef(node: LogicalPlan,
      ar: AttributeReference): Option[Expression] = node match {
    case p: Project =>
      p.projectList.collectFirst {
        case al @ Alias(ce, _) if al.exprId == ar.exprId => ce
      }.orElse {
        if (p.projectList.exists {
            case a: Attribute => a.exprId == ar.exprId
            case _ => false
          }) resolveDef(p.child, ar)
        else None
      }
    case a: Aggregate =>
      a.aggregateExpressions.collectFirst {
        case al @ Alias(ce, _) if al.exprId == ar.exprId => ce
      }
    case f: Filter => resolveDef(f.child, ar)
    case sa: SubqueryAlias => resolveDef(sa.child, ar)
    case j: Join if j.left.output.exists(_.exprId == ar.exprId) =>
      resolveDef(j.left, ar)
    case j: Join if j.right.output.exists(_.exprId == ar.exprId) =>
      resolveDef(j.right, ar)
    case _ => None
  }

  /** Append `provKey(ce)` as a hidden output column at the node that
    * DEFINES `ar` (where `ce`'s inputs resolve), threading the new
    * column up through the same pass-through chain [[resolveDef]]
    * walked. Returns the rewritten subtree and the key attribute. */
  private def injectKey(node: LogicalPlan, ar: AttributeReference,
      ce: Expression): Option[(LogicalPlan, Attribute)] = node match {
    case p: Project
        if p.projectList.exists {
          case al: Alias => al.exprId == ar.exprId
          case _ => false
        } =>
      val al = Alias(provKey(ce), s"__graft_sortkey_${ar.exprId.id}")()
      Some((p.copy(projectList = p.projectList :+ al), al.toAttribute))
    case p: Project =>
      injectKey(p.child, ar, ce).map { case (c, key) =>
        (p.copy(projectList = p.projectList :+ key, child = c), key)
      }
    case a: Aggregate
        if a.aggregateExpressions.exists {
          case al: Alias => al.exprId == ar.exprId
          case _ => false
        } =>
      val al = Alias(provKey(ce), s"__graft_sortkey_${ar.exprId.id}")()
      Some((a.copy(aggregateExpressions = a.aggregateExpressions :+ al),
        al.toAttribute))
    case f: Filter =>
      injectKey(f.child, ar, ce).map { case (c, key) => (f.copy(child = c), key) }
    case sa: SubqueryAlias =>
      injectKey(sa.child, ar, ce).map { case (c, key) => (sa.copy(child = c), key) }
    // a Join's output is the concatenation of its sides' outputs, so
    // a key appended on the defining side rides through (only INNER
    // joins are walked: an outer join null-extends its non-preserved
    // side, where a struct key built below would stay non-null and
    // misrank the null-extended rows)
    case j: Join if j.joinType == Inner =>
      if (j.left.output.exists(_.exprId == ar.exprId))
        injectKey(j.left, ar, ce).map { case (c, key) => (j.copy(left = c), key) }
      else if (j.right.output.exists(_.exprId == ar.exprId))
        injectKey(j.right, ar, ce).map { case (c, key) => (j.copy(right = c), key) }
      else None
    case _ => None
  }

  /** True iff a conditional tree mixes a value-mode branch with a
    * text-STORAGE string branch (upper/substr/CAST AS TEXT results,
    * string literals) — exactly the case where classifying the final
    * VALUE misorders rows: SQLite ranks upper(a)'s '100.0' in the
    * TEXT tier even though the characters look numeric. A
    * string-typed branch that is only a type-coercion Cast over a
    * NUMERIC expression (`coalesce(c, 42)` — Spark casts the 42 to
    * match c's string type) is NOT text storage: the sqlite literal
    * keeps numeric storage (round-10 fuzz seed 2535; explicit `CAST
    * (x AS TEXT)` spellings reach this rule as SqliteCastText, never
    * a bare Cast, so stripping casts is safe). */
  private def mixedProvenance(e: Expression): Boolean = {
    def textStorage(v: Expression): Boolean =
      v.dataType == StringType && !valueModeExpr(v) &&
        stripCasts(v).dataType == StringType
    // the "other" side of a mix: a branch whose values carry numeric
    // storage — value-mode (classifies per value), or a numeric-typed
    // expression behind a type-coercion cast (a bare -5 next to a
    // TEXT column — round-10 fuzz seed 3940: sqlite ranks that
    // literal in the numeric tier while the column's values are TEXT)
    def numStorage(v: Expression): Boolean =
      valueModeExpr(v) || stripCasts(v).dataType != StringType
    e match {
      case CaseWhen(bs, el) =>
        val vs = bs.map(_._2) ++ el
        (vs.exists(textStorage) && vs.exists(numStorage)) ||
          vs.exists(mixedProvenance)
      case If(_, t, f) =>
        val vs = Seq(t, f)
        (vs.exists(textStorage) && vs.exists(numStorage)) ||
          vs.exists(mixedProvenance)
      case Coalesce(cs) =>
        (cs.exists(textStorage) && cs.exists(numStorage)) ||
          cs.exists(mixedProvenance)
      case graft.functions.SqliteDynText(c) => mixedProvenance(c)
      case _ => false
    }
  }

  /** Per-branch storage-class sort key: distributes through the
    * conditional structure so each row's key reflects the branch its
    * value actually came from (a leaf's key never returns non-null
    * for a NULL value, so Coalesce over keys picks the key of the
    * same child Coalesce over values picks). */
  private def provKey(e: Expression): Expression = e match {
    case CaseWhen(bs, el) =>
      CaseWhen(bs.map { case (p, v) => (p, provKey(v)) }, el.map(provKey))
    case If(p, t, f) => If(p, provKey(t), provKey(f))
    case Coalesce(cs) => Coalesce(cs.map(provKey))
    case graft.functions.SqliteDynText(c) =>
      if (c.dataType == StringType) provKey(c) else numKey(c)
    case v if valueModeExpr(v) => sortKey(v)
    case v if v.dataType == StringType =>
      // a type-coercion Cast over a numeric expression carries the
      // NUMERIC storage class of its child (fuzz seed 2535: the 42 in
      // coalesce(c, 42) reaches here as Cast(42 AS STRING)); only a
      // natively-string branch is TEXT storage
      val v0 = stripCasts(v)
      if (v0.dataType != StringType) numKey(v0) else textKey(v)
    case v => numKey(v)
  }

  /** The comparison-matrix rewrite alone (same cases the optimizer
    * rule applies). Script statements ALSO run this on their ANALYZED
    * plan — at that point every comparison still references the
    * table view's attributes, which carry affinity metadata; after
    * optimization, PushProjectionThroughUnion re-aliases union
    * branches WITHOUT the metadata, so the optimizer-rule pass can
    * miss branch copies (round-7 fuzz: UPDATE rebind over a unioned
    * script table rewrote one branch's WHERE but not the other's).
    * Idempotent: an already-keyed comparison has no recognized
    * operand. */
  def rewriteComparisons(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case LessThan(l, r) if cmpKeys(l, r).isDefined =>
        val (a, b) = cmpKeys(l, r).get; LessThan(a, b)
      case LessThanOrEqual(l, r) if cmpKeys(l, r).isDefined =>
        val (a, b) = cmpKeys(l, r).get; LessThanOrEqual(a, b)
      case GreaterThan(l, r) if cmpKeys(l, r).isDefined =>
        val (a, b) = cmpKeys(l, r).get; GreaterThan(a, b)
      case GreaterThanOrEqual(l, r) if cmpKeys(l, r).isDefined =>
        val (a, b) = cmpKeys(l, r).get; GreaterThanOrEqual(a, b)
      // equality obeys the same operand-affinity matrix: under a
      // NUMERIC-affinity column `d <> 100` must be TRUE for a
      // TEXT-storage 'd' value (cross-class values are never equal),
      // where Spark's numeric coercion yields NULL (fuzz round 7)
      case EqualTo(l, r) if eqKeys(l, r).isDefined =>
        val (a, b) = eqKeys(l, r).get; EqualTo(a, b)
      // IS / IS NOT (SqliteOperators rewrites them to <=> / NOT <=>)
      // obey the same matrix: int 100 IS real 100.0 on NONE-affinity
      // columns is TRUE in sqlite (ADVICE r13). Null-safe semantics
      // survive the rewrite because every key builder returns NULL
      // iff its operand is NULL, so both-null / one-null arms are
      // unchanged and the both-non-null arm compares storage-class
      // keys exactly like EqualTo.
      case EqualNullSafe(l, r) if eqKeys(l, r).isDefined =>
        val (a, b) = eqKeys(l, r).get; EqualNullSafe(a, b)
      // IN applies the LEFT operand's affinity to every list value
      // (sqlite.org/lang_expr.html §7: "the affinity of the left
      // operand is applied to each value on the right")
      case In(l, items) if inKeys(l, items).isDefined =>
        val (a, bs) = inKeys(l, items).get; In(a, bs)
    }

  /** Equality keys for column-vs-literal AND column-vs-column.
    *
    * The original rule covered only column-vs-literal on the premise
    * that canonical storage makes column-vs-column equality
    * string-identical. That premise fails exactly where int-class and
    * real-class values are numerically equal but render differently:
    * a NONE-affinity column holding 100 and 100.0 (round-13 fuzz
    * seeds 2120/2161/2171/2254 — `x.d = t1.d` in a correlated EXISTS
    * and `t1.d = w.u` through a CTE both compare sqlite's storage
    * classes numerically, so int 100 = real 100.0 is TRUE, while the
    * canonical strings '100' and '100.0' differ). Column-vs-column
    * equality therefore goes through the same operand-affinity matrix
    * as the inequalities; the struct keys stay extractable as
    * equi-join keys, and the q-family's parquet joins never carry
    * affinity metadata, so audited plans don't reshape. */
  private def eqKeys(l: Expression,
      r: Expression): Option[(Expression, Expression)] = {
    val l0 = stripCasts(l)
    val r0 = stripCasts(r)
    def rec(e: Expression) = {
      val d = derefOuter(e)
      isAffinityAttr(d) || isTextDeclAttr(d)
    }
    val colVsLit = (rec(l0) && !rec(r0) && r0.foldable) ||
      (rec(r0) && !rec(l0) && l0.foldable)
    // Column-vs-column fires ONLY where canonical renderings of equal
    // values can differ across the two columns — elsewhere raw string
    // equality on canonical text is already sqlite's answer, and
    // skipping keeps equi-join keys (and the physical plans + row
    // order of the reference examples' typed joins) byte-identical:
    //  - same numeric family (INTEGER/NUMERIC pair, REAL pair):
    //    canonicalization collapses equal values to one rendering;
    //  - TEXT×TEXT: sqlite compares text, raw equality is exact.
    // What remains — NONE×NONE (int 100 vs real 100.0 natural
    // classes), cross-family numeric (INTEGER '100' vs REAL '100.0'),
    // TEXT×numeric ('007' vs 7, NUMERIC applied to the text), and
    // TEXT×NONE (round-15 fuzz seed 23794: sqlite applies NO affinity
    // between two columns — a BLOB/none-affinity COLUMN is not the
    // "no affinity" operand of the affinity rules, only
    // literals/expressions are — so int 7 in a NONE column is NEVER
    // equal to TEXT '7', and storage classes order; sqlite3-pinned) —
    // goes through the matrix. BARE operands only (no stripCasts):
    // string-vs-string comparisons get no coercion casts from the
    // analyzer, while a cast probe such as
    // `cast(cast(c as long) as double) = cast(c as double)` strips to
    // the same attribute on both sides and must NOT be hijacked (the
    // first cut did, collapsing an exactness probe to TRUE and making
    // the unique-index check merge 0.25 with 0).
    def bare(e: Expression) = {
      val d = derefOuter(e)
      (isAffinityAttr(d) || isTextDeclAttr(d)) && (d eq stripCasts(d))
    }
    val colVsCol = bare(l) && bare(r) && {
      val fa = affFamily(l)
      val fb = affFamily(r)
      !(fa == fb && fa != "NONE")
    }
    if (colVsLit || colVsCol) cmpKeys(l, r) else None
  }

  /** Affinity family for [[eqKeys]]'s skip table: INTEGER and NUMERIC
    * share one canonicalization, so they fold into one family. */
  private def affFamily(e: Expression): String = {
    val d = derefOuter(e)
    def fold(aff: String) =
      if (aff == "INTEGER" || aff == "NUMERIC") "INTNUM" else aff
    d match {
      case a: AttributeReference if a.metadata.contains(AffinityKey) =>
        fold(a.metadata.getString(AffinityKey))
      case AffinityValue(_, aff) => fold(aff)
      case _ if isTextDeclAttr(d) => "TEXT"
      case _ => ""
    }
  }

  /** Keys for `l IN (items…)` when l is a recognized column and every
    * item is foldable; mode decided by l's affinity alone. */
  private def inKeys(l: Expression,
      items: Seq[Expression]): Option[(Expression, Seq[Expression])] = {
    val l0 = stripCasts(l)
    val is = items.map(stripCasts)
    val recognized = isAffinityAttr(l0) || isTextDeclAttr(l0)
    if (!recognized || !is.forall(_.foldable)) None
    else if (hasNumericAffinity(l0))
      Some((valueKey(l0), is.map(valueKey)))
    else if (isTextDeclAttr(l0))
      Some((textKey(l0), is.map(textKey)))
    else // no-affinity column: items keep their natural storage class
      Some((valueKey(l0), is.map(i =>
        if (i.dataType == StringType) textKey(i) else valueKey(i))))
  }

  /** Post-analysis rewrite for SCRIPT statements: storage-class
    * comparison keys + computed-sort keys. */
  def rewriteScriptPlan(plan: LogicalPlan): LogicalPlan =
    rewriteComparisons(rewriteComputedSorts(plan))

  def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformAllExpressions {
      // every ordering spec — Sort nodes, window ORDER BY, ordered
      // aggregates — sorts by the cross-type key
      case so: SortOrder if isAffinityAttr(so.child) =>
        so.copy(child = sortKey(so.child))
      // `affinityCol COLLATE x`: storage-class ordering still applies,
      // the collation refines only the text component
      case so @ SortOrder(c @ Collate(a, _), _, _, _) if isAffinityAttr(a) =>
        so.copy(child = sortKey(a, c.dataType))
      case ae @ AggregateExpression(Min(a), _, _, _, _) if isAffinityAttr(a) =>
        ae.copy(aggregateFunction = MinBy(a, sortKey(a)))
      case ae @ AggregateExpression(Max(a), _, _, _, _) if isAffinityAttr(a) =>
        ae.copy(aggregateFunction = MaxBy(a, sortKey(a)))
      // Inequalities involving a recognized column (affinity-tagged
      // or TEXT-declared) against another such column or a foldable
      // literal compare by SQLite's comparison-affinity matrix (see
      // cmpKeys). Equality needs no rewrite: canonicalization already
      // makes equal storage values string-identical.
      case LessThan(l, r) if cmpKeys(l, r).isDefined =>
        val (a, b) = cmpKeys(l, r).get; LessThan(a, b)
      case LessThanOrEqual(l, r) if cmpKeys(l, r).isDefined =>
        val (a, b) = cmpKeys(l, r).get; LessThanOrEqual(a, b)
      case GreaterThan(l, r) if cmpKeys(l, r).isDefined =>
        val (a, b) = cmpKeys(l, r).get; GreaterThan(a, b)
      case GreaterThanOrEqual(l, r) if cmpKeys(l, r).isDefined =>
        val (a, b) = cmpKeys(l, r).get; GreaterThanOrEqual(a, b)
    }
  }

  /** SQLite comparison semantics for `< <= > >=` involving an
    * affinity-tagged or TEXT-affinity column (sqlite.org/datatype3
    * §4.2, operand matrix sqlite3-pinned by the round-7 fuzz):
    *  - a NUMERIC-family affinity on either side applies NUMERIC
    *    conversion to BOTH operands → value-based storage-class keys
    *    (so `n > '9'` is numeric, and a non-numeric value in `n`
    *    still ranks in the TEXT tier: `'x' > 9` is true);
    *  - else a TEXT affinity on either side applies TEXT conversion →
    *    both operands compare as text, numbers rendering to their
    *    SQLite text (`b > 9` with b TEXT compares '10' vs '9');
    *  - else (no affinity anywhere) each operand keeps its natural
    *    storage class: a "NONE"-tagged column's canonical value
    *    classifies itself, a string literal is TEXT storage (`u > '9'`
    *    with u holding 10 → numeric 10 < text '9'), a numeric literal
    *    is numeric.
    * Operand provenance (same contract as the pre-round-7 rewrite):
    * each side must be a recognized column or a FOLDABLE expression,
    * possibly Cast-wrapped by type coercion.
    */
  private def cmpKeys(l: Expression,
      r: Expression): Option[(Expression, Expression)] = {
    val l0 = stripCasts(l)
    val r0 = stripCasts(r)
    // recognition sees through OuterReference; key building keeps the
    // wrapped expression (see derefOuter)
    def recognized(e: Expression) = {
      val d = derefOuter(e)
      isAffinityAttr(d) || isTextDeclAttr(d)
    }
    def known(e: Expression) = recognized(e) || e.foldable
    // a COLLATE'd operand keeps Spark's collated comparison (the
    // documented scope limit: storage-class tiering is not combined
    // with collations in comparisons — only in ORDER BY via sortKey)
    def collated(e: Expression) =
      e.exists { case _: Collate => true; case _ => false }
    if (!(recognized(l0) || recognized(r0)) || !known(l0) || !known(r0) ||
        collated(l) || collated(r)) None
    else {
      val pairNum = hasNumericAffinity(derefOuter(l0)) ||
        hasNumericAffinity(derefOuter(r0))
      val pairText = !pairNum && (isTextDeclAttr(derefOuter(l0)) ||
        isTextDeclAttr(derefOuter(r0)))
      def key(e0: Expression): Expression =
        if (pairNum) valueKey(e0)
        else if (pairText) {
          // a NONE-affinity COLUMN paired with a TEXT column keeps its
          // natural storage class — sqlite applies affinity only to
          // literal/expression operands, never between two columns
          // (round-15 fuzz seed 23794, sqlite3-pinned: int 7 < TEXT
          // '7' is TRUE — numeric storage orders below text). TEXT
          // columns and literals/expressions still compare as text.
          if (affFamily(e0) == "NONE") valueKey(e0) else textKey(e0)
        }
        else if (isAffinityAttr(derefOuter(e0))) valueKey(e0) // NONE col: natural class
        else if (e0.dataType == StringType) textKey(e0) // literal: TEXT storage
        else valueKey(e0) // numeric literal
      Some((key(l0), key(r0)))
    }
  }

  /** String expression whose VALUES can carry numeric storage class
    * (so an ORDER BY over it must use the cross-type key): affinity
    * columns, script-arithmetic results, and conditionals mixing
    * them. Functions that PRODUCE text storage (substr, upper, CAST
    * AS TEXT…) deliberately return false — their results order by
    * memcmp like any TEXT value. */
  private def valueModeExpr(e: Expression): Boolean = e match {
    case a: AttributeReference => a.metadata.contains(AffinityKey)
    case AffinityValue(_, aff) => aff != "TEXT"
    case _: graft.functions.SqliteArithExpr => true
    // the dynamic-class scalar shadows (abs/floor/ceil over affinity
    // values) return storage-class-bearing canonical text
    case s: StaticInvoke
        if Set("absTextDyn", "absTextLit", "floorText", "ceilText")
          .contains(s.functionName) => true
    // the dialect's dynamic-text wrapper: a numeric-typed child is
    // numeric STORAGE (the wrapper just renders it canonically); a
    // string child keeps its own provenance
    case graft.functions.SqliteDynText(c) =>
      !c.dataType.isInstanceOf[StringType] || valueModeExpr(c)
    case Coalesce(cs) => cs.exists(valueModeExpr)
    case CaseWhen(branches, elseV) =>
      branches.exists(b => valueModeExpr(b._2)) || elseV.exists(valueModeExpr)
    case If(_, t, f) => valueModeExpr(t) || valueModeExpr(f)
    // min/max are VALUE-PRESERVING: they return one of the argument's
    // values with its storage class, so they carry the argument's
    // provenance (ADVICE r9: coalesce(upper(max(a)), min(b)) over a
    // GROUP BY must rank min(b)'s numeric-storage values before the
    // TEXT-storage upper() branch). Other aggregates produce fresh
    // numeric/text values and keep the default.
    case ae: AggregateExpression => ae.aggregateFunction match {
      case Min(c) => valueModeExpr(c)
      case Max(c) => valueModeExpr(c)
      case MinBy(v, _) => valueModeExpr(v)
      case MaxBy(v, _) => valueModeExpr(v)
      case _ => false
    }
    case _ => false
  }

  /** Storage-class key when the operand's value decides its class:
    * strings classify per value, numeric-typed operands are numeric. */
  private def valueKey(e: Expression): Expression =
    if (e.dataType == StringType) sortKey(e) else numKey(e)

  private def numKey(e: Expression): Expression = {
    val key = CreateNamedStruct(Seq(
      Literal("r"), Literal(0, IntegerType),
      Literal("n"), Cast(e, DoubleType, None, EvalMode.TRY),
      Literal("t"), Literal("")))
    If(IsNull(e), Literal.create(null, key.dataType), key)
  }

  /** TEXT-affinity-applied key: everything compares as its SQLite
    * text rendering in the TEXT tier. */
  private def textKey(e: Expression): Expression = {
    val txt =
      if (e.dataType == StringType) e
      else graft.functions.SqliteCastText(e)
    val key = CreateNamedStruct(Seq(
      Literal("r"), Literal(1, IntegerType),
      Literal("n"), Literal(0.0, DoubleType),
      Literal("t"), txt))
    If(IsNull(e), Literal.create(null, key.dataType), key)
  }
}
