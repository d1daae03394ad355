package graft.cli

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.cli.SqliteOperators.{Lexed, unquote}
import graft.functions.Canonical
import graft.sources.Affinity

/** DDL/DML statements of the script dialect (SURVEY.md §7.4 #6).
  *
  * The reference passes scripts verbatim to SQLite (README.md:100;
  * lib/classes/sqawk.tcl:216), so `CREATE TABLE`/`INSERT` are part of
  * its dialect. Spark temp views are immutable, so we map the
  * side-effecting statements onto view (re)binding:
  *
  *  - `CREATE [TEMP] TABLE [IF NOT EXISTS] t AS select` → run the
  *    select, bind `t` (eager analysis snapshots the source plans, so
  *    later INSERTs into the sources do not retroactively change `t`
  *    — the same snapshot semantics as SQLite's materializing CTAS);
  *  - `CREATE [TEMP] TABLE t (cols…)` → bind an empty view with the
  *    declared column names (values get their types from INSERTs;
  *    union type-widening mirrors affinity's permissiveness);
  *  - `INSERT INTO t [(cols)] VALUES …|SELECT …` → union-rebind;
  *    VALUES runs through `spark.sql` directly (Spark supports
  *    top-level VALUES), omitted columns fill with NULL. A table
  *    with a PRIMARY KEY, a UNIQUE index or a NOT NULL column checks
  *    the batch on the driver: [[propose]] collects it once (rowid
  *    datatype, NOT NULL, autoassign) and [[insertWalk]] resolves
  *    its key conflicts in statement order against one probe of the
  *    stored table.
  *    `… ON CONFLICT [(pk)] DO NOTHING | DO UPDATE SET … [WHERE …]`
  *    (SQLite UPSERT) rebinds via [[applyUpsert]], and a trailing
  *    `RETURNING expr, …` (SQLite 3.35) makes the DML statement emit
  *    rows through the serializer — INSERT returns the inserted rows
  *    post-autoassign, UPDATE the new values of matched rows, DELETE
  *    the old values of deleted rows (all sqlite3-pinned in CliSpec);
  *  - `DROP TABLE [IF EXISTS] t` → drop the temp view;
  *  - `DELETE FROM t [WHERE c]` → filter-and-rebind. SQLite keeps rows
  *    whose condition is NULL (sqlite3-pinned in CliSpec), so the kept
  *    set is `NOT coalesce(c, false)`;
  *  - `UPDATE t SET a = e, … [WHERE c]` → projection-with-CASE rebind:
  *    every assignment evaluates against the OLD row (sqlite3-pinned:
  *    `SET a = a+100, b = a+1` uses the pre-update `a` in both), which
  *    a single SELECT projection gives for free. When one column is
  *    assigned twice, the rightmost assignment wins (SQLite rule). An
  *    UPDATE that can change a key, or that triggers observe, collects
  *    its rows' old and new values once; [[updateWalk]] checks every
  *    keyset over them in rowid scan order, as sqlite does;
  *  - `CREATE [TEMP] VIEW v AS select` → a SQL-created temp view.
  *    Unlike CTAS, views RE-EVALUATE on every reference (Spark stores
  *    the view text for SQL-created temp views and re-resolves it),
  *    so an INSERT into a base table after CREATE VIEW shows through
  *    the view — sqlite3-pinned in CliSpec. `DROP VIEW` shares the
  *    DROP arm (temp views and "tables" live in one namespace here);
  *  - `CREATE INDEX` / `DROP INDEX` → planning no-ops: SQLite indexes
  *    change performance, never results, and Catalyst plans
  *    declaratively. They still register in the run's index registry
  *    (PRAGMA index_list, name reservation, DROP INDEX errors — all
  *    like sqlite3). `CREATE UNIQUE INDEX` (and UNIQUE column/table
  *    constraints in CREATE TABLE, registered as auto-indexes) is a
  *    real enforced constraint: creation checks the existing rows,
  *    and INSERT / UPDATE / UPSERT honor it with sqlite3's
  *    statement-order conflict semantics (see [[insertWalk]]).
  *    Expression / COLLATE / partial UNIQUE indexes are enforced
  *    through evaluated keysets (the indexed expressions / WHERE
  *    predicate run through the same evaluator as the DML);
  *  - `PRAGMA` → answered from the declared-column metadata and the
  *    run state ([[pragmaRows]]): table_info / database_list /
  *    index_list / journal_mode / user_version and friends;
  *  - `ALTER TABLE` → rebinds: RENAME TO re-binds the plan under the
  *    new name, RENAME COLUMN / DROP COLUMN are projection rebinds,
  *    ADD COLUMN appends a literal column. The DEFAULT applies to
  *    existing rows AND is remembered in column metadata so a later
  *    INSERT omitting the column fills the default instead of NULL
  *    (both sqlite3-pinned). Only constant defaults are allowed and
  *    PRIMARY KEY / UNIQUE adds are rejected — same rules, same
  *    messages as sqlite3;
  *  - transaction control (`BEGIN`/`COMMIT`/`END`/`SAVEPOINT`/
  *    `RELEASE`/`ROLLBACK [TO]`) → binding snapshots: every statement
  *    in this dialect takes effect by (re)binding temp views, so a
  *    transaction's whole visible state is the catalog's name→plan
  *    map. `BEGIN` and `SAVEPOINT` capture that map (driver-side
  *    metadata only — plans are lazy, no data is copied); `ROLLBACK`
  *    restores the outermost capture and ends the transaction,
  *    `ROLLBACK TO sp` restores sp's capture and keeps sp live for
  *    repeated rollbacks — both undo CREATE TABLE/DROP/ALTER as well
  *    as DML, exactly like sqlite3 (pinned in CliSpec). `COMMIT` and
  *    `RELEASE` discard captures (changes were already live). The
  *    error surface (nested BEGIN, COMMIT without a transaction,
  *    ROLLBACK TO an unknown savepoint) is sqlite3-pinned verbatim;
  *  - `VACUUM` / `ANALYZE` / `REINDEX` → no-ops (performance-only in
  *    SQLite; they never change results);
  *  - `ATTACH 'path' AS name` / `DETACH name` → the attached database
  *    is another engine `-dbfile` store (its `path.d/` parquet
  *    generations); its tables register as temp views behind a
  *    qualified-name rewrite ([[rewriteAttached]]) with sqlite3's
  *    unqualified search order, error surface ("database X is
  *    already in use", "no such database", no ATTACH/DETACH inside a
  *    transaction, "cannot detach database main") and
  *    `PRAGMA database_list` rows. DML against attached tables
  *    rebinds in-memory for the run (not persisted back — the engine
  *    persists only loaded-file rows);
  *  - the rest of SQLite's statement surface (triggers included) gets
  *    a one-line sqawk-style rejection instead of a raw Spark error.
  */
object ScriptDdl {

  /** The ordering/comparison tag for a declared column type (fuzz
    * seed 19 closed the blanket-"NUMERIC" tagging): TEXT-affinity
    * columns hold only TEXT storage in SQLite, so they get NO tag —
    * Spark's memcmp IS their correct order; INTEGER/REAL/NUMERIC
    * affinities tag as themselves (storage-class ordering with the
    * value-based key AND numeric-affinity application to comparison
    * literals); BLOB/undeclared tag "NONE" (values keep their natural
    * storage class — value-based ordering, but NO affinity conversion
    * of the other comparison operand). */
  private def affinityTag(declType: String): Option[String] =
    Affinity.hasAffinity(declType) match {
      case "TEXT" => None
      case "BLOB" => Some("NONE")
      case num    => Some(num)
    }

  /** Commit a table's backing DataFrame as its temp view, wrapping
    * every affinity-tagged string column in the [[graft.plans.AffinityValue]]
    * marker (via the registered builder — a custom expression cannot
    * be built through the public Column API). The marker is what
    * survives projection collapse: a WHERE/ORDER BY over a
    * LocalRelation-backed script table substitutes the column
    * attribute away during optimization, and without the wrapper the
    * AffinityOrdering rule could no longer recognize the operand
    * (round-7 fuzz seed 23: `b < ''` must rank numeric-storage b
    * below text). Metadata is re-attached so PRAGMA/constraint
    * surfaces keep working. */
  private def commitTable(spark: SparkSession, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val wrapped = df.select(df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      // tag value: the AffinityKey for numeric/"NONE" columns, "TEXT"
      // for TEXT-affinity declarations (they carry no AffinityKey —
      // but comparisons still need their provenance: `d > -1` on a
      // TEXT column is a TEXT compare, fuzz seed 40)
      val tag: Option[String] =
        if (f.dataType != StringType) None
        else if (f.metadata.contains(graft.plans.AffinityOrdering.AffinityKey))
          Some(f.metadata.getString(graft.plans.AffinityOrdering.AffinityKey))
        else if (f.metadata.contains(Affinity.DeclKey) &&
            Affinity.hasAffinity(f.metadata.getString(Affinity.DeclKey)) == "TEXT")
          Some("TEXT")
        else None
      val tagged = tag match {
        case Some(a) =>
          org.apache.spark.sql.functions.call_function("graft_affinity_value", c, lit(a))
        case None => c
      }
      tagged.as(f.name, f.metadata)
    }.toIndexedSeq: _*)
    wrapped.createOrReplaceTempView(name)
  }

  /** Every user-authored expression fragment (UPDATE SET values,
    * WHERE conditions, UPSERT assignments, RETURNING projections)
    * parses through the script dialect's arithmetic rewrite —
    * shadowing `functions.expr` so each site gets SQLite per-value
    * arithmetic semantics (see [[SqliteArith]]). */
  private def expr(text: String): org.apache.spark.sql.Column =
    SqliteArith.expr(text)

  /** Result of offering a statement to the DDL/DML layer: either it
    * was not a dialect statement (pass to `spark.sql`), or it was
    * handled — optionally producing rows (a RETURNING clause, SQLite
    * 3.35 dialect) for the serializer. */
  sealed trait Outcome
  case object NotHandled extends Outcome
  final case class Handled(rows: Option[org.apache.spark.sql.DataFrame]) extends Outcome
  private val Done: Outcome = Handled(None)

  /** One registered index. Plain indexes are planning no-ops
    * (Catalyst plans declaratively); UNIQUE indexes additionally
    * carry an enforced uniqueness constraint over `cols` (in index
    * order — the order sqlite3's error message lists). `cols` is
    * empty for plain indexes whose column list is an expression we
    * do not parse (they stay pure no-ops). `origin` is what PRAGMA
    * index_list reports: "c" for CREATE INDEX, "u" for a UNIQUE
    * column/table constraint's auto-index. */
  private[cli] final case class IdxDef(
      name: String, table: String, cols: Seq[String],
      unique: Boolean, origin: String = "c",
      keyExprs: Seq[String] = Nil, whereText: Option[String] = None)

  /** One enforced uniqueness keyset (round 7 generalization): plain
    * column keysets (`exprs` are just the quoted columns), COLLATE'd
    * columns, arbitrary key EXPRESSIONS, and partial (WHERE) indexes
    * all flow through the same evaluated-key machinery. `errText` is
    * the keyset's sqlite3 error spelling ("t.a, t.b" for columns,
    * "index 'iu'" for expression indexes). */
  private[cli] final case class KeySpec(
      display: Seq[String], exprs: Seq[String], where: Option[String],
      errText: String) {
    def isPlain: Boolean =
      where.isEmpty && display.nonEmpty && exprs == display.map(c => s"`$c`")
  }
  private[cli] object KeySpec {
    def ofCols(table: String, cols: Seq[String]): KeySpec =
      KeySpec(cols, cols.map(c => s"`$c`"), None,
        cols.map(c => s"$table.$c").mkString(", "))
  }

  /** A transaction capture: the full local temp-view catalog (plus
    * the index registry and user_version) at one point in the script.
    * Plans are lazy logical trees, so this is O(tables) driver-side
    * metadata — restoring rebinds the names to the captured plans
    * without touching any data. */
  private[cli] final case class Snapshot(
      views: Map[String, org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation],
      indexes: Vector[IdxDef],
      triggers: Vector[TriggerDef],
      masterSql: Vector[MasterRow],
      userVersion: Long)

  /** One FOR EACH ROW trigger (round 7): timing BEFORE/AFTER, event
    * INSERT/UPDATE/DELETE, optional UPDATE OF column list, optional
    * WHEN condition, and the body's statements verbatim (OLD./NEW.
    * references substitute per fired row). INSTEAD OF and view
    * triggers are rejected like sqlite3. */
  /** One sqlite_master row for a script-created object (round 7):
    * the verbatim CREATE statement is captured at execution so
    * `SELECT … FROM sqlite_master` can answer like sqlite3 (sql is
    * NULL for auto-indexes). Scope: objects created by THIS run's
    * script statements — the CLI's ingest tables are not listed. */
  private[cli] final case class MasterRow(
      typ: String, name: String, tbl: String, sql: Option[String])

  private[cli] final case class TriggerDef(
      name: String, table: String, timing: String, event: String,
      updateCols: Seq[String], when: Option[String], body: Seq[String])

  /** Per-script-run mutable state: the transaction/savepoint surface
    * needs statement-to-statement memory for rollback and its error
    * semantics, and the PRAGMA surface reports the run's index
    * registry, user_version and attached file. */
  final class State(val dbFile: Option[String] = None) {
    private[ScriptDdl] var explicitTxn: Option[Snapshot] = None
    private[ScriptDdl] val savepoints =
      scala.collection.mutable.ArrayBuffer.empty[(String, Snapshot)]
    private[ScriptDdl] def txnActive: Boolean = explicitTxn.isDefined || savepoints.nonEmpty
    /** CREATE INDEX / UNIQUE-constraint registry: PRAGMA index_list,
      * DROP INDEX and the UNIQUE-enforcement surface all read it, and
      * rollback restores it (an index created inside a rolled-back
      * transaction loses its constraint, like sqlite3). */
    private[ScriptDdl] val indexes = scala.collection.mutable.ArrayBuffer.empty[IdxDef]
    /** CREATE TRIGGER registry, creation-ordered; firing iterates it
      * NEWEST-FIRST per row (sqlite3-pinned: two AFTER INSERT
      * triggers fire in reverse creation order for each row). */
    private[ScriptDdl] val triggers = scala.collection.mutable.ArrayBuffer.empty[TriggerDef]
    /** sqlite_master registry, creation-ordered (round 7). */
    private[ScriptDdl] val masterSql = scala.collection.mutable.ArrayBuffer.empty[MasterRow]
    /** Names of triggers currently mid-fire: a trigger never recurses
      * into itself (sqlite3's default recursive_triggers=off — a
      * body INSERT into the trigger's own table inserts WITHOUT
      * re-firing, pinned). */
    private[ScriptDdl] val firing = scala.collection.mutable.Set.empty[String]
    private[ScriptDdl] var userVersion: Long = 0L
    /** ATTACH registry, insertion-ordered like sqlite3's search
      * order. One VIEW backs each attached table, so the bare and
      * `schema.`-qualified spellings hit the same binding (DML
      * through either is visible through both, as in sqlite3). */
    private[ScriptDdl] val attached =
      scala.collection.mutable.LinkedHashMap.empty[String, AttachedDb]
    /** Tentative attach bindings seen by [[rewriteAttached]] during
      * the CURRENT statement: (schema key, lowercase table) → view.
      * A qualified name first seen mid-script only becomes a real
      * binding if the statement actually leaves the view behind
      * (ADVICE r9: eager registration bound `aux1.x` on a mere `DROP
      * TABLE IF EXISTS aux1.x`, so a LATER `CREATE TABLE x` in main
      * silently resolved through the attached schema and DETACH
      * dropped main's table). Committed by
      * [[commitPendingAttachBindings]], wiped at statement end. */
    private[ScriptDdl] val pendingAttach =
      scala.collection.mutable.LinkedHashMap.empty[(String, String), String]
  }

  /** One attached database: the path text as given, the lowercase
    * table name → backing view name map the qualified-name rewrite
    * resolves through, and the views this attach created (dropped on
    * DETACH). A table whose bare name was free at attach time is
    * backed by the bare view itself — sqlite3's unqualified search
    * order (main first, then attached) falls out of that. */
  private[cli] final case class AttachedDb(
      path: String, views: Map[String, String], owned: Seq[String])

  private def attViewName(schema: String, tbl: String): String =
    s"graft_att_${schema.toLowerCase}_$tbl"

  /** Rewrite schema-qualified names of ATTACHed databases —
    * `aux.t[.col]` → the registered `graft_att_aux_t` view — and
    * `main.t` → bare `t`, token-aware (strings, quoted identifiers
    * and comments are never touched; a name mid-chain after another
    * dot is a column reference and stays). PRAGMA statements are left
    * alone: there the dotted prefix qualifies the pragma name.
    * Caveat (documented deviation): a TABLE ALIAS spelled like an
    * attached schema name would be rewritten too — avoid aliasing
    * tables with attached schema names. */
  def rewriteAttached(spark: SparkSession, sql: String, state: State): String = {
    if (state.attached.isEmpty) return sql
    if ("""(?is)\s*pragma\b.*""".r.matches(sql)) return sql
    val toks = SqliteOperators.tokenize(sql).filterNot(_.kind == ' ')
    def text(t: SqliteOperators.Tok) = sql.substring(t.start, t.end)
    var i = 0
    while (i + 2 < toks.length) {
      val (a, dot, b) = (toks(i), toks(i + 1), toks(i + 2))
      if (a.kind == 'w' && dot.kind == 'p' && text(dot) == "." &&
          (b.kind == 'w' || b.kind == 'q') &&
          !(i > 0 && toks(i - 1).kind == 'p' && text(toks(i - 1)) == ".")) {
        val an = text(a)
        if (an.equalsIgnoreCase("main"))
          return rewriteAttached(spark,
            sql.substring(0, a.start) + sql.substring(b.start), state)
        state.attached.keys.find(_.equalsIgnoreCase(an)) match {
          case Some(k) =>
            val tbl = unquote(text(b))
            val db = state.attached(k)
            val view = db.views.getOrElse(tbl.toLowerCase, {
              // a name first seen AFTER attach (a CREATE TABLE into
              // the attached schema, round 9 — fuzz seed 25): resolve
              // it like attach-time loading — the bare name when
              // free, the schema-mangled view otherwise — but only
              // TENTATIVELY: the binding commits after the statement
              // iff the view actually exists then (i.e. the statement
              // created it), so a failed statement or a no-op like
              // DROP TABLE IF EXISTS never captures a name another
              // schema later creates (ADVICE r9).
              state.pendingAttach.getOrElseUpdate((k, tbl.toLowerCase), {
                if (!spark.catalog.tableExists(tbl)) tbl
                else attViewName(k, tbl)
              })
            })
            return rewriteAttached(spark, sql.substring(0, a.start) +
              s"`$view`" + sql.substring(b.end), state)
          case None => ()
        }
      }
      i += 1
    }
    sql
  }

  /** Promote tentative attach bindings whose backing view now exists
    * (the statement created it) into the attach registry; entries
    * whose view never materialized stay pending and are wiped by
    * [[clearPendingAttachBindings]] at the statement boundary. Called
    * after a statement executes successfully. */
  def commitPendingAttachBindings(spark: SparkSession, state: State): Unit = {
    if (state.pendingAttach.isEmpty) return
    val done = state.pendingAttach.filter { case ((k, tblL), v) =>
      spark.catalog.tableExists(v) && state.attached.contains(k) && {
        val db = state.attached(k)
        state.attached += k -> db.copy(
          views = db.views + (tblL -> v), owned = db.owned :+ v)
        true
      }
    }
    done.keys.foreach(state.pendingAttach -= _)
  }

  /** Drop all tentative attach bindings (statement over or failed). */
  def clearPendingAttachBindings(state: State): Unit =
    state.pendingAttach.clear()

  /** The enforced uniqueness keysets of `table` beyond its PRIMARY
    * KEY: one column list per UNIQUE index / constraint. */
  private def uniqueKeysFor(state: State, table: String): Seq[KeySpec] =
    state.indexes.toSeq
      .filter(i => i.unique && i.table.equalsIgnoreCase(table))
      .map { i =>
        if (i.keyExprs.isEmpty) KeySpec.ofCols(i.table, i.cols)
        else KeySpec(i.cols, i.keyExprs, i.whereText,
          if (i.cols.nonEmpty) i.cols.map(c => s"${i.table}.$c").mkString(", ")
          else s"index '${i.name}'")
      }

  private def snapshot(spark: SparkSession, state: State): Snapshot = {
    val cat = spark.sessionState.catalog
    Snapshot(
      cat.getTempViewNames().flatMap(n => cat.getRawTempView(n).map(n -> _)).toMap,
      state.indexes.toVector,
      state.triggers.toVector,
      state.masterSql.toVector,
      state.userVersion)
  }

  private def restore(spark: SparkSession, state: State, snap: Snapshot): Unit = {
    val cat = spark.sessionState.catalog
    for (n <- cat.getTempViewNames()) cat.dropTempView(n)
    for ((n, d) <- snap.views) cat.createTempView(n, d, overrideIfExists = true)
    state.indexes.clear()
    state.indexes ++= snap.indexes
    state.triggers.clear()
    state.triggers ++= snap.triggers
    state.masterSql.clear()
    state.masterSql ++= snap.masterSql
    state.userVersion = snap.userVersion
  }

  /** Column-metadata key remembering an ADD COLUMN default, so later
    * INSERTs that omit the column fill the default (sqlite3-pinned). */
  val DefaultKey = "graft.dml.default"

  /** Column-metadata key keeping the DEFAULT clause's verbatim SQL
    * text — what `PRAGMA table_info` reports in dflt_value
    * (sqlite3-pinned: `'leg''acy'` shows quoted as written). */
  val DefaultSqlKey = "graft.dml.defaultsql"

  private val Ctas =
    """(?is)\s*create\s+(?:temp(?:orary)?\s+)?table\s+(if\s+not\s+exists\s+)?[`"]?(\w+)[`"]?\s+as\s+(.+)""".r
  private val CreateCols =
    """(?is)\s*create\s+(?:temp(?:orary)?\s+)?table\s+(if\s+not\s+exists\s+)?[`"]?(\w+)[`"]?\s*\((.+)\)\s*""".r
  private val Insert =
    """(?is)\s*(replace|insert(?:\s+or\s+(\w+))?)\s+into\s+[`"]?(\w+)[`"]?\s*(\([^)]*\))?\s*((?:values|select|with|default)\b.+)\s*""".r
  private val CreateView =
    """(?is)\s*create\s+(?:temp(?:orary)?\s+)?view\s+(if\s+not\s+exists\s+)?[`"]?(\w+)[`"]?\s+as\s+(.+)""".r
  private val Drop =
    """(?is)\s*drop\s+(?:table|view)\s+(if\s+exists\s+)?[`"]?(\w+)[`"]?\s*""".r
  // the column list is re-split at the BALANCING close paren in the
  // handler (round 9): `[^)]*` truncated expression indexes like
  // (lower(a)) at the first close paren, so the round-8 "enforced"
  // expression index never parsed — fuzz seed 30 caught it
  private val CreateIndex =
    """(?is)\s*create\s+(unique\s+)?index\s+(if\s+not\s+exists\s+)?[`"]?(\w+)[`"]?\s+on\s+[`"]?(\w+)[`"]?\s*\((.*)\s*""".r
  private val WhereTailRe = """(?is)\s*where\s+(.+)""".r
  private val DropIndex =
    """(?is)\s*drop\s+index\s+(if\s+exists\s+)?[`"]?(\w+)[`"]?\s*""".r
  private val CreateTrigger =
    ("""(?is)\s*create\s+(?:temp(?:orary)?\s+)?trigger\s+(if\s+not\s+exists\s+)?""" +
     """[`\"]?(\w+)[`\"]?\s+(before\s+|after\s+|instead\s+of\s+)?""" +
     """(insert|delete|update(?:\s+of\s+([\w\s,`\"]+?))?)\s+on\s+[`\"]?(\w+)[`\"]?""" +
     """\s*(?:for\s+each\s+row\s*)?(?:when\s+(.+?)\s*)?begin\s+(.+)\s*end\s*""").r
  private val CreateTriggerAny =
    """(?is)\s*create\s+(?:temp(?:orary)?\s+)?trigger\b.*""".r
  private val DropTrigger =
    """(?is)\s*drop\s+trigger\s+(if\s+exists\s+)?[`\"]?(\w+)[`\"]?\s*""".r
  private val Update =
    """(?is)\s*update\s+(?:or\s+\w+\s+)?[`"]?(\w+)[`"]?\s+set\s+(.+)""".r
  // \s* not \b after the optional closing quote: `\b` has no boundary
  // between a closing backtick and the following space, so a DELETE on
  // a backtick-quoted name (rewriteAttached emits them) left the quote
  // glued to the tail (fuzz seed 26)
  private val Delete =
    """(?is)\s*delete\s+from\s+[`"]?(\w+)[`"]?\s*(.*)""".r
  private val AlterRenameTable =
    """(?is)\s*alter\s+table\s+[`"]?(\w+)[`"]?\s+rename\s+to\s+[`"]?(\w+)[`"]?\s*""".r
  private val AlterRenameColumn =
    """(?is)\s*alter\s+table\s+[`"]?(\w+)[`"]?\s+rename\s+(?:column\s+)?[`"]?(\w+)[`"]?\s+to\s+[`"]?(\w+)[`"]?\s*""".r
  private val AlterAddColumn =
    """(?is)\s*alter\s+table\s+[`"]?(\w+)[`"]?\s+add\s+(?:column\s+)?[`"]?(\w+)[`"]?(.*)""".r
  private val AlterDropColumn =
    """(?is)\s*alter\s+table\s+[`"]?(\w+)[`"]?\s+drop\s+(?:column\s+)?[`"]?(\w+)[`"]?\s*""".r
  private val Begin =
    """(?is)\s*begin(?:\s+(?:deferred|immediate|exclusive))?(?:\s+transaction)?\s*""".r
  private val Commit =
    """(?is)\s*(?:commit|end)(?:\s+transaction)?\s*""".r
  private val RollbackTo =
    """(?is)\s*rollback(?:\s+transaction)?\s+to\s+(?:savepoint\s+)?[`"]?(\w+)[`"]?\s*""".r
  private val Rollback =
    """(?is)\s*rollback(?:\s+transaction)?\s*""".r
  private val Savepoint =
    """(?is)\s*savepoint\s+[`"]?(\w+)[`"]?\s*""".r
  private val Release =
    """(?is)\s*release\s+(?:savepoint\s+)?[`"]?(\w+)[`"]?\s*""".r
  private val Maintenance =
    """(?is)\s*(?:vacuum|analyze|reindex)\b.*""".r
  private val Attach =
    """(?is)\s*attach\s+(?:database\s+)?(.+?)\s+as\s+[`"]?(\w+)[`"]?\s*""".r
  private val Detach =
    """(?is)\s*detach\s+(?:database\s+)?[`"]?(\w+)[`"]?\s*""".r
  private val Rejected =
    """(?is)\s*(alter|attach|detach)\b.*""".r
  private val Pragma =
    """(?is)\s*pragma\s+(?:[`"]?\w+[`"]?\s*\.\s*)?[`"]?(\w+)[`"]?\s*(?:\(\s*['"`]?(\w+)['"`]?\s*\)|=\s*(.+?))?\s*""".r

  /** True when `name` is a SQL-created temp VIEW (stores view text and
    * re-resolves) rather than a plan-bound table: DML must reject it
    * like sqlite3 ("cannot modify v because it is a view"). */
  private def isView(spark: SparkSession, name: String): Boolean =
    spark.sessionState.catalog.getRawTempView(name)
      .exists(_.tableMeta.viewText.isDefined)

  private def rejectViewDml(spark: SparkSession, name: String): Unit =
    if (isView(spark, name))
      throw new UnsupportedOperationException(
        s"cannot modify $name because it is a view")

  /** Every DML arm rebinds the view over its previous plan, so a
    * script with hundreds of INSERT/UPDATE/DELETE statements grows a
    * linearly deeper plan — O(statements²) driver-side analysis over
    * the script (VERDICT r4 watch-list #2). Past this node count the
    * rebind materializes via localCheckpoint, cutting lineage back to
    * a leaf; the cost is one write of the (CLI-sized) table amortized
    * over the statements that grew the plan. Schema metadata — the
    * affinity tags — survives the checkpoint. */
  private val CollapseNodes = 128

  /** EXPRESSION-size twin of [[CollapseNodes]], round 12: an estimate
    * of the CODEGEN BYTES the plan will hand janino after
    * CollapseProject/pushdown inlining, replacing the round-11 flat
    * 384-node count (VERDICT r11 #3 — the node count was a crude
    * proxy: it taxed every plain-expression rebind chain with extra
    * checkpoints, ~+7 s/sweep on the i-family at sf0.1, while the
    * real constraint is emitted bytes, dominated by the DIALECT
    * expression classes).
    *
    * History the bound must keep covering: (a) round-10 fuzz seed
    * 2665 — storage-class comparison keys reference their operand ~6
    * times, and once the optimizer pushes predicates through stacked
    * rebind projections every reference INLINES the full lower
    * projection, exponential in statement count (a 6-row table OOMed
    * a 4 GB heap at depth ~7); (b) round-11 fuzz seeds 113/274/302 —
    * janino "Code grows beyond 64 KB" in WholeStageCodegen well under
    * the old 2048-node memory bound, taxing every later query over
    * the table with a failed compile + interpreted fallback.
    * [[inlinedCodegenBytes]] models both: per-expression-class byte
    * weights (a graft dialect expression or a regex node emits
    * hundreds of bytes, a plain comparison a couple dozen) COMPOUNDED
    * through attribute references, exactly the shape optimizer
    * inlining produces, SUMMED over the plan (janino's limit applies
    * to the fused processNext(), not any single expression). 24 KiB
    * is sized for the worst successor: collapsing materializes the
    * CURRENT plan, so the bound must leave room for one more
    * statement's increment (seed-140 calibration: one DELETE over a
    * just-under-threshold chain) before the REAL size reaches
    * janino's 64 KB method limit. Common-subexpression elimination
    * only ever makes the true size smaller than the estimate. */
  private val CollapseInlineBytes = 24L * 1024

  /** Estimated post-inlining codegen bytes of the WHOLE plan's
    * expressions: walk bottom-up, memoize per output attribute the
    * byte estimate of its defining expression with every attribute
    * reference already inlined (O(1) per reference — the exponential
    * blowup is SIMULATED through the memo, never materialized), and
    * SUM over all expression roots. The sum, not the max of a single
    * root: janino's 64 KB limit applies to the generated
    * processNext() METHOD, and whole-stage codegen fuses the whole
    * scan→filter→project chain — every root in the chain lands in
    * the same method (seed 113 measured it: a rebind whose largest
    * single root estimated 4 KB still blew 64 KB, because the
    * method carried all six rebind columns plus the filter).
    * Over-counting is deliberate slack: CollapseProject duplicates a
    * referenced subexpression per reference, and runtime
    * common-subexpression elimination only ever makes the true size
    * smaller than the estimate. Saturates at 2^40 so a deep
    * exponential chain cannot overflow. */
  private def inlinedCodegenBytes(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Long = {
    import org.apache.spark.sql.catalyst.expressions._
    val costs = scala.collection.mutable.HashMap[ExprId, Long]()
    val Cap = 1L << 40
    def weight(e: Expression): Long = e match {
      case _: AttributeReference | _: Literal => 8L
      // a registered static call weighs its StaticInvoke child only
      case _: graft.functions.NamedStaticInvoke => 0L
      // the dialect kernels (SqliteArithExpr, cast/affinity wrappers)
      // each emit hundreds of bytes of Java
      case _ if e.getClass.getName.startsWith("graft.") => 320L
      case _: org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke => 128L
      case _: Cast => 96L
      case _: CaseWhen => 64L
      case _ => 24L
    }
    def cost(e: Expression): Long = {
      val ref = e match {
        case a: AttributeReference => costs.getOrElse(a.exprId, 0L)
        case _ => 0L
      }
      math.min(Cap, weight(e) + ref + e.children.iterator.map(cost).sum)
    }
    var total = 0L
    plan.foreachUp { node =>
      node.expressions.foreach { root =>
        total = math.min(Cap, total + cost(root))
        root.foreach {
          case al: Alias => costs(al.exprId) = math.min(Cap, cost(al.child))
          case _ => ()
        }
      }
    }
    total
  }

  /** Above this estimate, a plan EXECUTION runs with whole-stage
    * codegen off (round 14, VERDICT r13 #1 — the janino tail): the
    * r13 sweep's ~12 interpreted fallbacks were all executions of an
    * UNCOMMITTED statement plan whose single-statement increment
    * (storage-class comparison keys duplicated per rebind column)
    * jumped the estimate from under the collapse bound straight past
    * janino's 64 KB — the constraint probes and the collapse
    * materialization itself then each paid a failed whole-stage
    * compile. Skipping the compile outright is strictly better for
    * these one-shot CLI-sized executions: interpreted evaluation of a
    * few hundred rows costs microseconds, compiling (or failing to
    * compile) tens of KB of generated Java costs milliseconds. 20 KiB
    * covers the estimator's measured undershoot on key-laden stacked
    * shapes — seed 262 estimated 57 KB for a real > 64 KB (1.2×), and
    * seed 2561's partial-index probe over an UNCOLLAPSED est-24 KiB
    * chain still blew 64 KB (~2.7×) — so the threshold sits at
    * 64 KB / 3 ≈ 20 KiB. Plans estimated under it have never been
    * observed to fail; plans over it skip a compile that is at best
    * slow and at worst refused. */
  private val NoCodegenBytes = 20L * 1024

  /** Run `body` (actions over `df`) with whole-stage codegen disabled
    * when `df`'s estimated codegen size exceeds [[NoCodegenBytes]].
    * private[cli]: ScriptRunner guards its query pumps with the same
    * policy. */
  private[cli] def withCodegenPolicy[T](spark: SparkSession,
      df: org.apache.spark.sql.DataFrame)(body: => T): T = {
    val bytes = inlinedCodegenBytes(df.queryExecution.analyzed)
    if (bytes <= NoCodegenBytes) body
    else {
      val key = "spark.sql.codegen.wholeStage"
      val saved = spark.conf.get(key)
      spark.conf.set(key, "false")
      try body finally spark.conf.set(key, saved)
    }
  }

  private def collapseIfDeep(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val nodes = analyzed.collect { case p => p }.size
    lazy val bytes = inlinedCodegenBytes(analyzed)
    if (nodes > CollapseNodes || bytes > CollapseInlineBytes) {
      // the materialization executes THIS plan once — past the
      // codegen threshold it runs interpreted (see NoCodegenBytes)
      if (bytes > NoCodegenBytes) {
        val spark = df.sparkSession
        val key = "spark.sql.codegen.wholeStage"
        val saved = spark.conf.get(key)
        spark.conf.set(key, "false")
        try df.localCheckpoint() finally spark.conf.set(key, saved)
      } else df.localCheckpoint()
    } else df
  }

  /** Handle `stmt` if it is a side-effecting dialect statement.
    * Returns true when handled; false when the statement is a plain
    * query for `spark.sql`. RETURNING rows (if any) are discarded —
    * callers that serialize them use [[executeRows]]. */
  def execute(spark: SparkSession, stmt: String, state: State = new State): Boolean =
    executeRows(spark, stmt, state) != NotHandled

  /** [[execute]] with the RETURNING surface: `Handled(Some(df))` when
    * the DML statement carries a RETURNING clause whose rows the
    * caller must pump through the serializer (evaluated against the
    * pre-rebind plan, so consuming them later is safe). Clauses are
    * read from [[Lexed.classified]] text; `sqlite_master` keeps `stmt`. */
  def executeRows(spark: SparkSession, stmt: String, state: State = new State): Outcome =
    new Lexed(stmt).classified match {
    case Begin() =>
      if (state.txnActive)
        throw new IllegalArgumentException("cannot start a transaction within a transaction")
      state.explicitTxn = Some(snapshot(spark, state))
      Done

    case Commit() =>
      if (!state.txnActive)
        throw new IllegalArgumentException("cannot commit - no transaction is active")
      state.explicitTxn = None
      state.savepoints.clear()
      Done

    case RollbackTo(name) =>
      // restores the named savepoint's capture; the savepoint itself
      // stays live (sqlite3-pinned: ROLLBACK TO sp can repeat), only
      // savepoints nested inside it are discarded
      val idx = state.savepoints.lastIndexWhere(_._1.equalsIgnoreCase(name))
      if (idx < 0)
        throw new IllegalArgumentException(s"no such savepoint: $name")
      restore(spark, state, state.savepoints(idx)._2)
      state.savepoints.remove(idx + 1, state.savepoints.length - (idx + 1))
      Done

    case Rollback() =>
      // restore the outermost capture — BEGIN's, or the first
      // savepoint's when the transaction was started implicitly by
      // SAVEPOINT — and end the transaction (sqlite3-pinned: plain
      // ROLLBACK releases all savepoints, and undoes CREATE TABLE /
      // DROP / ALTER as well as DML)
      if (!state.txnActive)
        throw new IllegalArgumentException("cannot rollback - no transaction is active")
      val outer = state.explicitTxn.getOrElse(state.savepoints.head._2)
      restore(spark, state, outer)
      state.explicitTxn = None
      state.savepoints.clear()
      Done

    case Savepoint(name) =>
      state.savepoints += (name -> snapshot(spark, state))
      Done

    case Release(name) =>
      // releases the named savepoint and everything nested inside it;
      // releasing the outermost savepoint commits (SQLite semantics).
      // Changes are already live in the catalog, so no binding work.
      val idx = state.savepoints.lastIndexWhere(_._1.equalsIgnoreCase(name))
      if (idx < 0)
        throw new IllegalArgumentException(s"no such savepoint: $name")
      state.savepoints.remove(idx, state.savepoints.length - idx)
      Done

    case Maintenance() => Done // performance-only in SQLite; no-op

    case AlterRenameTable(name, newName) =>
      requireTable(spark, name)
      if (isView(spark, name))
        throw new UnsupportedOperationException(s"view $name may not be altered")
      if (spark.catalog.tableExists(newName))
        throw new IllegalArgumentException(
          s"there is already another table or index with this name: $newName")
      val df = spark.table(name) // eager resolution: survives the drop below
      commitTable(spark, newName, df)
      spark.catalog.dropTempView(name)
      // indexes follow the renamed table (SQLite rule)
      state.indexes.mapInPlace(i =>
        if (i.table.equalsIgnoreCase(name)) i.copy(table = newName) else i)
      state.masterSql.mapInPlace { m =>
        val m1 = if (m.tbl.equalsIgnoreCase(name)) m.copy(tbl = newName) else m
        if (m1.typ == "table" && m1.name.equalsIgnoreCase(name))
          m1.copy(name = newName) else m1
      }
      Done

    case AlterRenameColumn(name, oldCol, newCol) =>
      requireTable(spark, name)
      if (isView(spark, name))
        throw new UnsupportedOperationException(s"view $name may not be altered")
      val target = spark.table(name)
      if (!target.columns.exists(_.equalsIgnoreCase(oldCol)))
        throw new IllegalArgumentException(s"""no such column: "$oldCol"""")
      val proj = target.columns.map { c =>
        if (c.equalsIgnoreCase(oldCol)) col(s"`$c`").as(newCol, target.schema(c).metadata)
        else col(s"`$c`")
      }
      commitTable(spark, name, target.select(proj.toIndexedSeq: _*))
      // index definitions follow the renamed column (SQLite rule —
      // a later violation reports the NEW name)
      state.indexes.mapInPlace(i =>
        if (i.table.equalsIgnoreCase(name))
          i.copy(cols = i.cols.map(c => if (c.equalsIgnoreCase(oldCol)) newCol else c))
        else i)
      Done

    case AlterAddColumn(name, colName, rest) =>
      requireTable(spark, name)
      if (isView(spark, name))
        throw new UnsupportedOperationException("Cannot add a column to a view")
      // sqlite3-pinned: the DEFAULT fills EXISTING rows too, and must
      // be a constant literal ("Cannot add a column with non-constant
      // default" — even deterministic calls like abs(-3) are refused)
      val defaultMatch = """(?is)\bdefault\s+(.+)""".r.findFirstMatchIn(rest)
      // constraint keywords live in the type/constraint prefix, never
      // inside the default literal text
      val prefix = defaultMatch.map(m => rest.substring(0, m.start)).getOrElse(rest)
      if ("""(?is).*\bprimary\s+key\b.*""".r.matches(prefix))
        throw new UnsupportedOperationException("Cannot add a PRIMARY KEY column")
      if ("""(?is).*\bunique\b.*""".r.matches(prefix))
        throw new UnsupportedOperationException("Cannot add a UNIQUE column")
      val target = spark.table(name)
      if (target.columns.exists(_.equalsIgnoreCase(colName)))
        throw new IllegalArgumentException(s"duplicate column name: $colName")
      val cd = parseColDef(s"$colName $rest")
      val metaB = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(Affinity.DeclKey, Affinity.declaredTypeText(cd.declType))
      affinityTag(cd.declType).foreach(a =>
        metaB.putString(graft.plans.AffinityOrdering.AffinityKey, a))
      cd.defaultVal.foreach(v => metaB.putString(DefaultKey, v))
      cd.defaultSql.foreach(s => metaB.putString(DefaultSqlKey, s))
      if (cd.notNull) metaB.putString(Affinity.NotNullKey, "1")
      // TEXT-affinity backfill keeps a numeric literal's ORIGINAL
      // SPELLING ('1e2', not '100.0'): sqlite3 backfills from the
      // schema text but evaluates the default on later INSERTs — see
      // parseConstantDefault's scaladoc and the CliSpec pin
      val backfill = cd.defaultVal.map { evaluated =>
        val raw = cd.defaultSql.map(_.trim).map(t =>
          if (t.startsWith("(") && t.endsWith(")"))
            t.substring(1, t.length - 1).trim
          else t)
        raw match {
          case Some(r) if Affinity.hasAffinity(cd.declType) == "TEXT" &&
              Affinity.NumRe.matches(r) => r
          case _ => evaluated
        }
      }
      val added = lit(backfill.orNull).cast(StringType).as(colName, metaB.build())
      commitTable(spark, name,
        target.select((target.columns.map(c => col(s"`$c`")) :+ added).toIndexedSeq: _*))
      Done

    case AlterDropColumn(name, colName) =>
      requireTable(spark, name)
      if (isView(spark, name))
        throw new UnsupportedOperationException(s"view $name may not be altered")
      val target = spark.table(name)
      if (!target.columns.exists(_.equalsIgnoreCase(colName)))
        throw new IllegalArgumentException(s"""no such column: "$colName"""")
      if (target.columns.length == 1)
        throw new IllegalArgumentException(
          s"""cannot drop column "$colName": no other columns exist""")
      // sqlite3 refuses to drop a column an index references
      state.indexes.find(i => i.table.equalsIgnoreCase(name) &&
          i.cols.exists(_.equalsIgnoreCase(colName))).foreach { i =>
        throw new IllegalArgumentException(
          s"error in index ${i.name} after drop column: no such column: $colName")
      }
      val kept = target.columns.filterNot(_.equalsIgnoreCase(colName)).map(c => col(s"`$c`"))
      commitTable(spark, name, target.select(kept.toIndexedSeq: _*))
      Done

    case Attach(pathText, name) =>
      // sqlite3 forbids ATTACH inside a transaction, which keeps the
      // registry out of the snapshot machinery
      if (state.txnActive)
        throw new IllegalArgumentException("cannot ATTACH database within transaction")
      if (name.equalsIgnoreCase("main") || name.equalsIgnoreCase("temp") ||
          state.attached.keys.exists(_.equalsIgnoreCase(name)))
        throw new IllegalArgumentException(s"database $name is already in use")
      val path = unquote(pathText)
      // the attached database is another engine `-dbfile` store
      // (PATH.d/ of parquet generations); a path with no store
      // attaches as an empty schema, like sqlite3 attaching a file
      // that does not exist yet. Attached tables are readable and
      // DML against them rebinds in-memory for this run; they are
      // NOT persisted back on detach (the engine persists only
      // loaded-file rows — GraftSession scaladoc).
      val tables = GraftSession.readDbTables(spark, path)
      val views = Map.newBuilder[String, String]
      val owned = scala.collection.mutable.ArrayBuffer.empty[String]
      for ((tbl, df) <- tables) {
        // sqlite3 resolves UNQUALIFIED names through main, temp, then
        // attached databases in order — when the bare name is free,
        // it IS the backing view (one binding for both spellings);
        // a shadowed table gets a schema-mangled view reachable only
        // through the qualified name
        val view =
          if (!spark.catalog.tableExists(tbl)) tbl
          else attViewName(name, tbl)
        commitTable(spark, view, df)
        views += tbl.toLowerCase -> view
        owned += view
      }
      state.attached += name -> AttachedDb(path, views.result(), owned.toSeq)
      Done

    case Detach(name) =>
      if (state.txnActive)
        throw new IllegalArgumentException("cannot DETACH database within transaction")
      if (name.equalsIgnoreCase("main") || name.equalsIgnoreCase("temp"))
        throw new IllegalArgumentException(
          s"cannot detach database ${name.toLowerCase}")
      state.attached.keys.find(_.equalsIgnoreCase(name)) match {
        case None =>
          throw new IllegalArgumentException(s"no such database: $name")
        case Some(k) =>
          state.attached(k).owned.foreach(spark.catalog.dropTempView(_))
          state.attached -= k
      }
      Done

    case Rejected(kw) =>
      throw new UnsupportedOperationException(
        s"${kw.toUpperCase} statements are not supported by this engine")

    case Ctas(ifNotExists, name, select) =>
      if (spark.catalog.tableExists(name)) {
        if (ifNotExists == null)
          throw new IllegalArgumentException(s"table $name already exists")
      } else {
        // sqlite3-pinned CTAS metadata: the new table keeps each
        // source COLUMN's affinity as its declared type (INTEGER
        // column → "INT", TEXT → "TEXT"; expressions and literals
        // have no affinity → ""), and sheds pk / NOT NULL / DEFAULT —
        // `CREATE TABLE t AS SELECT * FROM a` has no rowid alias, so
        // INSERTs into it do not autoassign.
        val df = SqliteArith.sql(spark, select)
        val tagged = df.select(df.schema.fields.map { f =>
          // the DECLARED type decides affinity when known (script
          // tables tag untyped columns NUMERIC for ordering, but
          // sqlite3 gives an undeclared column no affinity at all)
          val affinity =
            if (f.metadata.contains(Affinity.DeclKey))
              Affinity.hasAffinity(f.metadata.getString(Affinity.DeclKey))
            else if (f.metadata.contains(graft.plans.AffinityOrdering.AffinityKey))
              f.metadata.getString(graft.plans.AffinityOrdering.AffinityKey)
            else "BLOB"
          val declText = affinity match {
            case "INTEGER" => "INT"
            case "TEXT" => "TEXT"
            case "REAL" => "REAL"
            case "NUMERIC" => "NUM"
            case _ => ""
          }
          val m = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .remove(Affinity.PkKey).remove(Affinity.NotNullKey)
            .remove(DefaultKey).remove(DefaultSqlKey)
            .putString(Affinity.DeclKey, declText)
            .build()
          col(s"`${f.name}`").as(f.name, m)
        }.toIndexedSeq: _*)
        commitTable(spark, name, tagged)
      state.masterSql += MasterRow("table", name, name, Some(stmt.trim))
      }
      Done

    case CreateCols(ifNotExists, name, colDefs) =>
      if (spark.catalog.tableExists(name)) {
        if (ifNotExists == null)
          throw new IllegalArgumentException(s"table $name already exists")
      } else {
        // First token of each top-level comma-separated definition is
        // the column name; table-level constraint defs are split off
        // (PRIMARY KEY (cols) is honored, the rest are skipped).
        val constraintKw = Set("primary", "unique", "check", "foreign", "constraint")
        val allDefs = splitTopLevel(colDefs).map(_.trim)
        val (tableCons, defs) =
          allDefs.partition(d => constraintKw.contains(d.split("\\s+", 2).head.toLowerCase))
        val tablePk: Seq[String] = tableCons.flatMap { d =>
          """(?is)\s*primary\s+key\s*\(([^)]*)\)\s*""".r.findFirstMatchIn(d)
            .map(m => nameList(m.group(1))).getOrElse(Nil)
        }
        val parsed = defs.map(parseColDef)
        // a column is a rowid alias only for a single-column PRIMARY
        // KEY declared exactly INTEGER (SQLite's rowid-alias rule:
        // `INT PRIMARY KEY` is NOT an alias)
        val pkCount = parsed.count(_.pk) + tablePk.length
        // Created-table columns are dynamically typed like every sqawk
        // column: the NUMERIC affinity tag gives them SQLite's
        // storage-class ORDER BY / min / max via AffinityOrdering
        // (sqlite3-pinned: values 1,2,103,104 inserted as ints order
        // numerically, not as strings). A per-column DEFAULT literal
        // is remembered so INSERTs omitting the column fill it; the
        // declared type / pk / NOT NULL land in metadata for PRAGMA
        // table_info and the INSERT-time constraint surface.
        val schema = StructType(parsed.map { cd =>
          val metaB = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(Affinity.DeclKey, Affinity.declaredTypeText(cd.declType))
          affinityTag(cd.declType).foreach(a =>
            metaB.putString(graft.plans.AffinityOrdering.AffinityKey, a))
          // a key member records its 1-based position in the key:
          // `PRIMARY KEY (b, a)` lists b first in its errors and in
          // table_info
          val keyPos = if (cd.pk) 1 else tablePk.indexWhere(_.equalsIgnoreCase(cd.name)) + 1
          if (keyPos > 0) {
            val rowid = pkCount == 1 && cd.declType.trim.equalsIgnoreCase("integer")
            metaB.putString(Affinity.PkKey, if (rowid) "rowid" else keyPos.toString)
          }
          if (cd.notNull) metaB.putString(Affinity.NotNullKey, "1")
          cd.defaultVal.foreach(v => metaB.putString(DefaultKey, v))
          cd.defaultSql.foreach(s => metaB.putString(DefaultSqlKey, s))
          StructField(cd.name, StringType, metadata = metaB.build())
        })
        commitTable(spark, name,
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
        state.masterSql += MasterRow("table", name, name, Some(stmt.trim))
        // UNIQUE column / table constraints register as enforced
        // auto-indexes (sqlite3's sqlite_autoindex_* naming, origin
        // "u" in index_list); a pk keyset is already enforced via
        // column metadata, so it is not duplicated here.
        val tableUniques: Seq[Seq[String]] = tableCons.flatMap { d =>
          """(?is)^\s*(?:constraint\s+[`"]?\w+[`"]?\s+)?unique\s*\(([^)]*)\)\s*$""".r
            .findFirstMatchIn(d)
            .map(m => nameList(m.group(1)))
        }
        val colUniques = parsed.filter(cd => cd.unique && !cd.pk).map(cd => Seq(cd.name))
        (colUniques ++ tableUniques).zipWithIndex.foreach { case (cols, i) =>
          val resolved = cols.map(c => parsed.map(_.name)
            .find(_.equalsIgnoreCase(c))
            .getOrElse(throw new IllegalArgumentException(s"no such column: $c")))
          state.indexes += IdxDef(s"sqlite_autoindex_${name}_${i + 1}", name,
            resolved, unique = true, origin = "u")
        }
      }
      Done

    // ---- INSTEAD OF triggers on views (round 9, sqlite3-pinned) ------
    // DML against a view never touches the view: each affected row
    // fires the INSTEAD OF trigger stack (newest-first, per row) with
    // OLD/NEW bound to VIEW rows (computed columns included). Without a
    // matching trigger the statement errors "cannot modify … view" —
    // including an UPDATE whose SET list misses every UPDATE OF column.
    // RETURNING reports the PROPOSED rows (NEW for INSERT/UPDATE, OLD
    // for DELETE) whether or not a WHEN clause suppressed the fire.

    case Insert(_, _, name, colList, body0) if isView(spark, name) =>
      if (triggersFor(state, name, "INSTEAD OF", "INSERT", Nil).isEmpty)
        rejectViewDml(spark, name)
      val (body1, retText) = splitAtTopLevelKeyword(body0, "returning")
      val (body, upsertTail) = splitAtTopLevelKeyword(body1, "on conflict")
      // sqlite3 rejects UPSERT against a view outright (ADVICE r9 —
      // previously the clause was silently stripped and the insert
      // proceeded plain)
      if (upsertTail.exists(_.trim.nonEmpty))
        throw new IllegalArgumentException("cannot UPSERT a view")
      val target = spark.table(name)
      val rowsDf =
        if ("""(?is)\s*default\s+values\s*""".r.matches(body))
          // views have no DEFAULTs: one all-NULL proposed row
          spark.range(1).select(target.columns.map(c =>
            lit(null).cast(StringType).as(c)).toIndexedSeq: _*)
        else
          try SqliteArith.sql(spark, body)
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getCondition != null &&
                  e.getCondition.startsWith("INVALID_INLINE_TABLE") =>
              SqliteArith.sql(spark, stringifyValues(body))
          }
      val bound: Seq[String] = Option(colList).map(_.trim).filter(_.nonEmpty) match {
        case Some(cl) => nameList(cl.stripPrefix("(").stripSuffix(")"))
        case None => target.columns.toSeq
      }
      for (c <- bound if !target.columns.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(s"table $name has no column named $c")
      if (rowsDf.columns.length != bound.length)
        throw new IllegalArgumentException(
          if (Option(colList).forall(_.trim.isEmpty))
            s"table $name has ${target.columns.length} columns but " +
              s"${rowsDf.columns.length} values were supplied"
          else s"${rowsDf.columns.length} values for ${bound.length} columns")
      val srcCols = rowsDf.columns
      // sqlite3-pinned (round-11 fuzz seeds 532/1042): the INSTEAD OF
      // INSERT arm applies NO column affinity to NEW — EXCEPT the
      // OP_RealAffinity step a REAL-affinity view column always gets:
      // INTEGER-storage values present as REAL (-1 → -1.0), while
      // numeric TEXT ('5') stays text and reals/NULL pass through.
      // (Matrix re-pinned this round: REAL applies, NUMERIC/INTEGER/
      // TEXT do not — `INSERT INTO v VALUES (7)` over a REAL base logs
      // 7.0, over NUMERIC logs 100.0 unconverted, over TEXT stays
      // integer 5.)
      def realAffinity(c: String): Boolean =
        target.schema.fields.find(_.name.equalsIgnoreCase(c))
          .exists(f => f.metadata.contains(Affinity.DeclKey) &&
            Affinity.hasAffinity(f.metadata.getString(Affinity.DeclKey)) == "REAL")
      // INTEGER storage is proxied by the VALUES column's native type
      // (quoted text parses as StringType and must STAY text — '5'
      // logs as text '5' in sqlite3, only bare integers realify).
      // Residual corner: an arithmetic expression in the VALUES list
      // reaches here as canonical TEXT and skips the conversion — the
      // same value-provenance class as storeCanonical's documented
      // deviation.
      def opRealAffinity(c: org.apache.spark.sql.Column,
          srcType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column =
        srcType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType =>
            Affinity.canonicalExpr(c.cast(StringType), "REAL")
          case _ => c
        }
      val proposed = rowsDf.select(target.columns.map { c =>
        bound.indexWhere(_.equalsIgnoreCase(c)) match {
          case -1 => lit(null).cast(StringType).as(c)
          case i if realAffinity(c) =>
            opRealAffinity(col(s"`${srcCols(i)}`"), rowsDf.schema(i).dataType).as(c)
          case i => col(s"`${srcCols(i)}`").as(c)
        }
      }.toIndexedSeq: _*)
      fireTriggers(spark, state, name, "INSTEAD OF", "INSERT", Nil,
        proposed.schema,
        withCodegenPolicy(spark, proposed)(proposed.collect()).toSeq
          .map(r => (None, Some(r))))
      Handled(retText.map(returningDf(target, proposed, _)))

    case Update(name, rest0) if isView(spark, name) =>
      val (rest, retText) = splitAtTopLevelKeyword(rest0, "returning")
      val (setClause, whereOpt) = splitAtTopLevelWhere(rest)
      val assigns = splitTopLevel(setClause).map(parseAssignment)
      // read the view through the dialect path: the body re-parses
      // with the arithmetic/affinity rewrites (computed view columns
      // carry sqlite typing, see SqliteArith.inlineViews)
      val target = SqliteArith.sql(spark, s"SELECT * FROM `$name`")
      for ((c, _) <- assigns if !target.columns.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(s"no such column: $c")
      val assignedCols = assigns.map(_._1)
      if (triggersFor(state, name, "INSTEAD OF", "UPDATE", assignedCols).isEmpty)
        rejectViewDml(spark, name)
      // sqlite3-pinned (round-10 fuzz seed 1597): the INSTEAD OF
      // UPDATE arm applies the view column's UNDERLYING affinity to
      // each assigned NEW value (UPDATE v SET a = 100.0 binds NEW.a
      // as integer 100 when a's base column is NUMERIC) — while the
      // INSTEAD OF INSERT arm applies none (100.0 stays real there).
      // Direct-projection view columns carry the base column's
      // declared-affinity metadata, so storeCanonical resolves it;
      // computed view columns carry none and pass through.
      def newValue(c: String): Option[org.apache.spark.sql.Column] =
        assigns.reverse.find(_._1.equalsIgnoreCase(c))
          .map { case (_, t) => storeCanonical(target, target, c, expr(t)) }
      val base = whereOpt
        .map(w => SqliteArith.fixup(spark, target.where(expr(w))))
        .getOrElse(target)
      val oldCols = target.columns.map(c => col(s"`$c`"))
      val newCols = target.columns.map(c => newValue(c).getOrElse(col(s"`$c`")))
      val n = target.columns.length
      val pairsDf = SqliteArith.fixup(spark,
        base.select((oldCols ++ newCols).toIndexedSeq: _*))
      val pairs = withCodegenPolicy(spark, pairsDf)(pairsDf.collect()).toSeq
        .map(r => (Some(Row.fromSeq((0 until n).map(r.get))),
                   Some(Row.fromSeq((n until 2 * n).map(r.get)))))
      fireTriggers(spark, state, name, "INSTEAD OF", "UPDATE", assignedCols,
        target.schema, pairs)
      Handled(retText.map { t =>
        val newRows = base.select(target.columns.map(c =>
          newValue(c).getOrElse(col(s"`$c`")).as(c)).toIndexedSeq: _*)
        returningDf(target, newRows, t)
      })

    case Delete(name, tail0) if isView(spark, name) =>
      val (tail, retText) = splitAtTopLevelKeyword(tail0, "returning")
      val WhereTailV = """(?is)where\s+(.+)""".r
      val condOpt = tail.trim match {
        case "" => None
        case WhereTailV(c) => Some(c)
        case t => throw new IllegalArgumentException(
          s"""near "${t.split("\\s+").head}": syntax error""")
      }
      if (triggersFor(state, name, "INSTEAD OF", "DELETE", Nil).isEmpty)
        rejectViewDml(spark, name)
      val target = SqliteArith.sql(spark, s"SELECT * FROM `$name`")
      val matched = condOpt match {
        case None => target
        case Some(c) => SqliteArith.sql(spark,
          s"SELECT * FROM `$name` WHERE coalesce(($c), false)")
      }
      fireTriggers(spark, state, name, "INSTEAD OF", "DELETE", Nil,
        target.schema,
        withCodegenPolicy(spark, matched)(matched.collect()).toSeq
          .map(r => (Some(r), None)))
      Handled(retText.map(returningDf(target, matched, _)))

    case Insert(verb, orRes, name, colList, body0) =>
      if (!spark.catalog.tableExists(name))
        throw new IllegalArgumentException(s"no such table: $name")
      rejectViewDml(spark, name)
      // REPLACE INTO ≡ INSERT OR REPLACE INTO (SQLite alias); the
      // other conflict resolutions (ABORT/FAIL/ROLLBACK) all surface
      // as the statement erroring, which aborts the one-shot script —
      // same observable as plain INSERT.
      val mode =
        if (verb.trim.equalsIgnoreCase("replace")) "replace"
        else Option(orRes).map(_.toLowerCase).getOrElse("abort") match {
          case "replace" => "replace"
          case "ignore" => "ignore"
          case "abort" | "fail" | "rollback" => "abort"
          case other => throw new IllegalArgumentException(s"""near "$other": syntax error""")
        }
      // SQLite 3.35 dialect tail: `… [ON CONFLICT …] [RETURNING …]`.
      // Both clauses are split at top level (quote/paren-aware), so a
      // SELECT body mentioning a column named `returning` inside
      // parens is unaffected.
      val (body1, retText) = splitAtTopLevelKeyword(body0, "returning")
      val (body, upsertText) = splitAtTopLevelKeyword(body1, "on conflict")
      val upsert = upsertText.map(parseUpsert)
      val target = spark.table(name)
      val aligned: org.apache.spark.sql.DataFrame =
        // `INSERT INTO t DEFAULT VALUES` is one row where every column
        // takes its DEFAULT (or NULL) — and the rowid walk below then
        // autoassigns the key (sqlite3-pinned in CliSpec).
        if ("""(?is)\s*default\s+values\s*""".r.matches(body)) {
          val defaults = target.schema.fields.map { f =>
            val fill =
              if (f.metadata.contains(DefaultKey)) lit(f.metadata.getString(DefaultKey))
              else lit(null)
            fill.cast(f.dataType).as(f.name)
          }
          spark.range(1).select(defaults.toIndexedSeq: _*)
        } else {
          // An UNTYPED/BLOB target column needs per-value text
          // preservation upfront: Spark's inline-table unification
          // would merge (-5, 0.5, 0) into DOUBLE, turning the
          // integer-storage -5 into "-5.0" where sqlite keeps -5
          // (fuzz seed 63). Stringify ONLY the elements bound to such
          // columns (typed CTAS columns keep typed values), and only
          // for VALUES bodies — INSERT…SELECT keeps the typed path.
          def untypedCol(f: StructField): Boolean =
            f.dataType == StringType && Affinity.hasAffinity(
              if (f.metadata.contains(Affinity.DeclKey))
                f.metadata.getString(Affinity.DeclKey) else "") == "BLOB"
          val boundCols: Seq[String] =
            Option(colList).map(_.trim).filter(_.nonEmpty) match {
              case Some(cl) => nameList(cl.stripPrefix("(").stripSuffix(")"))
              case None => target.columns.toSeq
            }
          val untypedPos: Set[Int] = boundCols.zipWithIndex.collect {
            case (c, i) if target.schema.fields
              .find(_.name.equalsIgnoreCase(c)).exists(untypedCol) => i
          }.toSet
          val isValues = """(?is)\s*values\s+.*""".r.matches(body)
          val rows =
            try SqliteArith.sql(spark,
              if (untypedPos.nonEmpty && isValues)
                stringifyValues(body, untypedPos.contains)
              else body)
            catch {
              // SQLite is dynamically typed: VALUES ('x',1),(NULL,'y') is
              // legal there but trips Spark's inline-table type
              // unification. Our tables store canonicalized text anyway,
              // so retry with every scalar cast to string.
              case e: org.apache.spark.sql.AnalysisException
                  if e.getCondition != null &&
                    e.getCondition.startsWith("INVALID_INLINE_TABLE") =>
                SqliteArith.sql(spark, stringifyValues(body))
            }
          Option(colList).map(_.trim).filter(_.nonEmpty) match {
            case None =>
              if (rows.columns.length != target.columns.length)
                throw new IllegalArgumentException(
                  s"table $name has ${target.columns.length} columns but ${rows.columns.length} values were supplied")
              rows.toDF(target.columns.toIndexedSeq: _*)
            case Some(cl) =>
              val names = nameList(cl.stripPrefix("(").stripSuffix(")"))
              if (names.length != rows.columns.length)
                throw new IllegalArgumentException(
                  s"${names.length} columns but ${rows.columns.length} values were supplied")
              // unknown target columns error like sqlite3, instead of the
              // value silently vanishing in the NULL-fill below
              for (n <- names if !target.columns.exists(_.equalsIgnoreCase(n)))
                throw new IllegalArgumentException(
                  s"table $name has no column named $n")
              val named = rows.toDF(names: _*)
              val filled = target.columns.foldLeft(named) { (df, c) =>
                if (names.exists(_.equalsIgnoreCase(c))) df
                else {
                  // a column declared with DEFAULT (CREATE TABLE def or
                  // ALTER TABLE ADD COLUMN) fills its default, not NULL
                  // — EXCEPT the rowid alias, whose DEFAULT sqlite
                  // ignores in favor of autoassign (sqlite3-pinned,
                  // fuzz seed 291: INTEGER PRIMARY KEY DEFAULT '5.5'
                  // with the column omitted autoassigns 1)
                  val m = target.schema(c).metadata
                  val isRowid = m.contains(Affinity.PkKey) &&
                    m.getString(Affinity.PkKey) == "rowid"
                  val fill =
                    if (!isRowid && m.contains(DefaultKey))
                      lit(m.getString(DefaultKey))
                    else lit(null)
                  df.withColumn(c, fill.cast(target.schema(c).dataType))
                }
              }
              filled.select(target.columns.map(col).toIndexedSeq: _*)
          }
        }
      val canon = canonicalizeByAffinity(target, aligned)
      // BEFORE INSERT triggers see each proposed row (pre-autoassign,
      // like sqlite's undefined NEW.rowid there); a body that mutates
      // this table makes us re-read it before applying the batch
      val withTrig = anyTriggers(state, name, "INSERT", Nil)
      val wantUpdTrig = upsert.exists(u => u.set.nonEmpty &&
        anyTriggers(state, name, "UPDATE",
          u.set.map { case (setText, _) =>
            splitTopLevel(setText).map(parseAssignment).map(_._1)
          }.getOrElse(Nil)))
      // One sub-batch through the full insert/upsert chain: BEFORE
      // INSERT per proposed row, conflict resolution, commit, AFTER
      // INSERT per row ACTUALLY INSERTED (OR IGNORE'd conflicts never
      // fire, and an upsert's DO-UPDATE rows are UPDATES, not inserts
      // — round-13 fuzz seed 1856: sqlite fires the UPDATE trigger
      // chain for those instead). Returns the affected rows for
      // RETURNING.
      def applyBatch(batch: org.apache.spark.sql.DataFrame,
          tgt: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        // a BEFORE INSERT body reads NEW.<rowid-alias> as -1 when the
        // proposed key is NULL/omitted — sqlite documents the value as
        // undefined but emits -1 deterministically (pinned against
        // sqlite3 for multi-row, omitted-column and mixed batches;
        // round-14 fuzz seed 10946: a WHEN NEW.a IS NOT NULL gate must
        // fire on the -1, not skip on NULL). The actual insert still
        // autoassigns.
        val rowidIdx = rowidOf(tgt.schema).fold(-1)(tgt.schema.fieldIndex)
        def beforeRow(r: Row): Row =
          if (rowidIdx < 0 || !r.isNullAt(rowidIdx)) r
          else {
            val vals = Array.tabulate[Any](r.length)(r.get)
            vals(rowidIdx) = tgt.schema.fields(rowidIdx).dataType match {
              case org.apache.spark.sql.types.LongType => java.lang.Long.valueOf(-1L)
              case org.apache.spark.sql.types.IntegerType => java.lang.Integer.valueOf(-1)
              case _ => "-1"
            }
            Row.fromSeq(vals.toIndexedSeq)
          }
        val targetNow =
          if (withTrig && fireTriggers(spark, state, name, "BEFORE", "INSERT",
              Nil, tgt.schema, batch.collect().toSeq
                .map(r => (None, Some(beforeRow(r))))))
            spark.table(name)
          else tgt
        val (newTable, affected, inserted, updPairs, updAssigned) = upsert match {
          case Some(u) =>
            applyUpsert(spark, name, targetNow, batch, u, mode, state)
          case None =>
            val (t, a) = applyInsert(spark, name, targetNow, batch, mode, state)
            (t, a, a, Seq.empty[(Option[Row], Option[Row])], Seq.empty[String])
        }
        commitTable(spark, name, collapseIfDeep(newTable))
        if (withTrig)
          fireTriggers(spark, state, name, "AFTER", "INSERT", Nil,
            tgt.schema, inserted.collect().toSeq.map(r => (None, Some(r))))
        if (updPairs.nonEmpty)
          fireTriggers(spark, state, name, "AFTER", "UPDATE", updAssigned,
            tgt.schema, updPairs)
        affected
      }
      // ROW-MAJOR when triggers can observe the batch (round 14,
      // VERDICT r13 #4 + ADVICE r13 #4): sqlite completes one row's
      // BEFORE → apply → AFTER chain before the next row's begins, so
      // a body that mutates THIS table (UPDATE t1 from a BEFORE
      // INSERT trigger) sees earlier rows of the same statement
      // already inserted. Splitting the literal VALUES batch into
      // per-row sub-batches reuses the whole conflict/constraint
      // chain unchanged and reproduces the interleave exactly;
      // trigger-free inserts (every pipeline path) keep the one-pass
      // batch plan. CLI-batch-sized driver loop, like the rest of the
      // trigger surface.
      val affected =
        if (!(withTrig || wantUpdTrig)) applyBatch(canon, target)
        else {
          val rows = canon.collect()
          if (rows.length <= 1) applyBatch(canon, target)
          else rows.toSeq.map { r =>
            val one = spark.createDataFrame(
              java.util.Arrays.asList(r), canon.schema)
            applyBatch(one, spark.table(name))
          }.reduce(_ unionByName _)
        }
      Handled(retText.map(returningDf(target, affected, _)))

    case CreateView(ifNotExists, name, select) =>
      if (spark.catalog.tableExists(name)) {
        if (ifNotExists == null)
          throw new IllegalArgumentException(s"view $name already exists")
      } else {
        SqliteArith.sql(spark, s"CREATE TEMPORARY VIEW `$name` AS $select")
        state.masterSql += MasterRow("view", name, name, Some(stmt.trim))
      }
      Done

    case Update(name, rest0) =>
      if (!spark.catalog.tableExists(name))
        throw new IllegalArgumentException(s"no such table: $name")
      rejectViewDml(spark, name)
      val (rest, retText) = splitAtTopLevelKeyword(rest0, "returning")
      val (setClause, whereOpt) = splitAtTopLevelWhere(rest)
      val assigns = splitTopLevel(setClause).map(parseAssignment)
      val target = spark.table(name)
      for ((n, _) <- assigns if !target.columns.exists(_.equalsIgnoreCase(n)))
        throw new IllegalArgumentException(s"no such column: $n")
      // rightmost assignment to a column wins (SQLite rule); the
      // unconditional new value, shared by the rebind projection, the
      // key walk's frame and the RETURNING row set
      def newValue(c: String): Option[org.apache.spark.sql.Column] =
        assigns.reverse.find(_._1.equalsIgnoreCase(c))
          .map { case (_, exprText) => storeCanonical(target, target, c, expr(exprText)) }
      val assignedCols = assigns.map(_._1)
      def isAssigned(c: String) = assignedCols.exists(_.equalsIgnoreCase(c))
      // every row of `t` with its scan handle — the rowid alias when
      // the table has one; stored order via monotonically_increasing_id
      // otherwise, the documented hidden-rowid approximation — and its
      // evaluated WHERE flag
      def scanned(t: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val scan = rowidOf(t.schema).map(rc => col(s"`$rc`").cast("long"))
          .getOrElse(org.apache.spark.sql.functions.monotonically_increasing_id())
        val hit = whereOpt.map(w => when(expr(w), lit(true)).otherwise(lit(false)))
          .getOrElse(lit(true))
        SqliteArith.fixup(spark, t.select((t.columns.map(c =>
          col(s"`$c`").as(c, t.schema(c).metadata)).toSeq :+
          scan.as("__scan") :+ hit.as("__hit")).toIndexedSeq: _*))
      }
      // ROW-MAJOR trigger interleave (round 15, VERDICT r14 #3):
      // sqlite completes one matched row's BEFORE → apply → AFTER
      // chain before visiting the next row, in rowid scan order. When
      // triggers observe the statement, the scanned table is STAGED
      // once (a localCheckpoint freezing scan handles, WHERE flags and
      // pre-statement values) and each visited row's intermediate
      // state projects from that frozen frame (assignments applied to
      // rows with __scan ≤ the visit point). sqlite declares a BEFORE
      // UPDATE/DELETE body that mutates the affected rows UNDEFINED,
      // so building every intermediate state from the pre-statement
      // stage is observably exact for defined programs.
      val withTrig = anyTriggers(state, name, "UPDATE", assignedCols)
      val staged: Option[org.apache.spark.sql.DataFrame] =
        if (!withTrig) None
        else {
          val plan = scanned(target)
          Some(withCodegenPolicy(spark, plan)(plan.localCheckpoint()))
        }
      // the keysets this statement can change: the PRIMARY KEY or a
      // plain UNIQUE keyset with an assigned column, and every
      // evaluated (expression / COLLATE / partial) keyset, whose
      // referenced columns are not statically known
      val walkSets = keysetsOf(state, name, target.schema)
        .filter(ks => !ks.isPlain || ks.display.exists(isAssigned))
      // one collect of the rows' (scan, hit, OLD, NEW) for the key
      // walk and the trigger visits; the trigger-only frame holds just
      // the hit rows
      def frameOf(base: org.apache.spark.sql.DataFrame): UpdFrame = {
        val cols = target.columns.toSeq
        val news = cols.map(c => newValue(c).getOrElse(col(s"`$c`")))
        // old values in the new values' types (an assigned column
        // stores text), so both generations key in one schema
        val types = base.select(news: _*).schema.fields.map(_.dataType).toSeq
        val olds = cols.zip(types).map { case (c, t) => col(s"`$c`").cast(t) }
        val sel = SqliteArith.fixup(spark,
          (if (walkSets.isEmpty) base.where(col("__hit")) else base)
            .select((Seq(col("__scan"), col("__hit")) ++ olds ++ news).toIndexedSeq: _*))
        val n = cols.length
        val rows = withCodegenPolicy(spark, sel)(sel.collect()).toSeq.map(r => UpdRow(
          if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
          !r.isNullAt(1) && r.getBoolean(1),
          Row.fromSeq((2 until 2 + n).map(r.get)),
          Row.fromSeq((2 + n until 2 + 2 * n).map(r.get))))
        UpdFrame(rows.sortBy(_.scan), StructType(target.schema.fields.zip(types)
          .map { case (f, t) => f.copy(dataType = t) }))
      }
      val frame =
        if (walkSets.isEmpty && !withTrig) None
        else Some(frameOf(staged.getOrElse(scanned(target))))
      // visit-ordered matched rows, for the trigger chain
      val updVisits: Seq[UpdRow] =
        if (withTrig) frame.get.rows.filter(_.hit) else Nil
      val updPairs: Seq[(Option[Row], Option[Row])] =
        updVisits.map(v => (Some(v.old), Some(v.nw)))
      val rowMajor = updVisits.length > 1
      // phase-major only for the 0/1-row case (identical interleave);
      // a BEFORE body may have mutated this table there, so the
      // rebind re-reads the view
      val firedBefore = !rowMajor && fireTriggers(spark, state, name,
        "BEFORE", "UPDATE", assignedCols, target.schema, updPairs)
      // a BEFORE body may have mutated this table: rebuild the rebind
      // over the current view (the WHERE/SET texts re-resolve there)
      val rebindTarget = if (firedBefore) spark.table(name) else target
      val proj = rebindTarget.columns.map { c =>
        newValue(c) match {
          case Some(assigned) =>
            (whereOpt match {
              case Some(w) => when(expr(w), assigned).otherwise(col(s"`$c`"))
              case None    => assigned
            }).as(c, rebindTarget.schema(c).metadata)
          case None => col(s"`$c`")
        }
      }
      // Collapse BEFORE the NOT NULL probe: a key-laden WHERE
      // duplicated per rebind column can jump this one statement's
      // plan past janino's 64 KB, and the probe would pay the failed
      // compile; collapsing first (with the codegen-off
      // materialization past NoCodegenBytes) hands it a leaf instead.
      val updated = collapseIfDeep(SqliteArith.fixup(spark,
        rebindTarget.select(proj.toIndexedSeq: _*)))
      // constraints, in this precedence: the key walk, NOT NULL on the
      // assigned columns (one probe), the rowid alias's datatype. An
      // assigned rowid touches the PRIMARY KEY, so the frame holds
      // every row then. A BEFORE body that ran may have changed the
      // table, so the walk reads it again.
      val walked =
        if (firedBefore && walkSets.nonEmpty) Some(frameOf(scanned(rebindTarget)))
        else frame
      if (walkSets.nonEmpty) updateWalk(spark, walkSets, walked.get)
      checkNotNull(name, rebindTarget.schema, updated, assignedCols)
      for (rc <- rowidOf(target.schema) if isAssigned(rc);
           i = target.schema.fieldIndex(rc); v <- walked.get.rows if v.hit)
        if (v.nw.isNullAt(i) ||
            !Affinity.IntRe.matches(ScriptRunner.renderValue(v.nw.get(i))))
          throw new IllegalArgumentException("datatype mismatch")
      if (!rowMajor) {
        commitTable(spark, name, updated)
        fireTriggers(spark, state, name, "AFTER", "UPDATE", assignedCols,
          target.schema, updPairs)
      } else {
        // row-major: per visited row, BEFORE → commit the state with
        // assignments applied through this row → AFTER, so an AFTER
        // body querying the table sees the partial application
        // exactly where sqlite's walk would. Constraints were checked
        // above, BEFORE any firing — an erroring statement leaves the
        // table untouched, like sqlite's statement rollback.
        // CLI-batch-sized driver loop, same class as the INSERT
        // sub-batches.
        val st = staged.get
        for (v <- updVisits) {
          fireTriggers(spark, state, name, "BEFORE", "UPDATE", assignedCols,
            target.schema, Seq((Some(v.old), Some(v.nw))))
          val projJ = target.columns.map { c =>
            newValue(c) match {
              case Some(assigned) =>
                when(col("__hit") && col("__scan") <= lit(v.scan), assigned)
                  .otherwise(col(s"`$c`")).as(c, target.schema(c).metadata)
              case None => col(s"`$c`")
            }
          }
          val stateJ = SqliteArith.fixup(spark, st.select(projJ.toIndexedSeq: _*))
          commitTable(spark, name, stateJ)
          fireTriggers(spark, state, name, "AFTER", "UPDATE", assignedCols,
            target.schema, Seq((Some(v.old), Some(v.nw))))
        }
      }
      // RETURNING sees the NEW values of exactly the rows the WHERE
      // matched (sqlite3-pinned)
      Handled(retText.map { t =>
        val base = whereOpt
          .map(w => SqliteArith.fixup(spark, target.where(expr(w))))
          .getOrElse(target)
        val newRows = base.select(target.columns.map(c =>
          newValue(c).getOrElse(col(s"`$c`")).as(c, target.schema(c).metadata))
          .toIndexedSeq: _*)
        returningDf(target, newRows, t)
      })

    case Delete(name, tail0) =>
      if (!spark.catalog.tableExists(name))
        throw new IllegalArgumentException(s"no such table: $name")
      rejectViewDml(spark, name)
      val (tail, retText) = splitAtTopLevelKeyword(tail0, "returning")
      val WhereTail = """(?is)where\s+(.+)""".r
      val condOpt = tail.trim match {
        case "" => None
        case WhereTail(c) => Some(c)
        case t => throw new IllegalArgumentException(
          s"""near "${t.split("\\s+").head}": syntax error""")
      }
      val target = spark.table(name)
      val deleted = condOpt match {
        case None => target
        case Some(c) => SqliteArith.sql(spark, s"SELECT * FROM `$name` WHERE coalesce(($c), false)")
      }
      // DELETE triggers: OLD = each row about to go, visited in rowid
      // scan order. Multi-row deletes interleave ROW-MAJOR (round 15,
      // VERDICT r14 #3, same staged-frame plan as UPDATE): per row,
      // BEFORE fires, the state with rows deleted THROUGH this visit
      // commits, AFTER fires — sqlite's walk. Bodies that mutate the
      // affected rows are UNDEFINED in sqlite, so the frozen
      // pre-statement stage is observably exact for defined programs.
      val delScanCol: org.apache.spark.sql.Column =
        rowidOf(target.schema).map(rc => col(s"`$rc`").cast("long"))
          .getOrElse(org.apache.spark.sql.functions.monotonically_increasing_id())
      val stagedDel: Option[org.apache.spark.sql.DataFrame] =
        if (!anyTriggers(state, name, "DELETE", Nil)) None
        else {
          val hitCol = condOpt
            .map(c => expr(s"coalesce(($c), false)")).getOrElse(lit(true))
          val plan = SqliteArith.fixup(spark, target.select(
            (target.columns.map(c => col(s"`$c`").as(c, target.schema(c).metadata))
              .toSeq :+ delScanCol.as("__scan") :+ hitCol.as("__hit"))
              .toIndexedSeq: _*))
          Some(withCodegenPolicy(spark, plan)(plan.localCheckpoint()))
        }
      val delVisits: Seq[(Long, Row)] = stagedDel match {
        case None => Nil
        case Some(st) =>
          val n = target.columns.length
          st.where(col("__hit")).collect().toSeq
            .map(r => (if (r.isNullAt(n)) Long.MinValue else r.getLong(n),
              Row.fromSeq((0 until n).map(r.get))))
            .sortBy(_._1)
      }
      val delPairs: Seq[(Option[Row], Option[Row])] =
        delVisits.map { case (_, o) => (Some(o), None) }
      val rowMajorDel = delVisits.length > 1
      val firedBeforeDel = !rowMajorDel && fireTriggers(spark, state, name,
        "BEFORE", "DELETE", Nil, target.schema, delPairs)
      if (!rowMajorDel) {
        val rebound = condOpt match {
          case None =>
            (if (firedBeforeDel) spark.table(name) else target).limit(0)
          case Some(c) => SqliteArith.sql(spark, s"SELECT * FROM `$name` WHERE NOT coalesce(($c), false)")
        }
        commitTable(spark, name, collapseIfDeep(rebound))
        fireTriggers(spark, state, name, "AFTER", "DELETE", Nil,
          target.schema, delPairs)
      } else {
        val st = stagedDel.get
        val origCols = target.columns
          .map(c => col(s"`$c`").as(c, target.schema(c).metadata))
        for ((scanJ, o) <- delVisits) {
          fireTriggers(spark, state, name, "BEFORE", "DELETE", Nil,
            target.schema, Seq((Some(o), None)))
          val stateJ = st.where(!(col("__hit") && col("__scan") <= lit(scanJ)))
            .select(origCols.toIndexedSeq: _*)
          commitTable(spark, name, stateJ)
          fireTriggers(spark, state, name, "AFTER", "DELETE", Nil,
            target.schema, Seq((Some(o), None)))
        }
      }
      // RETURNING sees the OLD values of the deleted rows
      Handled(retText.map(returningDf(target, deleted, _)))

    case CreateIndex(unique, ifNotExists, idxName, tblName, colsAndTail) =>
      val (colText, tail) = splitBalanced(colsAndTail)
      // SQLite indexes change performance, never results; Catalyst
      // plans declaratively, so a plain CREATE INDEX is a planning
      // no-op — but it still registers (PRAGMA index_list and DROP
      // INDEX see it, and its name is reserved, like sqlite3). A
      // UNIQUE index is different: it constrains every later INSERT /
      // UPDATE, so it parses its column list, checks the EXISTING
      // rows, and registers as an enforced keyset (read by
      // insertWalk / updateWalk / applyUpsert through keysetsOf).
      // Expression, COLLATE and partial (WHERE) UNIQUE indexes
      // enforce through evaluated keysets (round 7); plain indexes
      // keep accepting any column-list text as a pure no-op.
      requireTable(spark, tblName)
      if (spark.catalog.tableExists(idxName))
        throw new IllegalArgumentException(s"there is already a table named $idxName")
      if (state.indexes.exists(_.name.equalsIgnoreCase(idxName))) {
        if (ifNotExists == null)
          throw new IllegalArgumentException(s"index $idxName already exists")
        Done
      } else {
        val IdxCol = """(?is)\s*[`"]?(\w+)[`"]?(?:\s+(?:asc|desc))?\s*""".r
        val items = splitTopLevel(colText).map(_.trim)
        val plainCols: Option[Seq[String]] =
          if (items.forall(IdxCol.matches)) Some(items.map {
            case IdxCol(c) => c
          }) else None
        if (unique != null) {
          val whereText: Option[String] = tail.trim match {
            case "" => None
            case WhereTailRe(w) => Some(w)
            case t => throw new IllegalArgumentException(
              s"""near "${t.split("\\s+").head}": syntax error""")
          }
          val target = spark.table(tblName)
          def resolveCol(c: String): String = target.columns
            .find(_.equalsIgnoreCase(c))
            .getOrElse(throw new IllegalArgumentException(s"no such column: $c"))
          (plainCols, whereText) match {
            case (Some(cols), None) =>
              // plain column keyset: the established fast path
              val resolved = cols.map(resolveCol)
              checkExistingUnique(target, tblName, resolved)
              state.indexes += IdxDef(idxName, tblName, resolved, unique = true)
            case _ =>
              // round 7: expression / COLLATE / partial UNIQUE
              // indexes enforce through EVALUATED keysets. COLLATE
              // folds to the collation's key function (NOCASE folds
              // ASCII only, like sqlite3; RTRIM strips trailing
              // spaces); expressions keep their verbatim SQL.
              val IdxCollate =
                """(?is)\s*[`"]?(\w+)[`"]?\s+collate\s+(\w+)(?:\s+(?:asc|desc))?\s*""".r
              val IdxColRe =
                """(?is)\s*[`"]?(\w+)[`"]?(?:\s+(?:asc|desc))?\s*""".r
              val displayCols = scala.collection.mutable.ArrayBuffer.empty[String]
              var allCols = true
              val exprTexts = items.map {
                case IdxCollate(c, coll) =>
                  val rc = resolveCol(c); displayCols += rc
                  coll.toUpperCase match {
                    case "BINARY" | "UTF8_BINARY" => s"`$rc`"
                    // UTF8_LCASE: the statement text reaches this
                    // handler AFTER SqliteOperators.rewrite mapped
                    // sqlite's NOCASE to Spark's collation name
                    // (fuzz seed 10 — the raw spelling never arrives)
                    case "NOCASE" | "UTF8_LCASE" =>
                      s"translate(`$rc`, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', " +
                        "'abcdefghijklmnopqrstuvwxyz')"
                    case "RTRIM" => s"rtrim(`$rc`)"
                    case other => throw new IllegalArgumentException(
                      s"no such collation sequence: $other")
                  }
                case IdxColRe(c) =>
                  val rc = resolveCol(c); displayCols += rc; s"`$rc`"
                case exprText =>
                  allCols = false; exprText
              }
              val errText =
                if (allCols) displayCols.map(c => s"$tblName.$c").mkString(", ")
                else s"index '$idxName'"
              val spec = KeySpec(
                if (allCols) displayCols.toSeq else Nil,
                exprTexts, whereText, errText)
              checkExistingUniqueSpec(spark, target, spec)
              state.indexes += IdxDef(idxName, tblName,
                if (allCols) displayCols.toSeq else Nil, unique = true,
                keyExprs = exprTexts, whereText = whereText)
          }
          state.masterSql += MasterRow("index", idxName, tblName, Some(stmt.trim))
        } else {
          // validate plain identifier lists like sqlite3; expression
          // index text stays unvalidated (registered no-op)
          plainCols.foreach(_.foreach { c =>
            if (!spark.table(tblName).columns.exists(_.equalsIgnoreCase(c)))
              throw new IllegalArgumentException(s"no such column: $c")
          })
          state.indexes += IdxDef(idxName, tblName,
            plainCols.getOrElse(Nil), unique = false)
          state.masterSql += MasterRow("index", idxName, tblName, Some(stmt.trim))
        }
        Done
      }

    case DropIndex(ifExists, idxName) =>
      val idx = state.indexes.indexWhere(_.name.equalsIgnoreCase(idxName))
      if (idx < 0) {
        if (ifExists == null)
          throw new IllegalArgumentException(s"no such index: $idxName")
      } else {
        state.indexes.remove(idx)
        state.masterSql.filterInPlace(m =>
          !(m.typ == "index" && m.name.equalsIgnoreCase(idxName)))
      }
      Done

    case CreateTrigger(ifNotExists, trgName, timing0, event0, updCols,
        tblName, whenText, bodyText) =>
      val timing = Option(timing0)
        .map(_.trim.toUpperCase.replaceAll("\\s+", " ")).getOrElse("AFTER")
      val event = event0.trim.split("\\s+").head.toUpperCase
      requireTable(spark, tblName)
      // sqlite3-pinned placement matrix: INSTEAD OF exists only on
      // views; BEFORE/AFTER only on tables
      if (timing == "INSTEAD OF") {
        if (!isView(spark, tblName))
          throw new IllegalArgumentException(
            s"cannot create INSTEAD OF trigger on table: $tblName")
      } else if (isView(spark, tblName))
        throw new IllegalArgumentException(
          s"cannot create $timing trigger on view: $tblName")
      if (state.triggers.exists(_.name.equalsIgnoreCase(trgName))) {
        if (ifNotExists == null)
          throw new IllegalArgumentException(s"trigger $trgName already exists")
      } else {
        val cols = Option(updCols).map(nameList).getOrElse(Nil)
        state.triggers += TriggerDef(trgName, tblName, timing, event, cols,
          Option(whenText).map(_.trim).filter(_.nonEmpty),
          ScriptRunner.splitStatements(bodyText))
        state.masterSql += MasterRow("trigger", trgName, tblName, Some(stmt.trim))
      }
      Done

    case CreateTriggerAny() => // malformed / unsupported trigger shape
      throw new IllegalArgumentException(
        """near "TRIGGER": syntax error""")

    case DropTrigger(ifExists, trgName) =>
      val idx = state.triggers.indexWhere(_.name.equalsIgnoreCase(trgName))
      if (idx < 0) {
        if (ifExists == null)
          throw new IllegalArgumentException(s"no such trigger: $trgName")
      } else {
        state.triggers.remove(idx)
        state.masterSql.filterInPlace(m =>
          !(m.typ == "trigger" && m.name.equalsIgnoreCase(trgName)))
      }
      Done

    case Drop(ifExists, name) =>
      val existed = spark.catalog.dropTempView(name)
      if (!existed && ifExists == null)
        throw new IllegalArgumentException(s"no such table: $name")
      // DROP TABLE drops the table's indexes AND triggers with it
      // (SQLite rule, trigger half sqlite3-pinned round 7)
      if (existed) {
        state.indexes.filterInPlace(!_.table.equalsIgnoreCase(name))
        state.triggers.filterInPlace(!_.table.equalsIgnoreCase(name))
        state.masterSql.filterInPlace(m =>
          !(m.tbl.equalsIgnoreCase(name) || m.name.equalsIgnoreCase(name)))
      }
      Done

    case _ => NotHandled
  }

  /** Materialize `sqlite_master` as a temp view for a statement that
    * references it (round 7): script-created objects in creation
    * order with their verbatim CREATE text, plus UNIQUE-constraint
    * auto-indexes (sql NULL, like sqlite3). rootpage is synthesized
    * (tables/indexes count up from 2, views/triggers 0) — pins
    * compare type/name/tbl_name/sql. Scope: this run's
    * script-created objects; ingest tables are not listed. */
  def bindSqliteMaster(spark: SparkSession, state: State): Unit = {
    val auto = state.indexes.filter(i => !state.masterSql.exists(m =>
      m.typ == "index" && m.name.equalsIgnoreCase(i.name)))
      .map(i => MasterRow("index", i.name, i.table, None))
    var page = 1
    val data: Seq[Row] = (state.masterSql.toSeq ++ auto).map { m =>
      val rp =
        if (m.typ == "table" || m.typ == "index") { page += 1; page } else 0
      Row(m.typ, m.name, m.tbl, rp, m.sql.orNull)
    }
    val schema = StructType(Seq(
      StructField("type", StringType), StructField("name", StringType),
      StructField("tbl_name", StringType),
      StructField("rootpage", org.apache.spark.sql.types.IntegerType),
      StructField("sql", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
      .createOrReplaceTempView("sqlite_master")
  }

  // ------------------------------------------------------------------
  // Trigger firing (round 7). Row-at-a-time by construction — the
  // trigger surface IS sqlite's row-wise semantics, so the driver-side
  // collect per fired statement is the contract, not a scale concern
  // (scripts are CLI-sized; the analytic library never defines
  // triggers).
  // ------------------------------------------------------------------

  /** Matching triggers, NEWEST-FIRST (sqlite3-pinned: two AFTER
    * INSERT triggers fire in reverse creation order for each row);
    * UPDATE OF lists match only when an assigned column is named;
    * triggers currently mid-fire never match (recursive_triggers
    * off, sqlite's default). */
  private def triggersFor(state: State, table: String, timing: String,
      event: String, assigned: Seq[String]): Seq[TriggerDef] =
    state.triggers.reverseIterator.filter(t =>
      t.table.equalsIgnoreCase(table) && t.timing == timing &&
        t.event == event &&
        (event != "UPDATE" || t.updateCols.isEmpty ||
          t.updateCols.exists(c => assigned.exists(_.equalsIgnoreCase(c)))) &&
        !state.firing.contains(t.name.toLowerCase)).toSeq

  private def anyTriggers(state: State, table: String, event: String,
      assigned: Seq[String]): Boolean =
    triggersFor(state, table, "BEFORE", event, assigned).nonEmpty ||
      triggersFor(state, table, "AFTER", event, assigned).nonEmpty

  /** Render one stored value as a SQL literal for OLD./NEW.
    * substitution: NULL bare; numeric-storage values unquoted (their
    * canonical text IS the literal); everything else quoted with ''
    * doubling. A TEXT-affinity column is always quoted — its storage
    * is text even for numeric-looking values. */
  private def trigLit(f: StructField, v: Any): String =
    if (v == null) "NULL"
    else {
      val s = ScriptRunner.renderValue(v)
      val aff = Affinity.hasAffinity(
        if (f.metadata.contains(Affinity.DeclKey))
          f.metadata.getString(Affinity.DeclKey) else "")
      if (aff != "TEXT" && Affinity.isNumeric(s)) s.trim
      else "'" + s.replace("'", "''") + "'"
    }

  /** Substitute OLD.col / NEW.col references with the fired row's
    * literals. A reference spelled inside a string literal is text,
    * not a name (round-8 advice: `VALUES ('NEW.a is set')` keeps its
    * literal content), while `NEW."a"` — a quoted column name —
    * substitutes. References to the absent side (OLD in an INSERT
    * trigger, NEW in DELETE) error like unresolved names. */
  private def substituteRefs(text: String, schema: StructType,
      oldR: Option[Row], newR: Option[Row]): String = {
    def refLit(which: String, colName: String): String = {
      val rowOpt = if (which == "new") newR else oldR
      rowOpt match {
        case None => throw new IllegalArgumentException(
          s"no such column: $which.$colName")
        case Some(row) =>
          val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(colName))
          if (i < 0) throw new IllegalArgumentException(
            s"no such column: $which.$colName")
          trigLit(schema.fields(i), row.get(i))
      }
    }
    val l = new Lexed(text)
    l.rewrite(i => qualifiedRef(l, i, Set("new", "old"))
      .map { case (which, colName, next) => (refLit(which, colName), next) })
  }

  /** Fire `timing`×`event` triggers for each (OLD, NEW) pair —
    * row-major WITHIN one timing×event call. Returns true when at
    * least one trigger body ran (the caller then re-reads the table:
    * a body may mutate it).
    *
    * Batch ordering: every multi-row DML statement interleaves
    * ROW-MAJOR now — INSERT/upsert via per-row sub-batches (round 14,
    * ADVICE r13 #4), UPDATE/DELETE via the staged-frame visit loop
    * (round 15, VERDICT r14 #3: a frozen localCheckpoint of the
    * pre-statement table with scan handle + evaluated WHERE flag;
    * each visited row fires BEFORE, commits the state applied through
    * its scan position, fires AFTER) — so one row's
    * BEFORE → apply → AFTER chain completes before the next row's
    * begins, in rowid scan order (hidden-rowid tables approximate
    * scan order by stored order, the documented family). sqlite
    * declares a BEFORE UPDATE/DELETE body that changes the rows
    * being updated/deleted UNDEFINED (sqlite.org/lang_createtrigger
    * §cautions), which is why the UPDATE/DELETE walk may build every
    * intermediate state from the frozen pre-statement stage. The
    * fuzz generator pins the exact firing sequence via a
    * rowid-alias-ordered audit log (SqlScriptFuzz's alog arm). */
  private def fireTriggers(spark: SparkSession, state: State, table: String,
      timing: String, event: String, assigned: Seq[String],
      schema: StructType, rows: Seq[(Option[Row], Option[Row])]): Boolean = {
    val trigs = triggersFor(state, table, timing, event, assigned)
    if (trigs.isEmpty || rows.isEmpty) return false
    var fired = false
    for ((oldR, newR) <- rows;
         t <- trigs if !state.firing.contains(t.name.toLowerCase)) {
      def sub(s: String) = substituteRefs(s, schema, oldR, newR)
      val fires = t.when.forall { w =>
        val v = SqliteArith.sql(spark,
          s"SELECT (${SqliteOperators.rewrite(sub(w))})").head().get(0)
        // SQLite truthiness: NULL is false, anything else converts
        // to a number and compares against 0
        v != null && graft.functions.SqliteSum
          .coerce(ScriptRunner.renderValue(v))._1 != 0.0
      }
      if (fires) {
        fired = true
        state.firing += t.name.toLowerCase
        try for (stmt <- t.body) {
          val sql = rewriteAttached(spark, SqliteOperators.rewrite(sub(stmt)), state)
          pragmaRows(spark, sql, state) match {
            case Some(_) => ()
            case None => executeRows(spark, sql, state) match {
              case NotHandled =>
                // a bare SELECT in a trigger body is evaluated and
                // its rows discarded (sqlite semantics)
                SqliteArith.sql(spark, sql).collect()
              case _ => ()
            }
          }
          // commit (don't clear) so the outer statement's own
          // tentative bindings survive the nested execution
          commitPendingAttachBindings(spark, state)
        } finally state.firing -= t.name.toLowerCase
      }
    }
    fired
  }

  private def requireTable(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.tableExists(name))
      throw new IllegalArgumentException(s"no such table: $name")

  /** sqlite3's UNIQUE-violation error, listing the keyset's columns
    * in index order. */
  private def uniqueErr(table: String, cols: Seq[String]): Nothing =
    throw new IllegalArgumentException(
      "UNIQUE constraint failed: " + cols.map(c => s"$table.$c").mkString(", "))

  private def uniqueErrText(errText: String): Nothing =
    throw new IllegalArgumentException(s"UNIQUE constraint failed: $errText")

  /** Normalized key text for unique comparisons over an EVALUATED key
    * column. With `textAffinity=false` (numeric/NONE storage) it is one
    * call of the `graft_unique_key` kernel, [[Canonical.normNumText]]:
    * numeric text collapses to ONE key per VALUE (round-7 fuzz seed
    * 364: a unique index over {100, 100.0} fails in sqlite3), and
    * integer text keeps its exact int64 text (round-8 advice). With
    * `textAffinity=true` the key compares verbatim: a TEXT-affinity
    * column holds only TEXT storage, where '100' and '100.0' are
    * distinct keys (sqlite3-pinned, round-8 advice). */
  private def normKeyCol(c: org.apache.spark.sql.Column,
      textAffinity: Boolean): org.apache.spark.sql.Column = {
    val s = c.cast(StringType)
    if (textAffinity) s
    else org.apache.spark.sql.functions.call_function("graft_unique_key", s)
  }

  /** Driver-side twin of [[normKeyCol]]: the same function. */
  private def normKeyVal(v: Any, textAffinity: Boolean): String = v match {
    case null => null
    case s: String => if (textAffinity) s else Canonical.normNumText(s)
    case u: org.apache.spark.unsafe.types.UTF8String =>
      normKeyVal(u.toString, textAffinity)
    case other =>
      val r = ScriptRunner.renderValue(other)
      if (textAffinity) r else Canonical.normNumText(r)
  }

  /** SQLite comparison affinity of a column, from the declared-type /
    * ordering-tag metadata ("NONE" when undeclared). */
  private def fieldAffinity(f: StructField): String =
    if (f.metadata.contains(Affinity.DeclKey))
      Affinity.hasAffinity(f.metadata.getString(Affinity.DeclKey))
    else if (f.metadata.contains(graft.plans.AffinityOrdering.AffinityKey))
      f.metadata.getString(graft.plans.AffinityOrdering.AffinityKey)
    else "NONE"

  private val TextFns = Set("lower", "upper", "substr", "substring", "trim",
    "ltrim", "rtrim", "replace", "hex", "quote", "typeof", "char", "printf",
    "format", "concat", "group_concat")

  /** True iff the key expression IS a single text-returning function
    * call — the call's parens must span the whole expression. A mere
    * text-function PREFIX is not enough: `lower(c) + 1` is numeric
    * storage in sqlite (arithmetic coerces), so '100' and '100.0'
    * must still merge under value-class comparison (ADVICE r10: a
    * prefix-anchored match classified it as TEXT and made them
    * distinct unique-index keys). */
  private def textFnSpansKey(e: String): Boolean = {
    val l = new Lexed(e)
    val f = l.sig(0)
    val open = l.sig(f + 1)
    TextFns(l.word(f)) && l.is(open, '(') && l.close(open) == l.lastSig
  }

  /** Strip redundant whole-span outer parens — `(lower(a) || b)`
    * compares exactly like `lower(a) || b` in sqlite, but neither the
    * whole-span call check nor the top-level-operator scan can see
    * through the wrapper. Leaves `(a) || (b)` alone (the first paren
    * closes before the end). */
  @annotation.tailrec
  private def stripOuterParens(e: String): String = {
    val l = new Lexed(e)
    val open = l.sig(0)
    if (l.is(open, '(') && l.close(open) == l.lastSig)
      stripOuterParens(l.render(open + 1, l.lastSig))
    else e.trim
  }

  private val BoolOps =
    Set("and", "or", "not", "in", "like", "glob", "regexp", "match", "is", "between")

  /** True iff the key expression carries a top-level `||` and no
    * other top-level operator: sqlite's `||` ALWAYS yields TEXT
    * storage, so a composite key like `lower(a) || b` — where the
    * text-function call does not span the whole expression — still
    * holds TEXT keys and must keep '100' vs '100.0' distinct
    * (ADVICE r11: the whole-span check alone regressed this shape to
    * value-class). A lower-precedence arithmetic/comparison/boolean
    * tail re-coerces to numeric storage (`lower(a) || b + 1` parses
    * as (concat)+1 since `||` binds tightest), so ANY other top-level
    * operator keeps value-class comparison. A sign is binary only
    * after an operand. */
  private def topLevelConcat(e: String): Boolean = {
    val l = new Lexed(e)
    var concat = false
    var other = false
    var prev = -1 // the previous top-level token
    for (i <- 0 until l.n if l.toks(i).kind != ' ' &&
        (l.depth(i) == 0 || (l.depth(i) == 1 && l.is(i, ')')))) {
      if (l.is(i, '|')) {
        if (l.is(i + 1, '|')) concat = true
        else if (!l.is(i - 1, '|')) other = true // single | is bitwise-or: numeric
      } else if (l.toks(i).kind == 'p' && "*/%<>=!&~".contains(l.text(i))) other = true
      else if ((l.is(i, '+') || l.is(i, '-')) && prev >= 0 &&
          (l.toks(prev).kind != 'p' || l.is(prev, ')'))) other = true
      else if (BoolOps(l.word(i))) other = true
      prev = i
    }
    concat && !other
  }

  /** True when keyset position `i` compares as TEXT: a plain (or
    * COLLATE'd) column whose declared affinity is TEXT, or an
    * expression key whose top-level function PRODUCES text storage —
    * sqlite's lower()/upper()/substr()/… always return TEXT, so an
    * index on lower(c) holds TEXT keys and '100' vs '100.0' are
    * DISTINCT (round-10 fuzz seed 7651: the value-class collapse
    * merged them and rejected an insert sqlite3 accepts). Other
    * expression keys keep value-class comparison (arithmetic results
    * are numeric storage). */
  private def keyTextAffinity(schema: StructType, ks: KeySpec, i: Int): Boolean =
    (ks.display.nonEmpty && ks.display.size == ks.exprs.size &&
      schema.fields.find(_.name.equalsIgnoreCase(ks.display(i)))
        .exists(f => f.dataType == StringType && fieldAffinity(f) == "TEXT")) || {
      val ke = stripOuterParens(ks.exprs(i))
      textFnSpansKey(ke) || topLevelConcat(ke)
    }

  /** Creation-time / UPDATE-time uniqueness over an evaluated keyset
    * (expression, COLLATE, partial). */
  private def checkExistingUniqueSpec(spark: SparkSession,
      target: org.apache.spark.sql.DataFrame, ks: KeySpec): Unit = {
    var df = target
    ks.where.foreach(w => df = df.where(expr(w)))
    val keyCols = ks.exprs.zipWithIndex.map { case (t, i) =>
      normKeyCol(expr(t), keyTextAffinity(target.schema, ks, i)).as(s"__k$i") }
    val sel = SqliteArith.fixup(spark, df.select(keyCols.toIndexedSeq: _*))
    import org.apache.spark.sql.functions.{count => fCount}
    val nonNull = ks.exprs.indices.map(i => col(s"__k$i").isNotNull).reduce(_ && _)
    val probe = sel.where(nonNull)
      .groupBy(ks.exprs.indices.map(i => col(s"__k$i")): _*)
      .agg(fCount(lit(1)).as("__n")).where(col("__n") > 1).limit(1)
    // the probe stacks key expressions on the (possibly uncollapsed)
    // statement plan — run it under the codegen-size policy (round-14
    // fuzz seed 2561: a partial-index probe over an est-24 KiB chain
    // still blew janino's 64 KB)
    val dup = withCodegenPolicy(spark, probe)(probe.count()) > 0
    if (dup) uniqueErrText(ks.errText)
  }

  /** Numeric-equality key for a unique keyset column: string columns
    * normalize per the column's affinity ([[normKeyCol]] semantics);
    * non-string columns pass through (their native equality IS value
    * equality). */
  private def uniqueKeyCol(c: org.apache.spark.sql.Column,
      f: StructField): org.apache.spark.sql.Column =
    if (f.dataType != StringType) c
    else normKeyCol(c, fieldAffinity(f) == "TEXT")

  /** Error unless `target`'s rows are unique on `cols`. Rows with a
    * NULL in any keyset column never conflict (SQLite treats index
    * NULLs as distinct). One bounded driver-side probe. */
  private def checkExistingUnique(
      target: org.apache.spark.sql.DataFrame, table: String, cols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{count => fCount}
    val nonNull = cols.map(c => col(s"`$c`").isNotNull).reduce(_ && _)
    val probe = target.where(nonNull)
      .groupBy(cols.map(c =>
        uniqueKeyCol(col(s"`$c`"), target.schema(c))): _*)
      .agg(fCount(lit(1)).as("__n")).where(col("__n") > 1).limit(1)
    // codegen-size policy: see checkExistingUniqueSpec
    val dup =
      withCodegenPolicy(target.sparkSession, probe)(probe.count()) > 0
    if (dup) uniqueErr(table, cols)
  }

  /** SQLite applies the target COLUMN's affinity to every stored
    * value (sqlite3-pinned: INSERT '007' into an INTEGER column
    * stores 7, '2.50' into REAL stores 2.5, non-numeric text passes
    * through, TEXT and undeclared columns store as-is — our string
    * representation already renders TEXT-affinity numbers
    * identically). Applies per-column only where a nonempty declared
    * type exists, so untyped script tables keep their current
    * dynamic behavior. */
  private def canonicalizeByAffinity(
      target: org.apache.spark.sql.DataFrame,
      aligned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def affOf(f: StructField): Option[String] = {
      // only string-stored columns: a typed (long/double) column
      // already coerces numerically through the union, and
      // string-rendering it here would widen the stored type
      if (f.dataType != StringType) return None
      val decl =
        if (f.metadata.contains(Affinity.DeclKey)) f.metadata.getString(Affinity.DeclKey) else ""
      if (decl.isEmpty) None
      else Some(Affinity.hasAffinity(decl)).filter(a => a != "TEXT" && a != "BLOB")
    }
    if (!target.schema.fields.exists(affOf(_).isDefined)) return aligned
    aligned.select(target.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      affOf(f) match {
        case Some(aff) => Affinity.canonicalExpr(c.cast(StringType), aff).as(f.name)
        case None => c
      }
    }.toIndexedSeq: _*)
  }

  /** Render one SET assignment's value the way this engine stores it:
    * SQLite applies the target COLUMN's affinity to the assigned
    * value BEFORE storage; our tables store canonicalized text
    * (Affinity scaladoc), so render the value SQLite-style (bools as
    * 0/1) and canonicalize under the DECLARED affinity when the
    * column has one (TEXT columns keep '007' verbatim,
    * sqlite3-pinned), else NUMERIC — which is what turns the
    * double-typed `a2 * 10` back into the integer 20 that sqlite3
    * stores on an undeclared column (pinned in CliSpec; a string
    * literal like '007' also canonicalizing there is the documented
    * value-provenance deviation). A second corner of the same
    * family (round-13 fuzz seed 4255): an undeclared column CAN hold
    * numerically-equal values in two renderings ('0' from an int
    * insert, '0.0' from abs()'s REAL result), and when they tie for
    * min()/max() sqlite returns the first in ROWID SCAN ORDER — an
    * order this engine's rebind chains don't preserve, so the tied
    * pick is engine-arbitrary there. Declared affinities
    * canonicalize equal numerics to one rendering at insert, which
    * removes the ambiguity. `resolveOn` is whatever frame can
    * resolve the expression's column references (the table for
    * UPDATE, the upsert join for DO UPDATE's `excluded.` refs). */
  private def storeCanonical(
      target: org.apache.spark.sql.DataFrame,
      resolveOn: org.apache.spark.sql.DataFrame,
      c: String, e: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val isBool = resolveOn.select(e).schema.head.dataType ==
      org.apache.spark.sql.types.BooleanType
    val rendered = if (isBool) e.cast("int").cast("string") else e.cast("string")
    val m = target.schema(c).metadata
    val decl = if (m.contains(Affinity.DeclKey)) m.getString(Affinity.DeclKey) else ""
    // undeclared columns have NO affinity in SQLite: the assigned
    // value stores under its natural class (round 7 — previously a
    // NUMERIC canonicalization turned the double-typed `a2 * 10`
    // into sqlite's 20, but SqliteArith now renders arithmetic
    // canonically by itself, so `upper(a)` = '100.0' stays TEXT
    // '100.0' like sqlite3, fuzz seed 40)
    val aff = Affinity.hasAffinity(decl)
    if (aff == "TEXT" || aff == "BLOB") rendered
    else Affinity.canonicalExpr(rendered, aff)
  }

  /** NOT NULL over the columns an UPDATE or DO UPDATE assigns
    * (sqlite3-pinned): one probe of `updated` for a row holding a NULL
    * in any of them, reported by its first such column. */
  private def checkNotNull(name: String, schema: StructType,
      updated: DataFrame, assigned: Seq[String]): Unit = {
    val nn = schema.fieldNames.toSeq.filter(c =>
      schema(c).metadata.contains(Affinity.NotNullKey) && assigned.exists(_.equalsIgnoreCase(c)))
    if (nn.isEmpty) return
    val nulls = nn.map(c => col(s"`$c`").isNull)
    updated.where(nulls.reduce(_ || _)).select(nulls: _*).limit(1).collect()
      .headOption.foreach { r =>
        throw new IllegalArgumentException(
          s"NOT NULL constraint failed: $name.${nn(r.toSeq.indexOf(true))}")
      }
  }

  /** The PRAGMA surface (reference forwards PRAGMA statements to
    * SQLite verbatim like the rest of the dialect, sqawk.tcl:216).
    * Returns Some(rows) when `stmt` is a PRAGMA — an empty-schema
    * frame for the silent forms — or None for non-PRAGMA statements.
    * Shapes and values are sqlite3-pinned:
    *
    *  - `table_info(t)`: (cid, name, type, notnull, dflt_value, pk)
    *    from the declared-column metadata; unknown tables yield no
    *    rows (not an error); CTAS columns have no declared type ("");
    *    view columns inherit the base column's declared type, show
    *    "BLOB" for typeless base columns, "" for expressions, and
    *    never report notnull/dflt/pk;
    *  - `database_list`: one row — seq 0, name main, the `-dbfile`
    *    path or "" (in-memory);
    *  - `index_list(t)`: this run's CREATE INDEX registry (origin "c")
    *    plus UNIQUE-constraint auto-indexes (origin "u"), with the
    *    unique flag;
    *  - `journal_mode` reads AND assignments answer "memory" (an
    *    in-memory SQLite ignores journal-mode changes the same way);
    *    `synchronous` → 2, `foreign_keys` → 0; `user_version` is
    *    readable, assignable and transactional (captured in rollback
    *    snapshots);
    *  - every other pragma — including assignments — is silent,
    *    matching sqlite3's unknown-pragma behavior. */
  def pragmaRows(spark: SparkSession, stmt: String, state: State): Option[org.apache.spark.sql.DataFrame] = {
    import spark.implicits._
    def silent = spark.emptyDataFrame
    def one(name: String, v: Any): org.apache.spark.sql.DataFrame = v match {
      case s: String => Seq(s).toDF(name)
      case l: Long => Seq(l).toDF(name)
      case other => Seq(other.toString).toDF(name)
    }
    stmt match {
      case Pragma(name, arg, assign) => Some(name.toLowerCase match {
        case "table_info" if arg != null => tableInfo(spark, arg)
        case "database_list" =>
          (Seq((0L, "main", state.dbFile.getOrElse(""))) ++
            state.attached.zipWithIndex.map { case ((n, db), i) =>
              ((i + 1).toLong, n, db.path) })
            .toDF("seq", "name", "file")
        case "index_list" if arg != null =>
          // sqlite3 lists a table's indexes most-recent-first
          state.indexes.toSeq.reverse.filter(_.table.equalsIgnoreCase(arg)).zipWithIndex
            .map { case (idx, i) =>
              (i.toLong, idx.name, if (idx.unique) 1L else 0L, idx.origin, 0L) }
            .toDF("seq", "name", "unique", "origin", "partial")
        case "journal_mode" => one("journal_mode", "memory")
        case "synchronous" if assign == null => one("synchronous", 2L)
        case "foreign_keys" if assign == null => one("foreign_keys", 0L)
        case "user_version" =>
          if (assign == null) one("user_version", state.userVersion)
          else {
            state.userVersion =
              try assign.trim.toLong
              catch { case _: NumberFormatException => 0L }
            silent
          }
        case _ => silent
      })
      case _ => None
    }
  }

  private def tableInfo(spark: SparkSession, table: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, Long, String, Long)]
      .toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
    if (!spark.catalog.tableExists(table)) return empty
    val view = isView(spark, table)
    val schema = spark.table(table).schema
    val pk = pkColumns(schema)
    val rows = schema.fields.zipWithIndex.map { case (f, i) =>
      val m = f.metadata
      val declOpt = if (m.contains(Affinity.DeclKey)) Some(m.getString(Affinity.DeclKey)) else None
      val decl =
        if (view) declOpt.map(d => if (d.isEmpty) "BLOB" else d).getOrElse("")
        else declOpt.getOrElse("")
      val notNull = if (!view && m.contains(Affinity.NotNullKey)) 1L else 0L
      val dflt =
        if (!view && m.contains(DefaultSqlKey)) m.getString(DefaultSqlKey) else null
      val keyPos = if (view) 0L else pk.indexOf(f.name) + 1L
      (i.toLong, f.name, decl, notNull, dflt, keyPos)
    }
    rows.toSeq.toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
  }

  /** Bind one INSERT/REPLACE batch into the table, enforcing the
    * declared-constraint surface sqlite3 enforces:
    *
    *  - NOT NULL columns reject NULL values ("NOT NULL constraint
    *    failed: t.c");
    *  - an `INTEGER PRIMARY KEY` rowid alias autoassigns NULL/omitted
    *    values with running-max semantics — VALUES (NULL),(100),(NULL)
    *    gets max+1, 100, 101 (sqlite3-pinned) — and rejects
    *    non-integral values with sqlite3's "datatype mismatch";
    *  - duplicates on the PRIMARY KEY or a UNIQUE index error
    *    ("UNIQUE constraint failed: t.k"), or are skipped (OR IGNORE)
    *    or displace the earlier holder (REPLACE), in statement order
    *    ([[insertWalk]]). NULL key components never conflict (SQLite
    *    treats them as distinct);
    *  - tables with a rowid alias rebind ordered by it: SQLite scans
    *    rowid tables in rowid order, so a SELECT without ORDER BY
    *    shows displaced/out-of-order keys in key order.
    *
    * Tables with no declared constraint keep the pure-union path.
    * Every other batch takes one path: [[propose]] collects it to the
    * driver once, and [[insertWalk]] walks it against one probe of the
    * stored table. So every keyed table — rowid alias, TEXT or
    * composite PRIMARY KEY, UNIQUE index — and every NOT NULL table
    * holds its batch on the driver: the script DML surface is
    * CLI-scoped (ScriptRunner already pumps every result through the
    * driver).
    *
    * Returns (new table plan, inserted rows — what a RETURNING clause
    * reports: the full batch for plain INSERT and REPLACE — sqlite3
    * emits every proposed row under REPLACE even when a later
    * duplicate displaces it — but only actually-inserted rows under
    * OR IGNORE, both pinned). */
  private def applyInsert(
      spark: SparkSession, name: String, target: DataFrame,
      aligned: DataFrame, mode: String, state: State): (DataFrame, DataFrame) = {
    val keysets = keysetsOf(state, name, target.schema)
    if (keysets.isEmpty && !target.schema.exists(_.metadata.contains(Affinity.NotNullKey)))
      (append(target, aligned), aligned)
    else insertWalk(spark, name, target, propose(spark, name, target, aligned, mode),
      keysets, mode)
  }

  /** Every enforced uniqueness keyset of `name`: its PRIMARY KEY, then
    * one per UNIQUE index / constraint, plain column lists resolved to
    * the schema's field case. */
  private def keysetsOf(state: State, name: String, schema: StructType): Seq[KeySpec] = {
    val pk = pkColumns(schema)
    def field(c: String) = schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(c)
    (if (pk.nonEmpty) Seq(KeySpec.ofCols(name, pk)) else Nil) ++
      uniqueKeysFor(state, name).map(ks =>
        if (ks.isPlain) KeySpec.ofCols(name, ks.display.map(field)) else ks)
  }

  /** The table's PRIMARY KEY columns in key order (the rowid alias
    * stores "rowid" and is the key's only column). */
  private def pkColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq.filter(_.metadata.contains(Affinity.PkKey))
      .sortBy(_.metadata.getString(Affinity.PkKey).toIntOption.getOrElse(0)).map(_.name)

  /** The table's `INTEGER PRIMARY KEY` rowid alias, if it has one. */
  private def rowidOf(schema: StructType): Option[String] =
    schema.fields.find(f => f.metadata.contains(Affinity.PkKey) &&
      f.metadata.getString(Affinity.PkKey) == "rowid").map(_.name)

  /** `df` in rowid order when the table has a rowid alias. */
  private def ordered(schema: StructType, df: DataFrame): DataFrame =
    rowidOf(schema).fold(df)(rc => df.orderBy(col(s"`$rc`").cast("long")))

  /** Driver rows as a local relation of the stored schema; `withMeta`
    * keeps the columns' declared-type metadata. */
  private def localDf(spark: SparkSession, schema: StructType, rows: Seq[Row],
      withMeta: Boolean = false): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(schema.fields.map(f =>
      StructField(f.name, f.dataType, nullable = true,
        if (withMeta) f.metadata else org.apache.spark.sql.types.Metadata.empty))))

  private def withValue(r: Row, i: Int, v: Any): Row =
    Row.fromSeq(r.toSeq.updated(i, v))

  /** A proposed batch on the driver ([[propose]]): rows in the stored
    * schema's types, and which rows had their rowid autoassigned. */
  private final case class Proposed(rows: Array[Row], assigned: Array[Boolean])

  /** The prelude of INSERT and UPSERT binding. The batch is collected
    * once, aligned to the stored schema's types, and then:
    *
    *  - the rowid alias's datatype is checked on EVERY proposed row,
    *    before the NOT NULL policy can drop one (round-14 fuzz seed
    *    3316: OR IGNORE does not cover datatype mismatch — '12abc'
    *    into an INTEGER PRIMARY KEY hard-errors even when the row
    *    would also be NN-skipped); explicit keys store canonical
    *    ("2.0" stores as 2);
    *  - the NOT NULL policy applies ([[applyNotNullPolicy]]; the
    *    rowid alias is exempt, its NULLs autoassign);
    *  - each NULL rowid takes one more than the largest rowid so far,
    *    stored or earlier in the batch, even when that largest is
    *    negative (-5 → -4), 1 only when the table is empty
    *    (sqlite3-pinned, fuzz seed 10). The stored-max scan runs only
    *    when some rowid is NULL. */
  private def propose(spark: SparkSession, name: String, target: DataFrame,
      aligned: DataFrame, nnMode: String): Proposed = {
    import org.apache.spark.sql.functions.{max => fMax}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val schema = target.schema
    val rowid = rowidOf(schema)
    val rcIdx = rowid.fold(-1)(schema.fieldIndex)
    // the rowid column is LongType on ingest tables (anr) and
    // StringType on script-created ones — store back in kind
    def keyValue(n: Long): Any = schema(rcIdx).dataType match {
      case LongType => java.lang.Long.valueOf(n)
      case IntegerType => java.lang.Integer.valueOf(n.toInt)
      case _ => n.toString
    }
    val collected = aligned.select(schema.fields.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)).toIndexedSeq: _*).collect()
    val checked = if (rcIdx < 0) collected else collected.map { r =>
      if (r.isNullAt(rcIdx)) r
      else {
        val canon = Affinity.canonicalize(r.get(rcIdx).toString, "INTEGER")
        val n = try java.lang.Long.parseLong(canon)
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException("datatype mismatch") }
        withValue(r, rcIdx, keyValue(n))
      }
    }
    val rows = applyNotNullPolicy(name, schema, checked, nnMode,
      schema.fields.filter(_.metadata.contains(Affinity.NotNullKey))
        .map(_.name).toSeq.filterNot(rowid.contains))
    val assigned = rows.map(r => rcIdx >= 0 && r.isNullAt(rcIdx))
    if (assigned.contains(true)) {
      var max: Option[Long] =
        target.select(fMax(col(s"`${rowid.get}`").cast("long"))).first() match {
          case r if r.isNullAt(0) => None
          case r => Some(r.getLong(0))
        }
      for (i <- rows.indices) {
        val n =
          if (assigned(i)) max.fold(1L)(_ + 1L)
          else rows(i).get(rcIdx).toString.toLong
        if (assigned(i)) rows(i) = withValue(rows(i), rcIdx, keyValue(n))
        max = Some(max.fold(n)(math.max(_, n)))
      }
    }
    Proposed(rows, assigned)
  }

  /** One keyset's key of a driver row, for a plain column keyset:
    * the normalized texts ([[normKeyVal]]), None when a component is
    * NULL. */
  private def plainKey(schema: StructType, ks: KeySpec): Row => Option[Seq[String]] = {
    val idx = ks.display.map(schema.fieldIndex)
    val text = ks.exprs.indices.map(keyTextAffinity(schema, ks, _))
    r => {
      val k = idx.zip(text).map { case (i, t) => normKeyVal(r.get(i), t) }
      if (k.contains(null)) None else Some(k)
    }
  }

  /** Each keyset's key of each proposed row: None when the row is not
    * in the index (a NULL key component, or a partial index's WHERE
    * excludes it), else the normalized key texts (numeric storage
    * collapses: 100 == 100.0). Plain column keysets read the driver
    * rows; expression, COLLATE and partial keysets evaluate together
    * in one select over the batch. */
  private def proposedKeys(spark: SparkSession, schema: StructType,
      keysets: Seq[KeySpec], rows: Array[Row]): IndexedSeq[Array[Option[Seq[String]]]] = {
    val evaluated = keysets.filterNot(_.isPlain)
    // metadata rides along so the affinity machinery sees the batch
    // side exactly like the stored side: a partial index's WHERE
    // (`a > 0` under INTEGER affinity) must rank a TEXT-storage 'x'
    // ABOVE the numerics — sqlite's comparison matrix — not coerce it
    // to NULL (round-10 fuzz seed 5141: the second 'x' row must hit
    // the partial UNIQUE index)
    val evalRows =
      if (evaluated.isEmpty) Array.empty[Row]
      else SqliteArith.fixup(spark, localDf(spark, schema, rows.toSeq, withMeta = true)
        .select(evaluated.flatMap(ks => ks.exprs.map(expr) :+ covered(ks)): _*)).collect()
    val start = evaluated.zip(evaluated.scanLeft(0)(_ + _.exprs.size + 1)).toMap
    keysets.map { ks =>
      if (ks.isPlain) rows.map(plainKey(schema, ks))
      else {
        val (b, n) = (start(ks), ks.exprs.size)
        val text = ks.exprs.indices.map(keyTextAffinity(schema, ks, _))
        evalRows.map { r =>
          val included = !r.isNullAt(b + n) && (r.get(b + n) match {
            case bool: Boolean => bool
            case other => // SQLite truthiness on a non-boolean WHERE
              graft.functions.SqliteSum
                .coerce(ScriptRunner.renderValue(other))._1 != 0.0
          })
          val k: Seq[String] = (0 until n).map(i => normKeyVal(r.get(b + i), text(i)))
          if (!included || k.contains(null)) None else Some(k)
        }
      }
    }.toIndexedSeq
  }

  /** The rows a keyset's index covers (a partial index's WHERE). */
  private def covered(ks: KeySpec): org.apache.spark.sql.Column =
    ks.where.map(expr).getOrElse(lit(true))

  /** A stored row's normalized key on `ks`, as an array of texts. */
  private def storedKey(schema: StructType, ks: KeySpec): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.array(ks.exprs.zipWithIndex.map { case (t, i) =>
      normKeyCol(expr(t), keyTextAffinity(schema, ks, i)) }: _*)

  /** True for a stored row the index of `ks` holds under one of `keys`. */
  private def storedHit(schema: StructType, ks: KeySpec,
      keys: Seq[Seq[String]]): org.apache.spark.sql.Column =
    covered(ks) && storedKey(schema, ks).isin(keys.map(k =>
      org.apache.spark.sql.functions.array(k.map(lit): _*)): _*)

  /** One scan of `target` answering every keyset's collisions: per
    * keyset `j`, the stored keys equal to one of `probe(j)`. No job
    * when nothing is probed. */
  private def storedKeys(spark: SparkSession, target: DataFrame,
      keysets: Seq[KeySpec], probe: IndexedSeq[Seq[Seq[String]]])
      : IndexedSeq[collection.mutable.Set[Seq[String]]] = {
    val out = keysets.map(_ => collection.mutable.HashSet.empty[Seq[String]]).toIndexedSeq
    val live = keysets.indices.filter(probe(_).nonEmpty)
    if (live.isEmpty) return out
    val hits = live.map(j => when(storedHit(target.schema, keysets(j), probe(j)),
      storedKey(target.schema, keysets(j))).as(s"__p$j"))
    val sel = SqliteArith.fixup(spark, target.select(hits: _*)
      .where(live.map(j => col(s"__p$j").isNotNull).reduce(_ || _)))
    // codegen-size policy: the key expressions stack on the stored
    // chain (see checkExistingUniqueSpec)
    for (r <- withCodegenPolicy(spark, sel)(sel.collect()); (j, c) <- live.zipWithIndex
        if !r.isNullAt(c))
      out(j) += r.getSeq[String](c).toVector
    out
  }

  /** The statement-order conflict walk of a keyed INSERT (and of a
    * multi-constraint UPSERT DO NOTHING) over `keysets` ([[keysetsOf]]).
    * SQLite checks each proposed row against every keyset at its turn:
    * under OR IGNORE a row skipped by one constraint never enters any
    * index, so it cannot block a later row on another, and under
    * REPLACE every proposed row displaces stored and earlier rows on
    * EVERY keyset — orderings per-keyset set passes cannot reproduce.
    * Storage is touched by one probe ([[storedKeys]]) for the explicit
    * keys: an autoassigned rowid is larger than every stored one, so a
    * plain keyset holding the rowid never probes that row. Under
    * REPLACE one filter over the stored plan drops the rows the probe
    * found. RETURNING rows: the full batch under plain INSERT and
    * REPLACE, the inserted subset under OR IGNORE (sqlite3-pinned). */
  private def insertWalk(spark: SparkSession, name: String, target: DataFrame,
      p: Proposed, keysets: Seq[KeySpec], mode: String): (DataFrame, DataFrame) = {
    val schema = target.schema
    val rows = p.rows
    val batch = localDf(spark, schema, rows.toSeq)
    if (rows.isEmpty) return (ordered(schema, target), batch)
    val keys = proposedKeys(spark, schema, keysets, rows)
    val rowid = rowidOf(schema)
    val probe = keysets.indices.map { j =>
      val skipAssigned = keysets(j).isPlain && rowid.exists(keysets(j).display.contains)
      rows.indices.filterNot(i => skipAssigned && p.assigned(i)).flatMap(keys(j)(_)).distinct
    }
    val stored = storedKeys(spark, target, keysets, probe)
    def rowKeys(i: Int) = keysets.indices.flatMap(j => keys(j)(i).map(j -> _))
    mode match {
      case "abort" =>
        for (i <- rows.indices; (j, k) <- rowKeys(i)) {
          if (stored(j).contains(k)) uniqueErrText(keysets(j).errText)
          stored(j) += k
        }
        (ordered(schema, append(target, batch)), batch)
      case "ignore" =>
        val kept = rows.indices.filter { i =>
          val fresh = rowKeys(i).forall { case (j, k) => !stored(j).contains(k) }
          if (fresh) for ((j, k) <- rowKeys(i)) stored(j) += k
          fresh
        }
        val ins = localDf(spark, schema, kept.map(rows(_)))
        (ordered(schema, append(target, ins)), ins)
      case "replace" =>
        // every proposed row inserts at its turn and displaces the
        // earlier holder of each of its keys, on any keyset …
        val displaced = new Array[Boolean](rows.length)
        val holder = keysets.map(_ => collection.mutable.HashMap.empty[Seq[String], Int])
        for (i <- rows.indices; (j, k) <- rowKeys(i))
          holder(j).put(k, i).foreach(displaced(_) = true)
        // … and stored rows holding a key of ANY proposed row were
        // displaced at that row's turn (even when the proposed row was
        // itself displaced later in the batch)
        val hit = keysets.indices.filter(stored(_).nonEmpty)
          .map(j => storedHit(schema, keysets(j), stored(j).toSeq))
        val survivors =
          if (hit.isEmpty) target
          else SqliteArith.fixup(spark, target.where(!coalesce(hit.reduce(_ || _), lit(false))))
        (ordered(schema, append(survivors,
          localDf(spark, schema, rows.indices.filterNot(displaced).map(rows(_))))), batch)
    }
  }

  /** One row of an UPDATE's frame: its scan handle, whether the WHERE
    * matched it, its stored values and the values the assignments
    * give it. */
  private final case class UpdRow(scan: Long, hit: Boolean, old: Row, nw: Row)

  /** An UPDATE's rows in scan order, and the schema of their values,
    * old and new alike (an assigned column stores text). */
  private final case class UpdFrame(rows: Seq[UpdRow], schema: StructType)

  /** The key check of an UPDATE over `keysets`, row at a time like
    * sqlite's. SQLite applies UPDATE in rowid scan order with no
    * deferred uniqueness, so a TRANSIENT collision errors even when
    * the final state would be consistent (fuzz seed 1905: pk
    * values {0, 7, 42}, `SET a = b` turns 0 into 7 while row 7 is
    * still pending; seed 16808: with a NOCASE index on c,
    * `SET c = length(b)` turns row 1's '' into 0 while row 4 still
    * holds its old 0). Every row's old key starts live; each matched
    * row, in scan order, removes its old key, errors on a live hit and
    * adds its new key, keyset by keyset (removing first, so `k = k`
    * never conflicts with itself). That also decides the final state:
    * an unmatched row's key stays live throughout and a matched row
    * adds its new key at its turn, so the second holder of any final
    * key errors when its turn comes. Keys are [[proposedKeys]]': plain
    * keysets read the driver rows, evaluated keysets take one select
    * over the old rows and the matched rows' new ones.
    *
    * DOCUMENTED DEVIATION: sqlite's visit order follows the CHOSEN
    * SCAN — an index-driven WHERE can visit rows in index order, which
    * changes WHICH transient collision (if any) fires; this walk
    * always pins rowid order (stored order without a rowid alias). */
  private def updateWalk(spark: SparkSession, keysets: Seq[KeySpec], f: UpdFrame): Unit = {
    val n = f.rows.length
    val hits = f.rows.indices.filter(f.rows(_).hit)
    // keys(j)(i): row i's old key for i < n, the h-th matched row's
    // new key at n + h
    val keys = proposedKeys(spark, f.schema, keysets,
      (f.rows.map(_.old) ++ hits.map(f.rows(_).nw)).toArray)
    val live = keysets.map(_ => collection.mutable.HashMap.empty[Seq[String], Int])
    for (j <- keysets.indices; k <- keys(j).take(n).flatten)
      live(j)(k) = live(j).getOrElse(k, 0) + 1
    for ((i, h) <- hits.zipWithIndex; j <- keysets.indices) {
      keys(j)(i).foreach(k => if (live(j)(k) == 1) live(j).remove(k) else live(j)(k) -= 1)
      keys(j)(n + h).foreach { k =>
        if (live(j).contains(k)) uniqueErrText(keysets(j).errText)
        live(j)(k) = 1
      }
    }
  }

  /** Bind one `INSERT … ON CONFLICT` batch (SQLite UPSERT, 3.24+
    * dialect). The conflict target must name the table's PRIMARY KEY
    * or a UNIQUE index's keyset; anything else gets
    * sqlite3's "does not match any PRIMARY KEY or UNIQUE constraint".
    *
    *  - `DO NOTHING` drops conflicting proposed rows;
    *  - `DO UPDATE SET …` rewrites the stored row: assignments see
    *    the stored row as bare columns and the proposed row as
    *    `excluded.col` (sqlite3-pinned), optionally gated by a
    *    conflict WHERE (NULL ⇒ no update, proposed row discarded);
    *  - NOT NULL is checked on the PROPOSED row before conflict
    *    resolution, and on the UPDATED row after (both pinned);
    *  - batches with duplicate keys apply row-at-a-time (pinned:
    *    VALUES (1,'x'),(1,'y') upserting `v = v || excluded.v` over
    *    'a' yields 'axy') via OCCURRENCE ROUNDS: the k-th occurrence
    *    of each key upserts set-based against the result of round
    *    k-1; round count = max key multiplicity, 1 for real batches.
    *
    * `nnMode` carries the statement's OR-action ("INSERT OR IGNORE …
    * ON CONFLICT …" is legal SQLite): the upsert clause resolves pk
    * conflicts, the OR-action keeps governing NOT NULL.
    * Returns (new table plan, RETURNING rows: fresh inserts plus
    * conflict rows actually updated — DO-NOTHING skips excluded,
    * sqlite3-pinned). */
  private def applyUpsert(
      spark: SparkSession, name: String, target: DataFrame,
      aligned: DataFrame, up: UpsertSpec, nnMode: String, state: State)
      : (DataFrame, DataFrame, DataFrame, Seq[(Option[Row], Option[Row])], Seq[String]) = {
    val schema = target.schema
    val keysets = keysetsOf(state, name, schema)
    val allKs = keysets.filter(_.isPlain).map(_.display)
    def noPkMatch: Nothing = throw new IllegalArgumentException(
      "ON CONFLICT clause does not match any PRIMARY KEY or UNIQUE constraint")
    if (allKs.isEmpty) noPkMatch
    // resolve the conflict target to ONE uniqueness keyset; with no
    // target, sqlite3 handles any constraint — exact when only one
    // exists; multi-constraint DO NOTHING ≡ OR-IGNORE uniqueness
    // (the statement-order walk), multi-constraint DO UPDATE is
    // rejected (which stored row to update is per-row ambiguous)
    val pkCols: Seq[String] = up.targetCols match {
      case Some(tc) =>
        allKs.find(ks => tc.map(_.toLowerCase).toSet == ks.map(_.toLowerCase).toSet)
          .getOrElse(noPkMatch)
      case None if allKs.lengthCompare(1) == 0 => allKs.head
      case None if up.set.isEmpty =>
        val (t, a) = insertWalk(spark, name, target,
          propose(spark, name, target, aligned, nnMode), keysets, "ignore")
        return (t, a, a, Nil, Nil)
      case None => throw new UnsupportedOperationException(
        "ON CONFLICT DO UPDATE without a conflict target is not supported " +
          "when multiple uniqueness constraints exist")
    }
    // occurrence rounds: the k-th occurrence of each key goes to round
    // k. Keys compare NORMALIZED (seed 32811's class): batch rows
    // proposing 100 and 100.0 for a no-affinity key are ONE key. NULL
    // keys never conflict (SQLite treats NULLs as distinct) — those
    // rows always insert fresh.
    val keyOf = plainKey(schema, KeySpec.ofCols(name, pkCols))
    val seen = collection.mutable.HashMap.empty[Seq[String], Int]
    val rounds = collection.mutable.ArrayBuffer.empty[collection.mutable.ArrayBuffer[Row]]
    val nullRows = collection.mutable.ArrayBuffer.empty[Row]
    for (r <- propose(spark, name, target, aligned, nnMode).rows) keyOf(r) match {
      case None => nullRows += r
      case Some(k) =>
        val occ = seen.getOrElse(k, 0)
        seen(k) = occ + 1
        if (rounds.length == occ) rounds += collection.mutable.ArrayBuffer.empty[Row]
        rounds(occ) += r
    }
    val nullKeyed = localDf(spark, schema, nullRows.toSeq)
    // DO-UPDATE rows fire the UPDATE trigger chain (round-13 fuzz
    // seed 1856 — sqlite treats the upsert's update arm as an UPDATE
    // for trigger purposes; BEFORE INSERT already fired for every
    // proposed row, before conflict resolution, like sqlite). BEFORE
    // UPDATE fires here per round; AFTER UPDATE fires at the call
    // site, after the statement's plan commits. Limitation (same
    // class as the rest of the batch trigger surface): a BEFORE body
    // that mutates THIS table is not re-read mid-upsert.
    val updAssigned: Seq[String] = up.set.map { case (setText, _) =>
      splitTopLevel(setText).map(parseAssignment).map(_._1) }.getOrElse(Nil)
    val wantUpdTrig =
      up.set.nonEmpty && anyTriggers(state, name, "UPDATE", updAssigned)
    var cur = target
    val retParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val insParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val updPairs =
      scala.collection.mutable.ArrayBuffer.empty[(Option[Row], Option[Row])]
    for (round <- rounds) {
      val (next, freshRows, updRows, pairs) = upsertRound(name, cur,
        localDf(spark, schema, round.toSeq), up, schema, pkCols, wantUpdTrig)
      if (pairs.nonEmpty) {
        fireTriggers(spark, state, name, "BEFORE", "UPDATE", updAssigned,
          schema, pairs)
        updPairs ++= pairs
      }
      cur = next
      retParts += freshRows
      insParts += freshRows
      updRows.foreach(retParts += _)
    }
    cur = append(cur, nullKeyed)
    retParts += nullKeyed
    insParts += nullKeyed
    // post-assignment constraint surface: NOT NULL and the rowid
    // alias's datatype on the assigned columns, then every keyset at
    // most once, distributed like CREATE UNIQUE INDEX's check. The
    // conflict target only when DO UPDATE assigns into it: its
    // conflicts are the ones the clause absorbs (sqlite3 allows
    // `do update set k = …`; a duplicate final state errors). Every
    // other keyset, plain or evaluated, can be broken by a fresh
    // insert or an updated row, like sqlite3 (fuzz seed 23660: an
    // `ON CONFLICT (a) DO NOTHING` insert whose fresh row collided on
    // a `lower(c)` unique index sailed through while sqlite errors;
    // the conflict target only resolves to a PLAIN keyset, so an
    // evaluated keyset never absorbs).
    def isAssigned(c: String) = updAssigned.exists(_.equalsIgnoreCase(c))
    checkNotNull(name, schema, cur, updAssigned)
    for (rc <- rowidOf(schema) if isAssigned(rc))
      if (cur.where(col(s"`$rc`").isNull ||
          !col(s"`$rc`").cast("string").rlike(s"^${Affinity.IntRe}$$")).limit(1).count() > 0)
        throw new IllegalArgumentException("datatype mismatch")
    for (ks <- keysets)
      if (!ks.isPlain) checkExistingUniqueSpec(spark, cur, ks)
      else if (ks.display != pkCols || ks.display.exists(isAssigned))
        checkExistingUnique(cur, name, ks.display)
    (ordered(schema, cur), retParts.reduce(_ unionByName _),
      insParts.reduce(_ unionByName _), updPairs.toSeq, updAssigned)
  }

  /** One set-based upsert round over unique-keyed proposed rows:
    * stored rows left-join the proposed batch on the pk and either
    * keep their values or take the DO UPDATE assignment; proposed
    * rows missing from storage insert. Returns (new plan, fresh
    * inserts, updated rows if DO UPDATE). */
  private def upsertRound(
      name: String, cur: org.apache.spark.sql.DataFrame,
      p: org.apache.spark.sql.DataFrame, up: UpsertSpec,
      schema: StructType, pkCols: Seq[String], wantPairs: Boolean)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         Option[org.apache.spark.sql.DataFrame],
         Seq[(Option[Row], Option[Row])]) = {
    // conflict keys compare NORMALIZED (round-15 fuzz seed 32811): a
    // stored int 100 and a proposed real 1e2 on a no-affinity column
    // render differently in canonical text but are ONE key to
    // sqlite's unique index — raw equality missed the conflict, the
    // duplicate inserted, and everything downstream diverged
    def joinCond(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      pkCols.map(c => uniqueKeyCol(a(c), schema(c)) === uniqueKeyCol(b(c), schema(c)))
        .reduce(_ && _)
    val fresh = p.join(cur, joinCond(p, cur), "left_anti")
    up.set match {
      case None => // DO NOTHING: conflicting proposed rows drop
        (append(cur, fresh), fresh, None, Nil)
      case Some((setText, whereText)) =>
        val assigns = splitTopLevel(setText).map(parseAssignment)
        for ((n, _) <- assigns if !schema.fields.exists(_.name.equalsIgnoreCase(n)))
          throw new IllegalArgumentException(s"no such column: $n")
        // the proposed row joins in under `excluded.`-prefixed names;
        // bare column references keep resolving to the stored row,
        // exactly SQLite's scoping
        val pRen = p.select((schema.fields.map(f =>
          col(s"`${f.name}`").as(ExcPrefix + f.name)).toSeq :+ lit(1).as("__gr_hit"))
          .toIndexedSeq: _*)
        val cond = pkCols.map(c =>
          uniqueKeyCol(col(s"$name.`$c`"), schema(c)) ===
            uniqueKeyCol(col(s"`$ExcPrefix$c`"), schema(c))).reduce(_ && _)
        val joined = cur.as(name).join(pRen, cond, "left")
        val matched = col("__gr_hit").isNotNull
        val updCond = whereText match {
          case Some(wt) => matched && expr(rewriteExcluded(wt))
          case None => matched
        }
        def newVal(c: String): Option[org.apache.spark.sql.Column] =
          assigns.reverse.find(_._1.equalsIgnoreCase(c)).map { case (_, t) =>
            storeCanonical(cur, joined, c, expr(rewriteExcluded(t)))
          }
        val proj = schema.fields.map { f =>
          (newVal(f.name) match {
            case Some(v) => when(updCond, v).otherwise(col(s"$name.`${f.name}`"))
            case None => col(s"$name.`${f.name}`")
          }).as(f.name, f.metadata)
        }
        val updatedStored =
          SqliteArith.fixup(cur.sparkSession, joined.select(proj.toIndexedSeq: _*))
        val updRet = SqliteArith.fixup(cur.sparkSession,
          joined.where(updCond).select(schema.fields.map { f =>
            newVal(f.name).getOrElse(col(s"$name.`${f.name}`")).as(f.name, f.metadata)
          }.toIndexedSeq: _*))
        // (OLD, NEW) rows of the update arm, for the UPDATE trigger
        // chain — one bounded collect, only when a trigger matches
        val pairs: Seq[(Option[Row], Option[Row])] = if (!wantPairs) Nil else {
          val oldCols = schema.fields.map(f => col(s"$name.`${f.name}`"))
          val newCols = schema.fields.map(f =>
            newVal(f.name).getOrElse(col(s"$name.`${f.name}`")))
          val n = schema.fields.length
          SqliteArith.fixup(cur.sparkSession,
            joined.where(updCond).select((oldCols ++ newCols).toIndexedSeq: _*))
            .collect().toSeq
            .map(r => (Some(Row.fromSeq((0 until n).map(r.get))),
                       Some(Row.fromSeq((n until 2 * n).map(r.get)))))
        }
        (append(updatedStored, fresh), fresh, Some(updRet), pairs)
    }
  }

  /** Per-mode NOT NULL policy over a proposed batch (sqlite3-pinned):
    * plain INSERT aborts on a NULL in a NOT NULL column; OR IGNORE
    * silently drops the violating row; OR REPLACE substitutes the
    * column's DEFAULT and aborts only when the column has none. The
    * check runs on the PROPOSED row before any conflict handling
    * (also pinned: an upsert errors even when the row's pk conflict
    * would have been resolved by DO NOTHING). NOT NULL columns are
    * declared ones (CREATE TABLE, ADD COLUMN), stored as text, so a
    * DEFAULT fills as its text. */
  private def applyNotNullPolicy(name: String, schema: StructType, rows: Array[Row],
      mode: String, nnCheck: Seq[String]): Array[Row] = {
    val idx = nnCheck.map(schema.fieldIndex)
    def abortOnNull(cols: Seq[Int]): Unit =
      rows.iterator.flatMap(r => cols.find(r.isNullAt)).nextOption().foreach(i =>
        throw new IllegalArgumentException(s"NOT NULL constraint failed: $name.${schema(i).name}"))
    mode match {
      case "ignore" => rows.filterNot(r => idx.exists(r.isNullAt))
      case "replace" =>
        val (withDflt, noDflt) = idx.partition(schema(_).metadata.contains(DefaultKey))
        abortOnNull(noDflt)
        rows.map(r => withDflt.foldLeft(r)((acc, i) =>
          if (acc.isNullAt(i)) withValue(acc, i, schema(i).metadata.getString(DefaultKey))
          else acc))
      case _ =>
        abortOnNull(idx)
        rows
    }
  }

  /** `stored ∪ rows` by name: a table's new binding after an INSERT.
    * A stored plan that is one partition (a one-split loaded table)
    * stays one: the union is coalesced, so a later aggregate or ORDER
    * BY over the table still plans no Exchange. */
  private def append(
      stored: org.apache.spark.sql.DataFrame,
      rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val all = stored.unionByName(rows)
    if (stored.queryExecution.sparkPlan.outputPartitioning == SinglePartition) all.coalesce(1)
    else all
  }

  /** Rewrite an inline `VALUES (…),(…)` body with every scalar cast
    * to string, for the dynamically-typed rows SQLite accepts but
    * Spark's inline-table type unification rejects. */
  private[cli] def stringifyValues(body: String): String =
    stringifyValues(body, _ => true)

  /** Rewrite an inline VALUES body casting the elements at positions
    * where `which` holds to STRING. The full rewrite (`_ => true`)
    * serves the dynamic-typing retry; the positional form preserves
    * per-value TEXT provenance ONLY for elements bound to untyped
    * columns, so typed (INT/DOUBLE) target columns keep receiving
    * typed values (round 7: full stringification broke INSERTs into
    * typed CTAS columns with CANNOT_UP_CAST). */
  private[cli] def stringifyValues(body: String, which: Int => Boolean): String = {
    val m = """(?is)\s*values\s+(.+)""".r.findFirstMatchIn(body).getOrElse(
      throw new IllegalArgumentException("cannot rewrite non-VALUES insert body"))
    val rewritten = splitTopLevel(m.group(1)).map(_.trim).map { r =>
      if (!(r.startsWith("(") && r.endsWith(")")))
        throw new IllegalArgumentException(s"""cannot parse VALUES row near "${r.take(40)}"""")
      splitTopLevel(r.substring(1, r.length - 1)).zipWithIndex
        .map { case (s, i) =>
          if (which(i)) s"CAST((${s.trim}) AS STRING)" else s.trim
        }.mkString("(", ", ", ")")
    }
    "VALUES " + rewritten.mkString(", ")
  }

  private final case class ColDef(
      name: String, declType: String, pk: Boolean, notNull: Boolean,
      unique: Boolean, defaultSql: Option[String], defaultVal: Option[String])

  /** Parse one CREATE TABLE column definition: the name token, then
    * declared-type tokens up to the first constraint keyword (so
    * `varchar(20)` and `double precision` survive verbatim), then the
    * constraint surface sqlite3 reports through table_info. */
  private def parseColDef(d: String): ColDef = {
    val l = new Lexed(d)
    val f = l.sig(0)
    val name = if (f < l.n) unquote(l.text(f)) else ""
    val rest = l.render(f + 1, l.n)
    val constraintStart = Set("primary", "not", "null", "unique", "check",
      "default", "references", "collate", "generated", "as", "constraint")
    val typeTokens = rest.split("\\s+").toSeq.filter(_.nonEmpty)
      .takeWhile(t => !constraintStart(t.toLowerCase.takeWhile(_.isLetter)))
    val dfltText = """(?is)\bdefault\s+(.+)""".r.findFirstMatchIn(d)
      .map(m => firstDefaultValue(m.group(1)))
    ColDef(
      name,
      typeTokens.mkString(" "),
      pk = """(?is).*\bprimary\s+key\b.*""".r.matches(d),
      notNull = """(?is).*\bnot\s+null\b.*""".r.matches(d),
      unique = """(?is).*\bunique\b.*""".r.matches(d),
      defaultSql = dfltText,
      defaultVal = dfltText.flatMap(v => parseConstantDefault(v,
        Affinity.hasAffinity(typeTokens.mkString(" ")))))
  }

  /** The DEFAULT clause's value text: a balanced parenthesized group,
    * else the first run of tokens with no space between them (`'a b'`,
    * `-5`, `1e+5`) — trailing constraints (`DEFAULT 5 NOT NULL`) are
    * not part of it. */
  private def firstDefaultValue(text: String): String = {
    val l = new Lexed(text)
    val f = l.sig(0)
    val end =
      if (l.is(f, '(') && l.close(f) > 0) l.close(f) + 1
      else (f until l.n).find(j => l.toks(j).kind == ' ').getOrElse(l.n)
    l.render(f, end)
  }

  /** Parse an ADD COLUMN / column-def DEFAULT as a constant literal,
    * returning its stored text (None for NULL). SQLite refuses
    * anything else — including deterministic function calls — with
    * "Cannot add a column with non-constant default"; same here,
    * except the message also covers CREATE TABLE defs.
    *
    * The stored text is fixed at DDL time by the column's AFFINITY
    * (sqlite3-pinned, found by fuzz seed 3097's `ADD COLUMN z REAL
    * DEFAULT 1e2` backfilling 100 where sqlite3 stores 100.0):
    * INTEGER/REAL/NUMERIC convert the literal (REAL 1e2 → 100.0,
    * INTEGER 1e2 → 100, INTEGER '7' → 7, INTEGER 'abc' → abc
    * verbatim); TEXT and no-affinity columns keep the literal's own
    * storage class (integer literal stays integer, real literal stays
    * real: 1e2 → '100.0', 2.50 → '2.5', oversize int → real). This is
    * the text the omitted-column INSERT fill uses; the ADD COLUMN
    * BACKFILL of a TEXT-affinity column instead keeps the literal's
    * ORIGINAL SPELLING ('1e2', '2.50') — sqlite3 backfills from the
    * schema text but evaluates the default on later INSERTs, and the
    * two genuinely differ there (pinned in CliSpec). */
  private[cli] def parseConstantDefault(raw: String,
      affinity: String = "BLOB"): Option[String] = {
    var t = raw.trim
    // one level of parens is allowed around the literal: DEFAULT (7)
    if (t.startsWith("(") && t.endsWith(")")) t = t.substring(1, t.length - 1).trim
    val StringLit = """(?s)'((?:[^']|'')*)'""".r
    t match {
      case StringLit(body) =>
        Some(Affinity.canonicalize(body.replace("''", "'"), affinity))
      case s if Affinity.NumRe.matches(s) => affinity match {
        case "TEXT" | "BLOB" => Some(Affinity.canonicalize(s,
          if (Affinity.IntRe.matches(s)) "NUMERIC" else "REAL"))
        case a => Some(Affinity.canonicalize(s, a))
      }
      case s if s.equalsIgnoreCase("null") => None
      // true/false are the integer literals 1/0 (REAL affinity → 1.0)
      case s if s.equalsIgnoreCase("true") =>
        Some(Affinity.canonicalize("1", affinity))
      case s if s.equalsIgnoreCase("false") =>
        Some(Affinity.canonicalize("0", affinity))
      case _ => throw new IllegalArgumentException(
        "Cannot add a column with non-constant default")
    }
  }

  /** Split `s` at the first top-level occurrence of a keyword phrase
    * (words separated by whitespace or comments) — outside quotes and
    * parentheses — so a `'where'` string literal, a subquery's WHERE,
    * or a column named `returning` inside parens never splits.
    * Returns (before, Some(after-the-phrase)) or (s, None), comments
    * rendered as spaces. */
  private def splitAtTopLevelKeyword(s: String, phrase: String): (String, Option[String]) = {
    val words = phrase.split(" ")
    val l = new Lexed(s)
    // index after the phrase starting at token i, or -1
    def phraseEnd(i: Int): Int = words.foldLeft(i) { (j, w) =>
      if (j >= 0 && l.word(l.sig(j)) == w) l.sig(j) + 1 else -1
    }
    (0 until l.n).find(i => l.depth(i) == 0 && l.word(i) == words.head && phraseEnd(i) > 0) match {
      case Some(i) => (l.render(0, i), Some(l.render(phraseEnd(i), l.n)))
      case None => (l.render(0, l.n), None)
    }
  }

  /** Split an UPDATE tail `SET-list [WHERE cond]` at the first
    * top-level WHERE keyword. */
  private def splitAtTopLevelWhere(s: String): (String, Option[String]) =
    splitAtTopLevelKeyword(s, "where")

  /** A parsed `ON CONFLICT [(cols)] DO NOTHING | DO UPDATE SET …
    * [WHERE …]` clause. `set` is None for DO NOTHING, else the SET
    * list text plus the optional conflict-update WHERE text (both may
    * reference `excluded.col`). */
  private final case class UpsertSpec(
      targetCols: Option[Seq[String]], set: Option[(String, Option[String])])

  private val UpsertClause =
    """(?is)\s*(?:\(([^)]*)\)\s*)?do\s+(nothing\s*|update\s+set\s+(.+))""".r

  private def parseUpsert(clause: String): UpsertSpec = clause match {
    case UpsertClause(cols, action, setTail) =>
      val target = Option(cols).map(nameList)
      if (setTail == null) UpsertSpec(target, None)
      else {
        val (setC, w) = splitAtTopLevelWhere(setTail)
        UpsertSpec(target, Some((setC, w)))
      }
    case _ => throw new IllegalArgumentException("""near "ON": syntax error""")
  }

  /** Rewrite `excluded.col` references (the UPSERT proposed-row
    * pseudo-table, SQLite dialect) to the prefixed column names the
    * upsert join exposes the batch row under. An `'excluded.x'`
    * string literal is untouched. */
  private def rewriteExcluded(s: String): String = {
    val l = new Lexed(s)
    l.rewrite(i => qualifiedRef(l, i, Set("excluded"))
      .map { case (_, c, next) => (s"`$ExcPrefix$c`", next) })
  }

  /** A `qual.name` reference starting at token `i` whose qualifier is
    * one of `quals`: (qualifier, unquoted name, index after it). */
  private def qualifiedRef(l: Lexed, i: Int,
      quals: Set[String]): Option[(String, String, Int)] = {
    val dot = l.sig(i + 1)
    val name = l.sig(dot + 1)
    if (quals(l.word(i)) && l.is(dot, '.') && l.isName(name))
      Some((l.word(i), unquote(l.text(name)), name + 1))
    else None
  }

  /** Column-name prefix the upsert join exposes the proposed
    * (`excluded`) row's values under. */
  private val ExcPrefix = "__gr_exc_"

  /** Rewrite bare `rowid` / `_rowid_` / `oid` words to the table's
    * INTEGER PRIMARY KEY alias column (SQLite exposes the alias both
    * ways; RETURNING clauses commonly use `rowid`). Qualified
    * references (`t.rowid`) also map; quoted names do not. */
  private def rewriteRowidTokens(s: String, alias: String): String = {
    val l = new Lexed(s)
    l.rewrite(i => if (RowidNames(l.word(i))) Some((s"`$alias`", i + 1)) else None)
  }

  private val RowidNames = Set("_rowid_", "rowid", "oid")

  /** Evaluate a RETURNING clause over the affected-row set. Each item
    * is `*` (all table columns) or an expression with an optional
    * alias; unaliased items are named by their verbatim text, matching
    * sqlite3's .headers output. */
  private def returningDf(
      target: org.apache.spark.sql.DataFrame,
      rows: org.apache.spark.sql.DataFrame,
      text: String): org.apache.spark.sql.DataFrame = {
    val rowidAlias = rowidOf(target.schema)
    val AsRe = """(?is)^(.+?)\s+as\s+[`"]?(\w+)[`"]?\s*$""".r
    val cols = splitTopLevel(text).map(_.trim).filter(_.nonEmpty).flatMap {
      case "*" => target.columns.toSeq.map(c => col(s"`$c`"))
      case item =>
        val (exprText, alias) = item match {
          case AsRe(e, a) => (e, a)
          case _ => (item, item)
        }
        val mapped = rowidAlias.map(rewriteRowidTokens(exprText, _)).getOrElse(exprText)
        Seq(expr(mapped).as(alias))
    }
    if (cols.isEmpty)
      throw new IllegalArgumentException("""near "RETURNING": syntax error""")
    rows.select(cols.toIndexedSeq: _*)
  }

  /** One SET assignment `col = expr`; the column may be quoted. */
  private def parseAssignment(a: String): (String, String) = {
    val l = new Lexed(a)
    val c = l.sig(0)
    val eq = l.sig(c + 1)
    if (l.isName(c) && l.is(eq, '=') && l.sig(eq + 1) < l.n)
      (unquote(l.text(c)), l.render(eq + 1, l.n))
    else throw new IllegalArgumentException(
      s"""cannot parse SET assignment near "${a.trim.take(40)}"""")
  }

  /** `rest` = the text following an already-consumed "(": returns
    * (inside, after) split at the BALANCING close paren — nested
    * calls like (lower(a)) stay whole. */
  private def splitBalanced(rest: String): (String, String) = {
    val l = new Lexed(rest)
    (0 until l.n).find(i => l.depth(i) == 0 && l.is(i, ')')) match {
      case Some(i) => (l.render(0, i), l.render(i + 1, l.n).trim)
      case None => throw new IllegalArgumentException("""near "(": syntax error""")
    }
  }

  /** Split on top-level commas (outside parentheses, quotes and
    * comments); comments come back as spaces. */
  private def splitTopLevel(s: String): Seq[String] = {
    val l = new Lexed(s)
    val cuts = (0 until l.n).filter(i => l.depth(i) == 0 && l.is(i, ','))
    val parts = (-1 +: cuts :+ l.n).sliding(2).map(p => l.render(p(0) + 1, p(1))).toSeq
    if (parts.last.isEmpty) parts.init else parts
  }

  /** A parenthesized name list's inside (`a, "b", [c]`) as names. */
  private def nameList(text: String): Seq[String] = splitTopLevel(text).map(unquote)
}
