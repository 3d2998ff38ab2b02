package graft.plans

import graft.operators.{Flashback, Hierarchy, Hnsw, Iterate, Ivf, IvfBit, Ml, ModelCatalog, RecursiveSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.graft.Bridge

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/**
 * STATEMENT-level openGauss SQL on Spark — the layer above
 * [[PgSqlRewrite]] (which rewrites expressions/operators/casts only).
 * [[PgSqlParser]] hands every statement here after the operator
 * rewrite; statements Spark's grammar cannot express route onto the
 * library's gated engines, everything else falls through untouched.
 *
 * Routed forms (reference grammar src/common/backend/parser/gram.y):
 *  - `WITH RECURSIVE ... UNION ...` (gram.y:23994) — the
 *    UNION-DISTINCT recursion Spark's native recursive CTE rejects —
 *    onto [[RecursiveSql]]'s semi-naive fixpoint (C17).
 *  - `MERGE INTO t USING s ON ... WHEN [NOT] MATCHED ...`
 *    (gram.y MergeStmt) — rewritten into ONE full-outer-join SELECT
 *    (first-true-clause CASE ladders, exactly MERGE's clause order
 *    semantics), materialized, and re-registered as the target view.
 *  - `SELECT ... START WITH ... CONNECT BY PRIOR ...`
 *    (gram.y start_with_clause/connect_by_clause; regress
 *    sw_bugfix-1.sql) — onto [[Hierarchy.connectBy]]; LEVEL /
 *    CONNECT_BY_ROOT / SYS_CONNECT_BY_PATH / CONNECT_BY_ISLEAF map to
 *    the operator's output columns.
 *  - `... FROM t TIMECAPSULE {TIMESTAMP|CSN} expr` and
 *    `TIMECAPSULE TABLE t TO {TIMESTAMP|CSN} expr` (gram.y:6416-6453)
 *    — onto [[Flashback.asOf]] over the change-log convention
 *    (first column = key, `ts`/`csn` version columns, `op` marker;
 *    see Flashback's scaladoc for why a lakehouse log IS the MVCC
 *    undo analogue).
 *  - `CREATE MODEL m USING algo FEATURES ... TARGET ... FROM ...`
 *    (gram.y:11597) and the `PREDICT BY m (FEATURES ...)` expression
 *    (gram.y:27180) — training runs the exact cross-engine kernels
 *    (linregr Gram sums + Cramer solve / the quantized-gradient
 *    logregr chain), weights land in [[ModelCatalog]], and PREDICT BY
 *    splices them into the statement as LITERALS so scoring is
 *    map-only codegen at any scale (db4ai predict_by.h's per-row call
 *    shape, without the call).
 *
 * Execution model ("materialize-and-substitute"): recursive/
 * hierarchical/merge statements run their iterative or write phase
 * at parse time through the engine (the only honest place — Spark
 * plans are DAGs, fixpoints are not), register the result under a
 * uniquified temp view, and return the rewritten statement's analyzed
 * plan. All scanning is token-based over the same comment/quote-aware
 * lexing discipline as PgSqlRewrite — text inside literals can never
 * trigger routing.
 *
 * Scale: routing itself is plan-time string work. Every routed
 * statement lands on an engine whose distribution story is already
 * gated: the fixpoint's delta rounds, connectBy's frontier joins,
 * merge's single full-outer join, asOf's one map-side-combined
 * max_by, PREDICT BY's literal-only projection.
 */
object PgStatements {

  // ------------------------------------------------------------------
  // lexer: comment/quote-aware token stream that PRESERVES text
  // (concatenating token texts reproduces the input verbatim)
  // ------------------------------------------------------------------

  private final val WS = 0  // whitespace + comments
  private final val STR = 1 // '...' string literal
  private final val ID = 2  // identifier (incl. "quoted" and `quoted`)
  private final val P = 3   // anything else (numbers, punct)

  private final case class Tok(kind: Int, text: String) {
    def lower: String =
      if (kind == ID) text.toLowerCase(java.util.Locale.ROOT) else text
    /** identifier text with quoting stripped (catalog lookups). */
    def ident: String = {
      val t = text
      if (t.length >= 2 && (t.head == '"' || t.head == '`') && t.last == t.head)
        t.substring(1, t.length - 1)
      else t
    }
  }

  private def lex(s: String): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    val n = s.length
    var i = 0
    def quoted(q: Char): Int = {
      var j = i + 1
      while (j < n) {
        if (s(j) == q) {
          if (j + 1 < n && s(j + 1) == q) j += 2 else return j + 1
        } else j += 1
      }
      n // unterminated: rest of string
    }
    while (i < n) {
      val c = s(i)
      if (c.isWhitespace) {
        var j = i; while (j < n && s(j).isWhitespace) j += 1
        out += Tok(WS, s.substring(i, j)); i = j
      } else if (s.startsWith("--", i)) {
        val j = s.indexOf('\n', i)
        val e = if (j < 0) n else j + 1
        out += Tok(WS, s.substring(i, e)); i = e
      } else if (s.startsWith("/*", i)) {
        val j = s.indexOf("*/", i + 2)
        val e = if (j < 0) n else j + 2
        out += Tok(WS, s.substring(i, e)); i = e
      } else if (c == '\'') {
        val e = quoted('\''); out += Tok(STR, s.substring(i, e)); i = e
      } else if (c == '"' || c == '`') {
        val e = quoted(c); out += Tok(ID, s.substring(i, e)); i = e
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (s(j).isLetterOrDigit || s(j) == '_' || s(j) == '$')) j += 1
        out += Tok(ID, s.substring(i, j)); i = j
      } else if (c.isDigit) {
        var j = i
        while (j < n && (s(j).isLetterOrDigit || s(j) == '.')) j += 1
        out += Tok(P, s.substring(i, j)); i = j
      } else {
        out += Tok(P, c.toString); i += 1
      }
    }
    out.toVector
  }

  /** Statement view: tokens + significant (non-WS) index list + depth
    * of each significant token (paren nesting BEFORE the token). */
  private final class Stmt(val toks: Vector[Tok]) {
    val sig: Vector[Int] = toks.indices.filter(toks(_).kind != WS).toVector
    val depth: Array[Int] = {
      val d = new Array[Int](sig.length)
      var cur = 0
      var k = 0
      while (k < sig.length) {
        val t = toks(sig(k)).text
        if (t == ")") cur -= 1
        d(k) = cur
        if (t == "(") cur += 1
        k += 1
      }
      d
    }
    def n: Int = sig.length
    def tok(k: Int): Tok = toks(sig(k))
    def lower(k: Int): String = if (k < n) tok(k).lower else ""
    def ident(k: Int): String = tok(k).ident
    /** Raw text spanned by significant tokens [a, b) (b may be n). */
    def text(a: Int, b: Int): String = {
      if (a >= b) return ""
      val from = sig(a)
      val to = if (b >= n) toks.length else sig(b)
      toks.slice(from, to).map(_.text).mkString.trim
    }
    /** Next significant index ≥ from whose depth is 0 and whose lower
      * text is in `stop`; n if none. */
    def nextTop(from: Int, stop: Set[String]): Int = {
      var k = from
      while (k < n && !(depth(k) == 0 && stop(lower(k)))) k += 1
      k
    }
    /** Like [[nextTop]] but CASE ... END spans are opaque: WHEN/THEN
      * inside an unparenthesized CASE expression is expression syntax,
      * not a clause boundary (MERGE `SET x = CASE WHEN ... END` was
      * being cut mid-CASE). `stop` must not contain "case"/"end". */
    def nextTopOutsideCase(from: Int, stop: Set[String]): Int = {
      var k = from
      var caseDepth = 0
      while (k < n && !(depth(k) == 0 && caseDepth == 0 && stop(lower(k)))) {
        if (lower(k) == "case") caseDepth += 1
        else if (lower(k) == "end" && caseDepth > 0) caseDepth -= 1
        k += 1
      }
      k
    }
    /** Index just past the ")" matching an "(" at sig index `open`. */
    def matching(open: Int): Int = {
      require(lower(open) == "(", s"graft: expected '(' at token $open")
      var k = open + 1
      while (k < n && depth(k) > depth(open)) k += 1
      k + 1 // k is the ')'
    }
    /** Split significant range [a, b) on commas at the RANGE's entry
      * depth; returns sig-index sub-ranges. */
    def splitCommas(a: Int, b: Int): Seq[(Int, Int)] = {
      if (a >= b) return Seq.empty
      val d0 = depth(a)
      val out = ArrayBuffer.empty[(Int, Int)]
      var start = a
      var k = a
      while (k < b) {
        if (depth(k) == d0 && lower(k) == ",") { out += ((start, k)); start = k + 1 }
        k += 1
      }
      out += ((start, b))
      out.toSeq
    }
    /** Rebuild the statement text with sig ranges replaced: each
      * (fromSig, toSig, replacement); non-overlapping. */
    def splice(repls: Seq[(Int, Int, String)]): String = {
      val out = toks.map(_.text).toArray
      for ((a, b, r) <- repls) {
        val from = sig(a)
        val to = if (b >= n) toks.length else sig(b)
        // blanking consumes any whitespace inside the range, so pad the
        // replacement to keep it from gluing onto the next token
        out(from) = if (r.isEmpty) "" else r + " "
        var j = from + 1
        while (j < to) { out(j) = ""; j += 1 }
      }
      out.mkString
    }
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def freshView(tag: String): String =
    s"__graft_${tag}_${viewSeq.incrementAndGet()}"

  private def isTempView(spark: SparkSession, name: String): Boolean =
    try {
      spark.catalog.tableExists(name) &&
        spark.catalog.getTable(name).tableType == "TEMPORARY"
    } catch { case NonFatal(_) => false }

  /** Double literal with exact round-trip on any engine: the shortest
    * decimal repr java emits, parsed back through CAST. */
  private def dlit(v: Double): String =
    s"CAST('${java.lang.Double.toString(v)}' AS DOUBLE)"

  /** Analyze the spliced statement, then DROP the helper views backing
    * it. [[org.apache.spark.sql.graft.Bridge.logicalPlan]] returns the
    * ANALYZED plan — analysis inlines each temp view's plan into the
    * tree, so the catalog entries are scaffolding; leaving them leaked
    * one view (plus its driver-side probe work) per PARSE of the same
    * statement (ADVICE r17). */
  private def analyzedThenDrop(spark: SparkSession, sqlText: String,
      helperViews: String*): LogicalPlan =
    try Bridge.logicalPlan(spark.sql(sqlText))
    finally helperViews.foreach { v =>
      try { spark.catalog.dropTempView(v); () }
      catch { case NonFatal(_) => () }
    }

  /** Lineage-truncate + drop optimizer-origin constraints — the form
    * every DML view re-registration uses. The checkpoint's copied
    * constraints can reference pre-checkpoint attribute ids and blow
    * up constraint rewriting when the state is later UNIONED (INSERT /
    * COPY FROM after UPDATE/MERGE) — see Bridge.constraintFree. */
  private def truncated(df: DataFrame): DataFrame =
    Bridge.constraintFree(Iterate.truncate(df))

  private def oneRow(spark: SparkSession, cols: (String, String)*): LogicalPlan =
    Bridge.logicalPlan(spark.sql(
      cols.map { case (name, value) =>
        "'" + value.replace("'", "''") + s"' AS $name"
      }.mkString("SELECT ", ", ", "")))

  // ------------------------------------------------------------------
  // entry points
  // ------------------------------------------------------------------

  /** Trigger substrings for [[route]]'s cheap pre-gate. MUST include
    * every rewritten KNN operator spelling the access path serves —
    * r17 shipped without `pg_cosine_or_eq` here, which made the
    * cosine index path unreachable in production (all tests passed
    * vacuously because full-probe falls back to the identical exact
    * scan). Fuzzed in PgStatementsSpec: every statement a gate routes
    * must contain a trigger. */
  private val routeTriggers: Seq[String] = Seq(
    "merge", "model", "timecapsule", "connect", "recursive", "copy",
    "materialized", "index", "update", "delete", "insert", "truncate",
    "analyze", "analyse", "prepare", "execute", "deallocate",
    // the PgSqlRewrite spellings of <-> <=> <#> <+> <~> <%>
    "pg_dist_arrow", "pg_cosine_or_eq", "negative_inner_product",
    "l1_distance", "hamming_distance", "jaccard_distance",
    "vacuum", "sequence", "explain", "show", "cluster")

  /** Route a statement onto an engine; None = not ours (delegate). */
  def route(sqlText: String): Option[LogicalPlan] = {
    val low = sqlText.toLowerCase(java.util.Locale.ROOT)
    // cheap pre-gate: none of the trigger words even as substrings
    if (!routeTriggers.exists(low.contains)) return None
    val spark = SparkSession.active
    val st = new Stmt(lex(sqlText))
    if (st.n == 0) return None
    (st.lower(0), st.lower(1)) match {
      case ("merge", "into") => mergeInto(spark, st)
      case ("update", _) if st.lower(1) != "" => updateStmt(spark, st)
      case ("delete", "from") => deleteStmt(spark, st)
      case ("insert", "into") => insertStmt(spark, st)
      case ("truncate", _) => truncateStmt(spark, st)
      case ("analyze", _) | ("analyse", _) => analyzeStmt(spark, st)
      case ("vacuum", _) if st.n > 1 => vacuumStmt(spark, st)
      case ("show", _) if st.n > 1 => showStmt(spark, st)
      case ("cluster", _) if st.n > 1 => clusterStmt(spark, st)
      case ("prepare", _) if st.lower(1) != "" => prepareStmt(st)
      case ("execute", _) if st.lower(1) != "immediate" =>
        executeStmt(spark, st)
      case ("deallocate", _) => deallocateStmt(st)
      case ("create", "sequence") => Some(createSequence(spark, st, 2))
      case ("create", "temporary") | ("create", "temp")
          if st.lower(2) == "sequence" =>
        Some(createSequence(spark, st, 3))
      case ("drop", "sequence") => Some(dropSequence(spark, st))
      case ("alter", "sequence") => Some(alterSequence(spark, st))
      case ("create", "model") => Some(createModel(spark, st))
      case ("drop", "model") => Some(dropModel(spark, st))
      case ("explain", "model") => Some(explainModel(spark, st))
      case ("explain", _) if st.n > 1 => explainStmt(spark, st)
      case ("copy", _) => Some(copyStmt(spark, st))
      case ("create", "incremental") if st.lower(2) == "materialized" =>
        Some(createMatview(spark, st, incremental = true))
      case ("create", "materialized") =>
        Some(createMatview(spark, st, incremental = false))
      case ("refresh", "incremental") | ("refresh", "materialized") =>
        Some(refreshMatview(spark, st))
      case ("drop", "materialized") => Some(dropMatview(spark, st))
      case ("create", "index") => createIndex(spark, st)
      case ("drop", "index") => dropIndex(spark, st)
      case ("reindex", "index") | ("reindex", "table") =>
        reindexStmt(spark, st)
      case ("timecapsule", "table") => Some(timecapsuleTable(spark, st))
      case ("with", "recursive") if RecursiveSql.needsFixpoint(sqlText) =>
        Some(Bridge.logicalPlan(RecursiveSql.sql(spark, sqlText)))
      case _ =>
        val cb = (0 until st.n - 1).find(k =>
          st.depth(k) == 0 && st.lower(k) == "connect" && st.lower(k + 1) == "by")
        if (cb.isDefined) Some(connectBy(spark, st, cb.get))
        else if (hasTimecapsule(st)) Some(timecapsuleQuery(spark, st))
        else knnThroughIndex(spark, st)
    }
  }

  private def hasTimecapsule(st: Stmt): Boolean =
    (0 until st.n - 1).exists(k => st.lower(k) == "timecapsule" &&
      (st.lower(k + 1) == "timestamp" || st.lower(k + 1) == "csn"))

  // ------------------------------------------------------------------
  // MERGE INTO (gram.y MergeStmt)
  // ------------------------------------------------------------------

  private sealed trait Action
  private final case class Update(assigns: Seq[(String, String)]) extends Action
  private case object Delete extends Action
  private final case class Insert(cols: Option[Seq[String]],
      values: Seq[String]) extends Action
  private final case class Clause(matched: Boolean, cond: Option[String],
      action: Action)

  /**
   * MERGE as ONE full-outer-join SELECT: per target column a
   * first-true-clause CASE ladder picks the surviving value (clause
   * ORDER is semantic — PG applies the first WHEN whose condition
   * holds); a WHERE ladder drops rows a DELETE clause claims and
   * source-only rows no INSERT clause accepts. The join shuffles on
   * the ON keys once (AQE broadcasts a small source); the result is
   * lineage-truncated (a MERGE is a write) and re-registered as the
   * target view. Non-temp-view targets delegate to Spark (v2 tables
   * have native MERGE).
   */
  /** Materialize a DML rewrite, re-register the target, invalidate its
    * indexes. The DML is a WRITE: the truncation bounds lineage across
    * chained statements, and any vector index built over the pre-DML
    * rows is stale (ADVICE r17). Returns the rewrite's DataFrame —
    * after the eager materialize its QueryExecution carries executed
    * metrics, which is what EXPLAIN ANALYZE renders (no listener). */
  private def applyDml(spark: SparkSession, target: String,
      gen: String): DataFrame = {
    val df = spark.sql(gen)
    truncated(df).createOrReplaceTempView(target)
    IndexCatalog.invalidateTable(spark, target)
    df
  }

  private def mergeInto(spark: SparkSession, st: Stmt): Option[LogicalPlan] =
    mergeGen(spark, st).map { case (target, gen) =>
      applyDml(spark, target, gen)
      oneRow(spark, "command" -> "MERGE", "table_name" -> target)
    }

  /** Parse a MERGE statement and build its one-join rewrite WITHOUT
    * executing — shared by [[mergeInto]] and `EXPLAIN MERGE INTO`. */
  private def mergeGen(spark: SparkSession, st: Stmt): Option[(String, String)] = {
    var k = 2
    val target = st.ident(k); k += 1
    if (!isTempView(spark, target)) return None
    if (st.lower(k) == "as") k += 1
    val tAlias =
      if (st.lower(k) != "using") { val a = st.ident(k); k += 1; a } else target
    require(st.lower(k) == "using", "graft: MERGE expects USING <source>")
    k += 1
    // source: relation name or (subquery)
    val (srcText, srcIsRel) =
      if (st.lower(k) == "(") { val e = st.matching(k); val t = st.text(k, e); k = e; (t, false) }
      else { val t = st.ident(k); k += 1; (t, true) }
    if (st.lower(k) == "as") k += 1
    val sAlias =
      if (st.lower(k) != "on") { val a = st.ident(k); k += 1; a }
      // a named relation without an alias is referenced by its own
      // name in the ON/WHEN conditions (PG scoping); only an anonymous
      // subquery needs an invented alias
      else if (srcIsRel) srcText
      else freshView("msrc")
    require(st.lower(k) == "on", "graft: MERGE expects ON <condition>")
    k += 1
    val firstWhen = st.nextTopOutsideCase(k, Set("when"))
    require(firstWhen < st.n, "graft: MERGE expects at least one WHEN clause")
    val onCond = st.text(k, firstWhen)

    // WHEN clause list (CASE ... END spans are opaque to the scan)
    val clauses = ArrayBuffer.empty[Clause]
    k = firstWhen
    while (k < st.n) {
      require(st.lower(k) == "when", s"graft: MERGE expected WHEN, got '${st.lower(k)}'")
      k += 1
      val matched = if (st.lower(k) == "not") { k += 1
        require(st.lower(k) == "matched", "graft: MERGE expects NOT MATCHED")
        k += 1; false
      } else {
        require(st.lower(k) == "matched", "graft: MERGE expects MATCHED")
        k += 1; true
      }
      val cond = if (st.lower(k) == "and") {
        k += 1
        val thenIdx = st.nextTopOutsideCase(k, Set("then"))
        require(thenIdx < st.n, "graft: MERGE WHEN ... AND expects THEN")
        val c = st.text(k, thenIdx); k = thenIdx
        Some(c)
      } else None
      require(st.lower(k) == "then", "graft: MERGE WHEN expects THEN")
      k += 1
      val clauseEnd = st.nextTopOutsideCase(k, Set("when"))
      val action = st.lower(k) match {
        case "update" =>
          require(matched, "graft: MERGE UPDATE is only legal WHEN MATCHED")
          require(st.lower(k + 1) == "set", "graft: MERGE UPDATE expects SET")
          val assigns = st.splitCommas(k + 2, clauseEnd).map { case (a, b) =>
            // LHS: [alias.]column up to the first top-level '='
            var eq = a
            while (eq < b && !(st.depth(eq) == st.depth(a) && st.lower(eq) == "=")) eq += 1
            require(eq < b, "graft: MERGE SET expects column = expression")
            val lhs = st.ident(eq - 1) // last path component
            (lhs, st.text(eq + 1, b))
          }
          Update(assigns)
        case "delete" =>
          require(matched, "graft: MERGE DELETE is only legal WHEN MATCHED")
          Delete
        case "insert" =>
          require(!matched, "graft: MERGE INSERT is only legal WHEN NOT MATCHED")
          var p = k + 1
          val colList = if (st.lower(p) == "(") {
            val e = st.matching(p)
            val cols = st.splitCommas(p + 1, e - 1).map { case (a, _) => st.ident(a) }
            p = e
            Some(cols)
          } else None
          require(st.lower(p) == "values", "graft: MERGE INSERT expects VALUES")
          p += 1
          require(st.lower(p) == "(", "graft: MERGE INSERT expects VALUES (...)")
          val e = st.matching(p)
          val vals = st.splitCommas(p + 1, e - 1).map { case (a, b) => st.text(a, b) }
          require(e == clauseEnd,
            "graft: MERGE INSERT supports a single VALUES row")
          Insert(colList, vals)
        case other =>
          throw new IllegalArgumentException(
            s"graft: MERGE action must be UPDATE SET / DELETE / INSERT, got '$other'")
      }
      clauses += Clause(matched, cond, action)
      k = clauseEnd
    }

    val tCols = spark.table(target).columns.toSeq
    // SET / INSERT column names must resolve against the target (PG
    // raises "column does not exist"; a typo'd assignment must never
    // silently no-op — same class as the r18 UPDATE advice)
    clauses.foreach { cl =>
      val named = cl.action match {
        case Update(as) => as.map(_._1)
        case Insert(cols, _) => cols.getOrElse(Nil)
        case Delete => Nil
      }
      named.foreach { c =>
        require(tCols.exists(_.equalsIgnoreCase(c)),
          s"graft: MERGE column '$c' of relation '$target' does not exist")
      }
    }
    val matchedCls = clauses.filter(_.matched).toSeq
    val insertCls = clauses.filterNot(_.matched).toSeq
    def tref(c: String) = s"$tAlias.`$c`"
    val isMatched = s"($tAlias.__graft_mt IS NOT NULL AND $sAlias.__graft_ms IS NOT NULL)"
    val isSrcOnly = s"($tAlias.__graft_mt IS NULL)"
    def ladder(cls: Seq[Clause], value: Clause => String, elseTxt: String): String =
      if (cls.isEmpty) elseTxt
      else cls.map(c => s"WHEN ${c.cond.getOrElse("TRUE")} THEN ${value(c)}")
        .mkString("CASE ", " ", s" ELSE $elseTxt END")
    def insertValue(cl: Clause, c: String): String = cl.action match {
      case Insert(cols, vals) =>
        val order = cols.getOrElse(tCols)
        require(order.length == vals.length,
          s"graft: MERGE INSERT has ${order.length} columns but ${vals.length} values")
        order.zip(vals).collectFirst {
          case (cc, v) if cc.equalsIgnoreCase(c) => s"($v)"
        }.getOrElse("NULL")
      case _ => "NULL"
    }
    val selectCols = tCols.map { c =>
      val mVal = ladder(matchedCls, {
        case Clause(_, _, Update(as)) =>
          as.collectFirst { case (cc, v) if cc.equalsIgnoreCase(c) => s"($v)" }
            .getOrElse(tref(c))
        case _ => tref(c) // DELETE: value irrelevant, row is filtered
      }, tref(c))
      val iVal = ladder(insertCls, cl => insertValue(cl, c), tref(c))
      s"CASE WHEN $isMatched THEN $mVal WHEN $isSrcOnly THEN $iVal ELSE ${tref(c)} END AS `$c`"
    }
    val delLadder = ladder(matchedCls,
      cl => if (cl.action == Delete) "TRUE" else "FALSE", "FALSE")
    val insLadder = ladder(insertCls, _ => "TRUE", "FALSE")
    // MULTI-MATCH discipline (ADVICE r17), FUSED into the one join
    // (r19, per the r18 verdict — the eager plan-time detection join
    // doubled every MERGE's dominant join work). PG/openGauss raise
    // "MERGE command cannot affect row a second time" when one target
    // row is matched by SEVERAL source rows that would ACT on it; and
    // a multi-matched row whose extra pairs do NOT act must still emit
    // exactly once (the pair-wise full-outer rewrite would emit one
    // row per pair). The affect predicate is the OR of the matched
    // clauses' conditions (an unconditioned clause always acts).
    // Per-target-row match/acting counts are WINDOW functions computed
    // in the SAME join pass (one shared partition spec → one Window
    // node): double-acting raises through a guarded assert_true inside
    // the keep predicate; a multi-matched group keeps its unique acting
    // pair, or one representative when none acts (values fall through
    // the ladders to the target originals either way, so ANY
    // representative is value-identical). Source-only and target-only
    // rows window under their OWN ids ('s<sid>' / 't<tid>' keys), so
    // the NULL-tid side never gathers into one skewed partition.
    val affect =
      if (matchedCls.isEmpty) "FALSE"
      else if (matchedCls.exists(_.cond.isEmpty)) "TRUE"
      else matchedCls.flatMap(_.cond).map(c => s"($c)").mkString(" OR ")
    val acting = s"($isMatched AND ($affect))"
    val pk = s"coalesce(concat('t', CAST($tAlias.__graft_tid AS STRING)), " +
      s"concat('s', CAST($sAlias.__graft_sid AS STRING)))"
    val errMsg = "graft: MERGE command cannot affect row a second time - " +
      "a target row is matched by more than one acting source row " +
      "(openGauss/PostgreSQL MergeStmt semantics)"
    // ONE window spec for all three functions (same partition + order
    // → Catalyst plans a single Window node over the one sort the
    // row_number needs anyway); the aggregates pin the full-partition
    // frame explicitly since an ORDER BY would otherwise make them
    // running
    val wholePart = s"OVER (PARTITION BY $pk ORDER BY $tAlias.__graft_tid " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    val keep =
      s"""(assert_true(
         |    sum(CASE WHEN $acting THEN 1 ELSE 0 END) $wholePart <= 1,
         |    '$errMsg') IS NULL)
         |  AND NOT ($isMatched AND ($delLadder))
         |  AND NOT ($isSrcOnly AND NOT ($insLadder))
         |  AND (NOT $isMatched
         |    OR count(CASE WHEN $isMatched THEN 1 END) $wholePart <= 1
         |    OR $acting
         |    OR (sum(CASE WHEN $acting THEN 1 ELSE 0 END) $wholePart = 0
         |        AND row_number() OVER (PARTITION BY $pk
         |          ORDER BY $tAlias.__graft_tid) = 1))""".stripMargin
    val gen =
      s"""SELECT ${tCols.map(c => s"`$c`").mkString(", ")} FROM (
         |SELECT ${selectCols.mkString(", ")}, ($keep) AS __graft_keep
         |FROM (SELECT *, true AS __graft_mt,
         |        monotonically_increasing_id() AS __graft_tid FROM $target) $tAlias
         |FULL OUTER JOIN (SELECT *, true AS __graft_ms,
         |        monotonically_increasing_id() AS __graft_sid FROM $srcText) $sAlias
         |ON $onCond) WHERE __graft_keep""".stripMargin
    Some((target, gen))
  }

  // ------------------------------------------------------------------
  // UPDATE / DELETE (gram.y UpdateStmt:23328, DeleteStmt:23218) — the
  // two plain DML spellings, routed onto the same materialize-and-
  // substitute device as MERGE INTO. Only temp-view targets are ours
  // (v2 tables have native DML); RETURNING is rejected explicitly.
  // ------------------------------------------------------------------

  /** Parse `[[AS] alias]` after a relation name; returns (alias, next).
    * `stops` are the keywords that mean "no alias here". */
  private def parseAlias(st: Stmt, k0: Int, dflt: String,
      stops: Set[String]): (String, Int) = {
    var k = k0
    if (st.lower(k) == "as") k += 1
    if (k < st.n && st.tok(k).kind == ID && !stops(st.lower(k)))
      (st.ident(k), k + 1)
    else (dflt, k)
  }

  /** Parse a FROM/USING item: relation name or (subquery), plus alias.
    * Returns (fromText `(SELECT * FROM …) alias`-ready srcText, alias,
    * next index). Mirrors MERGE's source scoping: an unaliased named
    * relation is referenced by its own name. */
  private def parseSourceItem(st: Stmt, k0: Int,
      stops: Set[String]): (String, String, Int) = {
    var k = k0
    val (srcText, srcIsRel) =
      if (st.lower(k) == "(") { val e = st.matching(k); val t = st.text(k, e); k = e; (t, false) }
      else { val t = st.ident(k); k += 1; (t, true) }
    val (alias, k2) = parseAlias(st, k, if (srcIsRel) srcText else freshView("dsrc"), stops)
    (srcText, alias, k2)
  }

  private def requireNoReturning(st: Stmt, what: String): Unit =
    require(st.nextTop(0, Set("returning")) >= st.n,
      s"graft: $what ... RETURNING is not supported (a batch view has no " +
        "cursor to return rows through; SELECT the view after the write)")

  /**
   * `UPDATE t [[AS] a] SET col = expr [, ...] [FROM src [[AS] sa]]
   * [WHERE cond]` (gram.y:23328 incl. PG's join form). Without FROM:
   * one map-only projection — per column a `CASE WHEN cond THEN expr
   * ELSE old END`. With FROM: ONE LEFT JOIN on the WHERE condition;
   * matched rows take the assignments, unmatched pass through. PG
   * picks an ARBITRARY source row when several match one target row —
   * a deterministic engine picks the hash-least source tuple via a
   * window FUSED into the same join pass (one scan of the target per
   * statement; the r18 eager detection join is gone).
   */
  private def updateStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] =
    updateGen(spark, st).map { case (target, gen) =>
      applyDml(spark, target, gen)
      oneRow(spark, "command" -> "UPDATE", "table_name" -> target)
    }

  /** Parse an UPDATE statement and build its rewrite WITHOUT executing
    * — shared by [[updateStmt]] and `EXPLAIN UPDATE`. */
  private def updateGen(spark: SparkSession, st: Stmt): Option[(String, String)] = {
    val target = st.ident(1)
    if (!isTempView(spark, target)) return None
    requireNoReturning(st, "UPDATE")
    var k = 2
    val (tAlias, k1) = parseAlias(st, k, target, Set("set"))
    k = k1
    require(st.lower(k) == "set", "graft: UPDATE expects SET col = expr")
    val setEnd = st.nextTopOutsideCase(k + 1, Set("from", "where"))
    val assigns = st.splitCommas(k + 1, setEnd).map { case (a, b) =>
      require(st.lower(a) != "(",
        "graft: UPDATE SET (a, b) = (...) multi-column assignment is not " +
          "supported — write one col = expr per column")
      var eq = a
      while (eq < b && !(st.depth(eq) == st.depth(a) && st.lower(eq) == "=")) eq += 1
      require(eq < b, "graft: UPDATE SET expects column = expression")
      (st.ident(eq - 1), st.text(eq + 1, b))
    }
    k = setEnd
    val (srcOpt, sAlias, k2) =
      if (k < st.n && st.lower(k) == "from") {
        val (t, a, kk) = parseSourceItem(st, k + 1, Set("where"))
        (Some(t), a, kk)
      } else (None, "", k)
    k = k2
    val cond: Option[String] =
      if (k < st.n && st.lower(k) == "where") Some(st.text(k + 1, st.n)) else None
    val tCols = spark.table(target).columns.toSeq
    // every SET column must resolve (PG raises "column does not exist";
    // silently ignoring a typo'd assignment reported UPDATE success
    // while changing nothing — ADVICE r18)
    assigns.foreach { case (c, _) =>
      require(tCols.exists(_.equalsIgnoreCase(c)),
        s"graft: UPDATE column '$c' of relation '$target' does not exist")
    }
    def assignFor(c: String): Option[String] =
      assigns.collectFirst { case (cc, v) if cc.equalsIgnoreCase(c) => s"($v)" }

    val gen = srcOpt match {
      case None =>
        val condTxt = cond.getOrElse("TRUE")
        val cols = tCols.map { c =>
          assignFor(c) match {
            case Some(v) =>
              s"CASE WHEN ($condTxt) THEN $v ELSE $tAlias.`$c` END AS `$c`"
            case None => s"$tAlias.`$c` AS `$c`"
          }
        }
        s"SELECT ${cols.mkString(", ")} FROM $target $tAlias"
      case Some(srcText) =>
        val onCond = cond.getOrElse("TRUE")
        val matchedM = s"($sAlias.__graft_ms IS NOT NULL)"
        val cols = tCols.map { c =>
          assignFor(c) match {
            case Some(v) => s"CASE WHEN $matchedM THEN $v ELSE $tAlias.`$c` END AS `$c`"
            case None => s"$tAlias.`$c` AS `$c`"
          }
        }
        // FUSED multi-match dedup (r19, per the r18 verdict — the
        // eager plan-time detection join doubled every UPDATE...FROM's
        // dominant join work): the per-target-row pick is a window in
        // the SAME join pass. PG leaves "which source row" unspecified;
        // a batch engine must not flap run-to-run, so the pick orders
        // by a stable HASH of the source tuple (two independent hashes
        // — a value function of the row, so the pick survives any
        // repartitioning; and a NARROW sort key however wide the
        // source row is, the r18 verdict's key-hygiene item). Unmatched
        // target rows are singleton tid partitions — the window never
        // skews.
        val sDf = if (srcText.startsWith("("))
            spark.sql(srcText.stripPrefix("(").stripSuffix(")"))
          else spark.table(srcText)
        // hash/xxhash64 reject MapType (at any nesting) — keep only
        // hashable source columns in the pick key; a source of ONLY
        // maps degrades to an arbitrary single pick (PG-legal:
        // "unspecified which"), constant-keyed so exactly one row wins
        def hashable(dt: org.apache.spark.sql.types.DataType): Boolean =
          dt match {
            case _: org.apache.spark.sql.types.MapType => false
            case a: org.apache.spark.sql.types.ArrayType =>
              hashable(a.elementType)
            case s: org.apache.spark.sql.types.StructType =>
              s.fields.forall(f => hashable(f.dataType))
            case _ => true
          }
        // a subquery source can expose DUPLICATE column names (legal
        // until referenced) — `s.`k`` would be AMBIGUOUS_REFERENCE, so
        // keep only uniquely-named hashable columns in the pick key
        val nameCounts = sDf.schema.fieldNames
          .groupBy(identity).view.mapValues(_.length)
        val sCols = sDf.schema.fields.filter(f =>
            hashable(f.dataType) && nameCounts(f.name) == 1)
          .map(_.name).toSeq
        val hashArgs =
          if (sCols.nonEmpty) sCols.map(c => s"$sAlias.`$c`").mkString(", ")
          else "'x'"
        s"""SELECT ${tCols.map(c => s"`$c`").mkString(", ")} FROM (
           |SELECT ${cols.mkString(", ")},
           |  (NOT $matchedM OR row_number() OVER (
           |     PARTITION BY $tAlias.__graft_tid
           |     ORDER BY xxhash64($hashArgs), hash($hashArgs)) = 1)
           |  AS __graft_keep
           |FROM (SELECT *, monotonically_increasing_id() AS __graft_tid
           |      FROM $target) $tAlias
           |LEFT JOIN (SELECT *, true AS __graft_ms FROM $srcText) $sAlias
           |ON $onCond) WHERE __graft_keep""".stripMargin
    }
    Some((target, gen))
  }

  /**
   * `ANALYZE [VERBOSE] t [(col, ...)]` (gram.y AnalyzeStmt /
   * VacuumStmt's analyze arm; PG also spells it ANALYSE): the
   * pg_stats-shaped relation for the view — one row per column with
   * row_cnt / n_distinct / n_nulls — planned on the C29 Profile
   * device (r19, per the r18 verdict): a single wide aggregate with
   * one count_distinct PER COLUMN makes Catalyst plan an Expand that
   * replicates EVERY input row (c+1)× through the shuffle — exactly
   * the plan the repo's own Profile measured 2× slower and banned.
   *  - exact regime (default): ONE COLUMN-PRUNED BRANCH PER COLUMN,
   *    unioned — same total bytes off a columnar source, no row
   *    multiplication, branches schedule concurrently; PG samples 30k
   *    pages where this computes exact counts (deterministic choice,
   *    documented divergence).
   *  - `graft.analyze.fraction` ∈ (0,1) (the 100 TB regime): a seeded
   *    sample + ONE approx_count_distinct pass — one scan, no Expand,
   *    stats become estimates like the reference's.
   * The relation is returned LAZILY (no statement-time job). Spark's
   * own `ANALYZE TABLE ... COMPUTE STATISTICS` grammar (explicit
   * TABLE keyword) delegates untouched.
   */
  private def analyzeStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    var k = 1
    if (st.lower(k) == "verbose") k += 1
    if (st.lower(k) == "table") return None // Spark's native grammar
    if (k >= st.n || st.tok(k).kind != ID) return None
    val target = st.ident(k)
    if (!isTempView(spark, target)) return None
    k += 1
    val df = spark.table(target)
    val cols: Seq[String] =
      if (k < st.n && st.lower(k) == "(") {
        val e = st.matching(k)
        st.splitCommas(k + 1, e - 1).map { case (a, _) =>
          val c = st.ident(a)
          df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"graft: ANALYZE column '$c' not found in $target"))
        }
      } else df.columns.toSeq
    import org.apache.spark.sql.functions.{approx_count_distinct, array,
      coalesce, count, count_distinct, explode, struct, sum, when}
    def nulls(c: String): Column =
      coalesce(sum(when(col(s"`$c`").isNull, 1L).otherwise(0L)), lit(0L))
    val fraction = spark.conf.getOption("graft.analyze.fraction")
      .map(_.toDouble).filter(f => f > 0.0 && f < 1.0)
    val out: DataFrame = fraction match {
      case _ if cols.isEmpty =>
        // a zero-column relation profiles to the empty stats relation
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("column_name",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("row_cnt",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("n_distinct",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("n_nulls",
              org.apache.spark.sql.types.LongType, nullable = false))))
      case None =>
        // exact: one pruned branch per column (the Profile C29 plan —
        // NO Expand; plan-asserted in PgStatementsSpec)
        cols.map { c =>
          df.select(col(s"`$c`"))
            .agg(count(lit(1)).as("row_cnt"),
              count_distinct(col(s"`$c`")).as("n_distinct"),
              nulls(c).as("n_nulls"))
            .select(lit(c).as("column_name"), col("row_cnt"),
              col("n_distinct"), col("n_nulls"))
        }.reduce(_ unionByName _)
      case Some(f) =>
        // estimate: seeded sample + ONE HLL pass; the wide row reshapes
        // to row-per-column via a local explode (no extra shuffle).
        // Generated aliases are referenced BACKTICKED: a source column
        // named "a.b" must not parse as nested-field access.
        val df0 = df.sample(withReplacement = false, f, 42L)
        val aggs = count(lit(1)).as("__graft_rc") +: cols.flatMap(c => Seq(
          approx_count_distinct(col(s"`$c`")).as(s"__graft_d_$c"),
          nulls(c).as(s"__graft_n_$c")))
        df0.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(cols.map(c => struct(
              lit(c).as("column_name"), col("__graft_rc").as("row_cnt"),
              col(s"`__graft_d_$c`").as("n_distinct"),
              col(s"`__graft_n_$c`").as("n_nulls"))): _*)).as("p"))
          .select(col("p.*"))
    }
    Some(Bridge.logicalPlan(out))
  }

  /**
   * `VACUUM [FULL] [VERBOSE] [ANALYZE] t` / `VACUUM (options) t`
   * (gram.y VacuumStmt) — the maintenance verb whose batch analogue
   * became REAL with r18's append-maintained indexes: repeated
   * `INSERT`/`COPY FROM` append small parquet files into each IVF list
   * directory indefinitely, and the DML chain stacks view lineage.
   * VACUUM (a) re-materializes the view (lineage-truncated — the
   * "dead tuples" of a batch view are its stacked DML plans) and
   * (b) rewrites every index's parquet COALESCED to one file per
   * partition directory, reader pruning intact — no quantizer
   * retrain, unlike the REINDEX recovery path. The ANALYZE arm
   * composes: the statement then RETURNS the pg_stats relation
   * (PG's `VACUUM ANALYZE`); otherwise a command row. FULL/FREEZE/
   * VERBOSE are accepted (the rewrite is always "full" — there is no
   * cheaper in-place form on immutable files).
   */
  private def vacuumStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    var k = 1
    var analyze = false
    var scanning = true
    while (scanning && k < st.n) {
      st.lower(k) match {
        case "full" | "freeze" | "verbose" => k += 1
        case "analyze" | "analyse" => analyze = true; k += 1
        case "(" if k == 1 =>
          val e = st.matching(k)
          st.splitCommas(k + 1, e - 1).foreach { case (a, _) =>
            st.lower(a) match {
              case "analyze" | "analyse" => analyze = true
              case "full" | "freeze" | "verbose" =>
              case other => throw new IllegalArgumentException(
                s"graft: unknown VACUUM option '$other'")
            }
          }
          k = e
        case _ => scanning = false
      }
    }
    if (k >= st.n || st.tok(k).kind != ID) return None // bare VACUUM etc.
    val target = st.ident(k); k += 1
    if (!isTempView(spark, target)) return None
    // PG's per-column form: VACUUM ANALYZE t (c1, ...) — the column
    // list is legal only with ANALYZE, and is forwarded to it
    val colList: String =
      if (k < st.n && st.lower(k) == "(") {
        require(analyze,
          "graft: a VACUUM column list requires the ANALYZE option")
        val e = st.matching(k)
        val t = st.text(k, e); k = e
        t
      } else ""
    require(k >= st.n, s"graft: VACUUM: unexpected '${st.lower(k)}'")
    // (a) compact the view's DML lineage into one materialized state
    truncated(spark.table(target)).createOrReplaceTempView(target)
    // (b) reclaim superseded CLUSTER rewrite generations — the view no
    // longer reads any of them after the re-materialize above
    clusterPathsByTable(spark).remove(normName(target))
      .getOrElse(Nil).foreach(deletePath(spark, _))
    // (c) coalesce every index's postings parquet, pruning preserved
    val rewritten = IndexCatalog.vacuumTable(spark, target)
    if (analyze)
      analyzeStmt(spark, new Stmt(lex(s"ANALYZE $target $colList")))
    else Some(oneRow(spark, "command" -> "VACUUM", "table_name" -> target,
      "indexes_rewritten" -> rewritten.toString))
  }

  /** PG remembers which index a table was last CLUSTERed by (bare
    * `CLUSTER t` re-uses it) — index NAME per table. SESSION-scoped:
    * temp views are session objects, and a JVM-global map would let
    * one session's VACUUM delete parquet another session's live view
    * still reads. */
  private val clusteredBy = new SessionMap[String]
  /** Cluster-rewrite parquet generations per table — reclaimed by
    * VACUUM (PG's posture: old heap tuples survive a rewrite until
    * vacuum), newest first. Session-scoped like [[clusteredBy]]. */
  private val clusterPathsByTable = new SessionMap[List[String]]

  /**
   * `CLUSTER [VERBOSE] t [USING idx]` (gram.y ClusterStmt) — PG
   * rewrites the table ON DISK in index order; the batch analogue is
   * exactly that: the view's rows are assigned to the vector index's
   * coarse quantizer lists (the index's own geometry — space
   * transform + nearest centroid), REWRITTEN to parquet repartitioned
   * and sorted by list, and the view re-registered over the clustered
   * files. Same-list rows (near neighbors) become physically
   * co-located, so downstream exact scans and file-level min/max
   * skipping on correlated columns improve — the locality win PG's
   * CLUSTER buys, without touching results (content identical, so
   * existing indexes stay VALID, like PG). Bare `CLUSTER t` re-uses
   * the remembered index (PG raises "there is no previously clustered
   * index" otherwise — so do we).
   */
  private def clusterStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    var k = 1
    if (st.lower(k) == "verbose") k += 1
    if (k >= st.n || st.tok(k).kind != ID) return None // bare CLUSTER etc.
    val target = st.ident(k); k += 1
    if (!isTempView(spark, target)) return None
    val idxName: String =
      if (k < st.n && st.lower(k) == "using") normName(st.ident(k + 1))
      else clusteredBy(spark).getOrElse(normName(target),
        throw new IllegalArgumentException(
          s"graft: there is no previously clustered index for table " +
            s"'$target' — use CLUSTER $target USING <index>"))
    val idx = IndexCatalog.get(idxName).filter(i =>
        normName(i.table) == normName(target)).getOrElse(
      throw new IllegalArgumentException(
        s"graft: index '$idxName' does not exist on table '$target'"))
    val cur = spark.table(target)
    val cid = "__graft_cluster_list"
    val sc = "__graft_space"
    def viaIvf(column: String, space: String, aug: Double,
        model: Ivf.Model): DataFrame =
      Ivf.assign(cur.withColumn(sc, spaceColumn(space, col(column), aug)),
          sc, model)
        .withColumnRenamed("list_id", cid).drop(sc)
    val assigned = idx match {
      case i: IndexCatalog.IvfIdx => viaIvf(i.column, i.space, i.aug, i.model)
      case h: IndexCatalog.HnswIdx => viaIvf(h.column, h.space, h.aug, h.model)
      case b: IndexCatalog.BitIvfIdx =>
        IvfBit.assign(cur, b.column, b.model).withColumnRenamed("list_id", cid)
    }
    val root = spark.conf.getOption("graft.index.dir").getOrElse(
      spark.conf.get("spark.sql.warehouse.dir") + "/_graft_cluster")
    val path =
      s"$root/${target.toLowerCase(java.util.Locale.ROOT)}_${viewSeq.incrementAndGet()}"
    // one task per list (repartition on the list key) → same-list rows
    // land contiguously in one file, sorted runs within it
    assigned.repartition(col(cid)).sortWithinPartitions(cid)
      .drop(cid)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(target)
    clusteredBy(spark)(normName(target)) = idxName
    // PREVIOUS cluster rewrites are NOT deleted here: user-captured
    // plans (a view defined over the table between two CLUSTERs, a
    // held DataFrame) may still read them — exactly PG's MVCC posture,
    // where old heap tuples survive the rewrite until VACUUM reclaims
    // them. VACUUM re-materializes the view, then deletes every
    // tracked generation.
    val nt = normName(target)
    clusterPathsByTable(spark).put(nt,
      path :: clusterPathsByTable(spark).getOrElse(nt, Nil))
    Some(oneRow(spark, "command" -> "CLUSTER", "table_name" -> target,
      "index_name" -> idxName))
  }

  /** Spark's own SHOW grammar heads — these always delegate. */
  private val sparkShowForms = Set("tables", "table", "databases",
    "namespaces", "schemas", "columns", "functions", "views",
    "partitions", "tblproperties", "create", "catalogs", "current")

  /**
   * `SHOW <guc>` / `SHOW TIME ZONE` / `SHOW ALL` (gram.y
   * VariableShowStmt) — the read half of the GUC surface whose write
   * half already works verbatim (`SET ivfflat.probes = 4` lands in the
   * session conf through Spark's native SET). `SHOW name` returns the
   * one-row one-column relation PG returns (column named after the
   * variable); `TIME ZONE` maps to the session timezone; `SHOW ALL`
   * renders the session conf sorted (PG's three-column shape with a
   * NULL description). Spark's own SHOW forms (TABLES/COLUMNS/...)
   * delegate untouched, as does an unset un-dotted name — only a
   * DOTTED unknown (unambiguously GUC-shaped) raises PG's
   * "unrecognized configuration parameter".
   */
  private def showStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    if (sparkShowForms(st.lower(1))) return None
    import spark.implicits._
    if (st.lower(1) == "all" && st.n == 2) {
      // redact like Spark's own SET -v path — a raw dump of the conf
      // would print secrets (s3a keys, tokens) Spark never shows
      val redactPattern = spark.conf
        .getOption("spark.redaction.regex")
        .getOrElse("(?i)secret|password|token|access[.]key").r
      val rows = spark.conf.getAll.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          val shown =
            if (redactPattern.findFirstIn(k).isDefined)
              "*********(redacted)"
            else v
          (k, shown, null: String)
        }
      return Some(Bridge.logicalPlan(
        rows.toDF("name", "setting", "description")))
    }
    val verbatim = st.text(1, st.n).replaceAll("\\s+", " ")
    val name = verbatim.toLowerCase(java.util.Locale.ROOT)
    val (keys, colName) =
      if (name == "time zone" || name == "timezone")
        (Seq("spark.sql.session.timeZone"), "TimeZone")
      // PG folds GUC names case-insensitively, but Spark conf keys are
      // case-sensitive and SET stores them verbatim — try the statement's
      // own spelling first, then the folded form, so the read half can
      // always read what the write half wrote (`SET MyExt.Flag = 1`)
      else (Seq(verbatim, name).distinct, name)
    keys.flatMap(spark.conf.getOption).headOption match {
      case Some(v) =>
        // same redaction as SHOW ALL when the KEY itself is secretive
        val redactPattern = spark.conf
          .getOption("spark.redaction.regex")
          .getOrElse("(?i)secret|password|token|access[.]key").r
        val shown =
          if (redactPattern.findFirstIn(name).isDefined)
            "*********(redacted)"
          else v
        Some(Bridge.logicalPlan(Seq(shown).toDF(colName)))
      case None if name.contains(".") =>
        throw new IllegalArgumentException(
          s"""graft: unrecognized configuration parameter "$name"""")
      case None => None // could be Spark SHOW syntax we don't know: delegate
    }
  }

  // ------------------------------------------------------------------
  // EXPLAIN over routed statements (gram.y ExplainStmt;
  // contrib/auto_explain — C82's renderer captures the ANALYZE form)
  // ------------------------------------------------------------------

  /**
   * `EXPLAIN [ANALYZE] [VERBOSE] <stmt>` / `EXPLAIN (options) <stmt>`
   * for statements only THIS router can plan — the first thing a PG
   * user types when a MERGE/UPDATE/KNN statement is slow, and none of
   * them parse under Spark's grammar. The explainable set mirrors
   * PG's ExplainableStmt rule: SELECT / INSERT / UPDATE / DELETE /
   * MERGE / EXECUTE — statement verbs with side effects beyond DML
   * (TRUNCATE, VACUUM, CREATE INDEX, ...) are NOT explainable, in PG
   * or here (they delegate to the syntax error, and are never
   * executed by an EXPLAIN).
   *  - DML (`MERGE`/`UPDATE`/`DELETE`/`INSERT`): the plain form
   *    renders the REWRITTEN statement's Spark plan WITHOUT executing
   *    (PG: EXPLAIN never runs the DML) — the gen builders are shared
   *    with the executors, so the plan shown is exactly the plan the
   *    statement would run. `EXPLAIN ANALYZE` EXECUTES the DML (PG
   *    semantics) through the SAME applyDml/applyInsert the executors
   *    use, then renders that DataFrame's own executed plan with the
   *    actual row count via the C82 extraction — reading the
   *    QueryExecution directly, never the asynchronous listener bus
   *    (whose queued events from a prior statement could be delivered
   *    to a freshly installed listener).
   *  - `EXECUTE name (args)`: the $n-substituted body is resolved
   *    first and re-enters this logic, so a prepared DML takes the
   *    no-execute path and a prepared SELECT renders its plan.
   *  - routed queries (the KNN index idiom, CONNECT BY, TIMECAPSULE,
   *    WITH RECURSIVE): the routed plan; ANALYZE runs them (and plain
   *    selects — Spark has no ANALYZE mode, pure added syntax)
   *    through a noop sink for actuals.
   * Plain `EXPLAIN SELECT ...` and Spark's EXTENDED/CODEGEN/COST/
   * FORMATTED modes delegate untouched, so Spark's own EXPLAIN
   * surface (schema included) never changes. Output: one `query_plan`
   * row per rendered line, like pg's "QUERY PLAN" relation.
   */
  /** PG ExplainStmt option names — a `(` after EXPLAIN is an option
    * list only when it opens with one of these (else it's a
    * parenthesized query). */
  private val explainOptionWords = Set("analyze", "analyse", "verbose",
    "costs", "format", "buffers", "timing", "summary", "settings",
    "wal", "memory", "generic_plan")

  private def explainStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    var k = 1
    var analyze = false
    var verbose = false
    var scanning = true
    while (scanning && k < st.n) {
      st.lower(k) match {
        case "analyze" | "analyse" => analyze = true; k += 1
        case "verbose" => verbose = true; k += 1
        case "(" if k == 1 && explainOptionWords(st.lower(k + 1)) =>
          // a paren at k==1 is an option list ONLY when it opens with a
          // known option word — `EXPLAIN (SELECT 1)` is a parenthesized
          // QUERY that stock Spark accepts, and must reach the dispatch
          // below (which delegates it untouched)
          val e = st.matching(k)
          st.splitCommas(k + 1, e - 1).foreach { case (a, _) =>
            st.lower(a) match {
              case "analyze" | "analyse" => analyze = true
              case "verbose" => verbose = true
              // accepted, no batch analogue (PG ExplainStmt options)
              case "costs" | "format" | "buffers" | "timing" | "summary" |
                   "settings" | "wal" | "memory" | "generic_plan" =>
              case other => throw new IllegalArgumentException(
                s"graft: unknown EXPLAIN option '$other'")
            }
          }
          k = e
        case _ => scanning = false
      }
    }
    if (k >= st.n) return None
    val innerText0 = st.text(k, st.n)
    val ist0 = new Stmt(lex(innerText0))
    // EXPLAIN EXECUTE plans the $n-SUBSTITUTED body (PG ExplainStmt
    // accepts ExecuteStmt) — resolve it first so a prepared DML takes
    // the no-execute path below like a direct one
    val fromExecute =
      ist0.lower(0) == "execute" && ist0.lower(1) != "immediate"
    val (innerText, ist) =
      if (fromExecute)
        substituteExecute(spark, ist0) match {
          case Some(t0) =>
            // the substituted body missed the parse-time splices —
            // sequence calls honor the EXPLAIN posture (peek unless
            // ANALYZE), PREDICT BY resolves as usual
            val t = spliceSeq(splicePredict(t0), Some(analyze))
            (t, new Stmt(lex(t)))
          case None => return None // unknown name: Spark's error path
        }
      else (innerText0, ist0)
    val mode = if (verbose) "extended" else "simple"
    def render(lines: Seq[String]): LogicalPlan = {
      import spark.implicits._
      Bridge.logicalPlan(lines.toDF("query_plan"))
    }
    def planLines(df: DataFrame): Seq[String] =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(mode))
        .split("\n").toSeq
    /** Render an EXECUTED DataFrame: its own plan + actual rows (the
      * C82 metric extraction over ITS OWN QueryExecution — the DML
      * materialize ran exactly this plan). */
    def rendered(df: DataFrame): LogicalPlan =
      render(planLines(df) ++ graft.operators.AutoExplain
        .actualRows(df.queryExecution).map(r => s"Actual Rows: $r"))
    /** ANALYZE for a query: execute THIS QueryExecution's physical
      * plan (a distributed count over its own RDD — a sink write would
      * plan a separate execution whose metrics the df never sees). */
    def analyzedQuery(df: DataFrame): LogicalPlan = {
      val n = df.queryExecution.toRdd.count()
      render(planLines(df) :+ s"Actual Rows: $n")
    }
    ist.lower(0) match {
      case "merge" | "update" | "delete" =>
        val gen = (ist.lower(0) match {
          case "merge" => mergeGen(spark, ist)
          case "update" => updateGen(spark, ist)
          case _ => deleteGen(spark, ist)
        }).getOrElse(return None)
        if (analyze) Some(rendered(applyDml(spark, gen._1, gen._2)))
        else Some(render(planLines(spark.sql(gen._2))))
      case "insert" =>
        val (target, aligned, appended) =
          insertPlan(spark, ist).getOrElse(return None)
        if (analyze)
          Some(rendered(applyInsert(spark, target, aligned, appended)))
        else Some(render(planLines(appended)))
      case "select" | "with" | "values" | "(" =>
        // the PG-explainable query heads; everything else (TRUNCATE,
        // VACUUM, DDL, ...) is not an ExplainableStmt — delegate to
        // the syntax error WITHOUT executing anything
        route(innerText) match {
          case Some(plan) =>
            val df = Bridge.ofRows(spark, plan)
            if (analyze) Some(analyzedQuery(df))
            else Some(render(planLines(df)))
          case None if analyze || fromExecute || k > 1 =>
            // OURS whenever Spark cannot parse the original text:
            // EXPLAIN ANALYZE <plain select> (Spark has no ANALYZE
            // mode), EXPLAIN EXECUTE of a prepared plain select, and
            // any consumed PG-only prefix (VERBOSE / option parens —
            // k > 1 means prefix tokens were taken)
            val df = try spark.sql(innerText)
              catch { case NonFatal(_) => return None }
            if (analyze) Some(analyzedQuery(df))
            else Some(render(planLines(df)))
          case None => None // Spark's own EXPLAIN surface, untouched
        }
      case _ => None // not ExplainableStmt (PG gram.y) — never executed
    }
  }

  // ------------------------------------------------------------------
  // PREPARE / EXECUTE / DEALLOCATE (gram.y PrepareStmt / ExecuteStmt /
  // DeallocateStmt) — session prepared statements. PREPARE stores the
  // (post-rewrite) statement text; EXECUTE substitutes the positional
  // $n parameters token-wise (string literals are opaque to the
  // scan) and re-enters the FULL pipeline via spark.sql, so prepared
  // MERGE/UPDATE/KNN statements route exactly like direct ones
  // (PgSqlRewrite is idempotent — corpus-pinned — so the second
  // rewrite pass is a no-op). Type lists are accepted and ignored
  // (Spark resolves types at analysis).
  // ------------------------------------------------------------------

  /** Keyed BY SESSION: PG prepared statements are session scoped — a
    * JVM-global map let one session's DEALLOCATE ALL clear another's
    * (ADVICE r18). Weak keys: a session's statements die with it. */
  /** Weak-keyed per-session state store: the session's objects die
    * with it, and one session's statements can never see another's
    * (PG session scoping — prepared statements, sequences, CLUSTER
    * bookkeeping all ride this one idiom). */
  private final class SessionMap[V] {
    private val bySession = new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, V]]()
    def apply(spark: SparkSession)
        : scala.collection.concurrent.TrieMap[String, V] =
      bySession.synchronized {
        var m = bySession.get(spark)
        if (m == null) {
          m = scala.collection.concurrent.TrieMap.empty[String, V]
          bySession.put(spark, m)
        }
        m
      }
  }
  private val preparedBySession = new SessionMap[String]
  private def normName(s: String) = s.toLowerCase(java.util.Locale.ROOT)
  private def preparedStmts(spark: SparkSession)
      : scala.collection.concurrent.TrieMap[String, String] =
    preparedBySession(spark)

  private def prepareStmt(st: Stmt): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val name = st.ident(1)
    var k = 2
    if (st.lower(k) == "(") k = st.matching(k) // parameter types: ignored
    if (st.lower(k) != "as") return None // not PG's PREPARE: delegate
    val body = st.text(k + 1, st.n)
    require(body.nonEmpty, "graft: PREPARE expects AS <statement>")
    preparedStmts(spark)(normName(name)) = body
    Some(oneRow(spark, "command" -> "PREPARE", "name" -> name))
  }

  private def executeStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] =
    substituteExecute(spark, st).map(t => Bridge.logicalPlan(spark.sql(t)))

  /** Resolve an EXECUTE statement to its $n-substituted body WITHOUT
    * running it — shared by [[executeStmt]] and `EXPLAIN EXECUTE`. */
  private def substituteExecute(spark: SparkSession,
      st: Stmt): Option[String] = {
    val name = st.ident(1)
    val body = preparedStmts(spark).getOrElse(normName(name), return None)
    val args: Seq[String] =
      if (st.n > 2 && st.lower(2) == "(") {
        val e = st.matching(2)
        st.splitCommas(3, e - 1).map { case (a, b) => st.text(a, b) }
      } else Seq.empty
    // substitute $n positionally; literals are separate tokens so a
    // '$1' inside a string can never match
    val b = new Stmt(lex(body))
    val repls = ArrayBuffer.empty[(Int, Int, String)]
    var p = 0
    while (p < b.n - 1) {
      if (b.tok(p).kind == P && b.tok(p).text == "$" &&
          b.tok(p + 1).kind == P && b.tok(p + 1).text.forall(_.isDigit)) {
        val i = b.tok(p + 1).text.toInt
        require(i >= 1 && i <= args.length,
          s"graft: EXECUTE $name: parameter $$$i but ${args.length} " +
            "argument(s) supplied")
        repls += ((p, p + 2, s"(${args(i - 1)})"))
        p += 2
      } else p += 1
    }
    Some(b.splice(repls.toSeq))
  }

  private def deallocateStmt(st: Stmt): Option[LogicalPlan] = {
    val spark = SparkSession.active
    var k = 1
    if (st.lower(k) == "prepare") k += 1
    if (st.lower(k) == "all") {
      // only THIS session's statements (PG's DEALLOCATE ALL scope)
      preparedStmts(spark).clear()
    } else {
      val name = st.ident(k)
      if (preparedStmts(spark).remove(normName(name)).isEmpty)
        return None // unknown: Spark's own error path
    }
    Some(oneRow(spark, "command" -> "DEALLOCATE"))
  }

  /** `TRUNCATE [TABLE] t` (gram.y TruncateStmt): re-registers the view
    * as its own empty projection (schema preserved, no scan — the
    * filter folds to an empty relation) and invalidates indexes.
    * Non-temp-view targets delegate to Spark's native TRUNCATE. */
  private def truncateStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    val k = if (st.lower(1) == "table") 2 else 1
    if (st.n > k + 1) return None // multi-name / CASCADE etc.: delegate
    val target = st.ident(k)
    if (!isTempView(spark, target)) return None
    // an empty LocalRelation with the same schema — cleaner than a
    // false-filter over the prior state, whose plan (and any stale
    // checkpoint constraints) would otherwise linger under the view
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spark.table(target).schema)
      .createOrReplaceTempView(target)
    IndexCatalog.invalidateTable(spark, target)
    Some(oneRow(spark, "command" -> "TRUNCATE", "table_name" -> target))
  }

  /**
   * `INSERT INTO t [(cols)] {VALUES (...), ... | SELECT ...}`
   * (gram.y InsertStmt) — the last of the DML quartet. The payload
   * parses natively (Spark's own VALUES inline-table or any SELECT),
   * aligns POSITIONALLY to the column list (PG semantics), casts each
   * provided column to the target column's type (PG's assignment
   * cast), fills unlisted columns with typed NULLs, and APPENDS via
   * unionByName — the scan side stays lazy and splittable, so a
   * 100 TB `INSERT INTO t SELECT ...` is a parallel append, never a
   * driver ingest. `ON DUPLICATE KEY UPDATE` (openGauss upsert)
   * is rejected explicitly: a temp view declares no key — MERGE INTO
   * is the routed upsert spelling.
   */
  /** Materialize an INSERT append and grow/invalidate indexes; returns
    * the appended DataFrame with executed metrics (like [[applyDml]]). */
  private def applyInsert(spark: SparkSession, target: String,
      aligned: DataFrame, appended: DataFrame): DataFrame = {
    truncated(appended).createOrReplaceTempView(target)
    IndexCatalog.maintainAppend(spark, target, aligned)
    appended
  }

  private def insertStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] =
    insertPlan(spark, st).map { case (target, aligned, appended) =>
      applyInsert(spark, target, aligned, appended)
      oneRow(spark, "command" -> "INSERT", "table_name" -> target)
    }

  /** Parse an INSERT statement and build the (aligned incoming,
    * appended) DataFrames LAZILY — shared by [[insertStmt]] and
    * `EXPLAIN INSERT`. */
  private def insertPlan(spark: SparkSession,
      st: Stmt): Option[(String, DataFrame, DataFrame)] = {
    val target = st.ident(2)
    if (!isTempView(spark, target)) return None
    requireNoReturning(st, "INSERT")
    require(!(0 until st.n - 1).exists(p => st.depth(p) == 0 &&
        st.lower(p) == "duplicate" && st.lower(p + 1) == "key"),
      "graft: INSERT ... ON DUPLICATE KEY UPDATE is not supported on a " +
        "temp view (no key declaration) — MERGE INTO is the routed upsert")
    var k = 3
    val colList: Option[Seq[String]] =
      if (st.lower(k) == "(") {
        val e = st.matching(k)
        val cs = st.splitCommas(k + 1, e - 1).map { case (a, _) => st.ident(a) }
        k = e
        Some(cs)
      } else None
    val payload = st.text(k, st.n)
    require(st.lower(k) == "values" || st.lower(k) == "select" ||
        st.lower(k) == "(" || st.lower(k) == "with",
      "graft: INSERT expects VALUES (...) or a SELECT query")
    val cur = spark.table(target)
    val want: Seq[String] = colList.map(_.map(c =>
        cur.columns.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"graft: INSERT column '$c' not in $target"))))
      .getOrElse(cur.columns.toSeq)
    val incoming0 = spark.sql(payload)
    require(incoming0.columns.length == want.length,
      s"graft: INSERT has ${want.length} target column(s) but the source " +
        s"provides ${incoming0.columns.length}")
    // positional alignment + assignment cast to the declared types
    val provided = incoming0.columns.zip(want).map { case (src, dst) =>
      col(s"`$src`").cast(cur.schema(dst).dataType).as(dst)
    }
    val aligned0 = incoming0.select(provided.toSeq: _*)
    val aligned = aligned0.select(cur.columns.toSeq.map { c =>
      if (want.exists(_.equalsIgnoreCase(c))) col(s"`$c`")
      else lit(null).cast(cur.schema(c).dataType).as(c)
    }: _*)
    Some((target, aligned, cur.unionByName(aligned)))
  }

  /**
   * `DELETE FROM t [[AS] a] [USING src [[AS] sa]] [WHERE cond]`
   * (gram.y:23218). Without USING: keep rows where the condition IS
   * NOT TRUE (NULL keeps the row — PG's three-valued WHERE). With
   * USING: one LEFT ANTI join on the condition — a target row with
   * ANY matching source row is deleted; arbitrary (non-equi) join
   * conditions stay legal (Spark plans a broadcast nested loop).
   */
  private def deleteStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] =
    deleteGen(spark, st).map { case (target, gen) =>
      applyDml(spark, target, gen)
      oneRow(spark, "command" -> "DELETE", "table_name" -> target)
    }

  /** Parse a DELETE statement and build its rewrite WITHOUT executing
    * — shared by [[deleteStmt]] and `EXPLAIN DELETE`. */
  private def deleteGen(spark: SparkSession, st: Stmt): Option[(String, String)] = {
    val target = st.ident(2)
    if (!isTempView(spark, target)) return None
    requireNoReturning(st, "DELETE")
    var k = 3
    val (tAlias, k1) = parseAlias(st, k, target, Set("using", "where"))
    k = k1
    val (srcOpt, sAlias, k2) =
      if (k < st.n && st.lower(k) == "using") {
        val (t, a, kk) = parseSourceItem(st, k + 1, Set("where"))
        (Some(t), a, kk)
      } else (None, "", k)
    k = k2
    val cond: Option[String] =
      if (k < st.n && st.lower(k) == "where") Some(st.text(k + 1, st.n)) else None
    val gen = srcOpt match {
      case None =>
        val c = cond.getOrElse("TRUE")
        s"SELECT $tAlias.* FROM $target $tAlias WHERE ($c) IS NOT TRUE"
      case Some(srcText) =>
        val c = cond.getOrElse("TRUE")
        s"""SELECT $tAlias.* FROM $target $tAlias
           |LEFT ANTI JOIN (SELECT * FROM $srcText) $sAlias ON $c""".stripMargin
    }
    Some((target, gen))
  }

  // ------------------------------------------------------------------
  // START WITH / CONNECT BY (gram.y start_with_clause/connect_by_clause)
  // ------------------------------------------------------------------

  private val clauseEnders = Set("start", "connect", "where", "group",
    "having", "order", "limit", "union", "intersect", "except", "window",
    "qualify")

  /**
   * Hierarchical SELECT: extract FROM/START WITH/CONNECT BY, run the
   * C52 frontier-BFS engine, join its (id, level, root_id, path,
   * is_leaf) rows back to the relation (row-per-path semantics), and
   * re-parse the statement with the pseudo-columns mapped:
   * LEVEL→level (name resolution), CONNECT_BY_ROOT id→root_id,
   * SYS_CONNECT_BY_PATH(id,'/')→path, CONNECT_BY_ISLEAF→is_leaf.
   */
  private def connectBy(spark: SparkSession, st: Stmt, cbIdx: Int): LogicalPlan = {
    // CONNECT BY [NOCYCLE] [PRIOR] a = [PRIOR] b
    var k = cbIdx + 2
    require(st.lower(k) != "nocycle",
      "graft: CONNECT BY NOCYCLE is not supported (cycles error at maxDepth, " +
        "Oracle/openGauss default behavior)")
    val cbEnd = st.nextTop(k, clauseEnders)
    // parse condition: split on the '=' at clause depth
    var eq = k
    while (eq < cbEnd && !(st.depth(eq) == 0 && st.lower(eq) == "=")) eq += 1
    require(eq < cbEnd, "graft: CONNECT BY expects [PRIOR] col = [PRIOR] col")
    def side(a: Int, b: Int): (Boolean, String) = {
      var p = a
      val prior = st.lower(p) == "prior"
      if (prior) p += 1
      // [alias.]column — take the last path component
      var last = p
      while (p < b) { if (st.tok(p).kind == ID) last = p; p += 1 }
      (prior, st.ident(last))
    }
    val (lp, lcol) = side(k, eq)
    val (rp, rcol) = side(eq + 1, cbEnd)
    require(lp ^ rp, "graft: CONNECT BY needs PRIOR on exactly one side")
    val (idCol0, parentCol0) = if (lp) (lcol, rcol) else (rcol, lcol)

    // START WITH (optional: absent = every row is a root)
    val swIdx = (0 until st.n - 1).find(p =>
      st.depth(p) == 0 && st.lower(p) == "start" && st.lower(p + 1) == "with")
    val (swText, swSpan) = swIdx match {
      case Some(s0) =>
        val e = st.nextTop(s0 + 2, clauseEnders)
        (Some(st.text(s0 + 2, e)), Some((s0, e)))
      case None => (None, None)
    }

    // FROM <single relation> [alias]
    val fromIdx = st.nextTop(0, Set("from"))
    require(fromIdx < st.n, "graft: hierarchical query expects FROM <table>")
    val table = st.ident(fromIdx + 1)
    require(st.tok(fromIdx + 1).kind == ID && st.lower(fromIdx + 1) != "(",
      "graft: START WITH/CONNECT BY supports a single named relation in FROM")
    val nodes = spark.table(table)
    def resolve(c: String): String =
      nodes.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"graft: CONNECT BY column '$c' not found in $table"))
    val idCol = resolve(idCol0)
    val parentCol = resolve(parentCol0)
    val pseudo = Seq("level", "root_id", "path", "is_leaf")
    require(!nodes.columns.exists(c => pseudo.contains(c.toLowerCase)),
      s"graft: $table already has a ${pseudo.mkString("/")} column — rename it " +
        "to use hierarchical pseudo-columns")

    val startCol: Column = swText.map(expr).getOrElse(lit(true))
    val h = Hierarchy.connectBy(nodes, idCol, parentCol, startCol)
      .withColumnRenamed("id", "__graft_cb_id")
    val joined = nodes.join(h, nodes(idCol).cast("long") === h("__graft_cb_id"))
      .drop("__graft_cb_id")
    val uniq = freshView("cb")
    joined.createOrReplaceTempView(uniq) // dropped after analysis below

    // splice: drop the two clauses, swap the relation, map pseudo-fns
    val repls = ArrayBuffer.empty[(Int, Int, String)]
    repls += ((cbIdx, cbEnd, ""))
    swSpan.foreach { case (a, b) => repls += ((a, b, "")) }
    repls += ((fromIdx + 1, fromIdx + 2, uniq))
    var p = 0
    while (p < st.n) {
      st.lower(p) match {
        case "sys_connect_by_path" =>
          require(st.lower(p + 1) == "(",
            "graft: SYS_CONNECT_BY_PATH expects (col, 'sep')")
          val e = st.matching(p + 1)
          val args = st.splitCommas(p + 2, e - 1)
          require(args.length == 2, "graft: SYS_CONNECT_BY_PATH expects 2 args")
          val (a0, b0) = args(0)
          val argCol = (a0 until b0).filter(st.tok(_).kind == ID)
            .lastOption.map(st.ident).getOrElse("")
          require(argCol.equalsIgnoreCase(idCol),
            s"graft: SYS_CONNECT_BY_PATH supports the CONNECT BY id column ($idCol)")
          val sep = st.tok(args(1)._1).text
          require(sep == "'/'",
            "graft: SYS_CONNECT_BY_PATH supports separator '/'")
          repls += ((p, e, "path"))
          p = e
        case "connect_by_root" =>
          // exactly one column ref follows: ident (. ident)* — dots
          // must alternate, so a following AS/alias is never consumed
          var q = p + 1
          require(q < st.n && st.tok(q).kind == ID,
            "graft: CONNECT_BY_ROOT expects a column reference")
          var last = q
          q += 1
          while (q + 1 < st.n && st.lower(q) == "." && st.tok(q + 1).kind == ID) {
            last = q + 1; q += 2
          }
          require(st.ident(last).equalsIgnoreCase(idCol),
            s"graft: CONNECT_BY_ROOT supports the CONNECT BY id column ($idCol)")
          repls += ((p, last + 1, "root_id"))
          p = last + 1
        case "connect_by_isleaf" =>
          repls += ((p, p + 1, "is_leaf")); p += 1
        case _ => p += 1
      }
    }
    analyzedThenDrop(spark, st.splice(repls.toSeq), uniq)
  }

  // ------------------------------------------------------------------
  // TIMECAPSULE (gram.y:6416-6453)
  // ------------------------------------------------------------------

  private val tcExprEnders = Set("where", "group", "having", "order",
    "limit", "union", "intersect", "except", "window", "qualify", "join",
    "inner", "left", "right", "full", "cross", "on", ",", ")")

  /** Change-log convention shared by both TIMECAPSULE forms: first
    * column = key; `ts` (+ tie-breaking `csn`) or `csn` order versions;
    * `op` ∈ {U, D} marks update/tombstone (Flashback's contract). */
  private def tcVisible(log: DataFrame, table: String, kind: String,
      exprText: String): (Seq[String], Column) = {
    val cols = log.columns.map(_.toLowerCase).toSet
    require(cols.contains("op"),
      s"graft: TIMECAPSULE needs an 'op' column on change-log $table")
    if (kind == "timestamp") {
      require(cols.contains("ts"),
        s"graft: TIMECAPSULE TIMESTAMP needs a 'ts' column on $table")
      val ver = Seq("ts") ++ (if (cols.contains("csn")) Seq("csn") else Nil)
      (ver, col("ts") <= expr(exprText))
    } else {
      require(cols.contains("csn"),
        s"graft: TIMECAPSULE CSN needs a 'csn' column on $table")
      (Seq("csn"), col("csn") <= expr(exprText))
    }
  }

  /** `FROM t TIMECAPSULE {TIMESTAMP|CSN} expr` (query form): each
    * occurrence becomes an [[Flashback.asOf]] snapshot view — ONE
    * map-side-combined max_by per key, never the full history. */
  private def timecapsuleQuery(spark: SparkSession, st: Stmt): LogicalPlan = {
    val repls = ArrayBuffer.empty[(Int, Int, String)]
    val helpers = ArrayBuffer.empty[String]
    var p = 0
    while (p < st.n - 1) {
      val kind = st.lower(p + 1)
      if (st.lower(p) == "timecapsule" && (kind == "timestamp" || kind == "csn")) {
        require(p > 0 && st.tok(p - 1).kind == ID,
          "graft: TIMECAPSULE must follow a relation name")
        val table = st.ident(p - 1)
        var e = p + 2
        val d0 = st.depth(p)
        while (e < st.n && st.depth(e) >= d0 &&
          !(st.depth(e) == d0 && tcExprEnders(st.lower(e)))) e += 1
        val exprText = st.text(p + 2, e)
        val log = spark.table(table)
        val (ver, visible) = tcVisible(log, table, kind, exprText)
        val uniq = freshView("tc")
        Flashback.asOf(log, log.columns.head, ver, "op", visible)
          .createOrReplaceTempView(uniq)
        helpers += uniq
        repls += ((p - 1, e, uniq))
        p = e
      } else p += 1
    }
    analyzedThenDrop(spark, st.splice(repls.toSeq), helpers.toSeq: _*)
  }

  /** `TIMECAPSULE TABLE t TO {TIMESTAMP|CSN} expr` (statement form):
    * rewinds the change-log view to versions visible at the target
    * point — later TIMECAPSULE queries and snapshots see only rewound
    * history, matching the reference's in-place table flashback. */
  private def timecapsuleTable(spark: SparkSession, st: Stmt): LogicalPlan = {
    val table = st.ident(2)
    require(st.lower(3) == "to",
      "graft: TIMECAPSULE TABLE expects TO {TIMESTAMP|CSN} expr")
    val kind = st.lower(4)
    require(kind == "timestamp" || kind == "csn",
      s"graft: TIMECAPSULE TABLE ... TO expects TIMESTAMP or CSN, got '$kind'")
    val exprText = st.text(5, st.n)
    val log = spark.table(table)
    val (_, visible) = tcVisible(log, table, kind, exprText)
    log.filter(visible).createOrReplaceTempView(table)
    IndexCatalog.invalidateTable(spark, table) // rewound rows: stale index
    oneRow(spark, "command" -> "TIMECAPSULE", "table_name" -> table)
  }

  // ------------------------------------------------------------------
  // CREATE MODEL / DROP MODEL / PREDICT BY (gram.y:11597, :27180)
  // ------------------------------------------------------------------

  /**
   * `CREATE MODEL m USING algo FEATURES f1, f2 TARGET y FROM rel
   * [WITH (hyper = value, ...)]`. Algorithms are the exact
   * cross-engine db4ai kernels: linear_regression (one Gram-sum
   * aggregate + the Cramer solve — Ml.cramer3Exprs' shared IEEE
   * tree) and logistic_regression (the quantized-gradient GD chain,
   * hyperparameters max_iterations/learning_rate validated like F17).
   * Both take exactly 2 features at the SQL surface (the closed-form
   * kernels); the Scala API (Ml.linregr) handles general arity.
   */
  private def createModel(spark: SparkSession, st: Stmt): LogicalPlan = {
    val name = st.ident(2)
    require(st.lower(3) == "using",
      "graft: CREATE MODEL expects USING <algorithm>")
    val algo = st.lower(4)
    require(st.lower(5) == "features",
      "graft: CREATE MODEL expects FEATURES <expr>, <expr>")
    // TARGET is optional (unsupervised algorithms — kmeans — take
    // FEATURES only, gram.y's optional target_list)
    val stopIdx = st.nextTop(6, Set("target", "from"))
    require(stopIdx < st.n, "graft: CREATE MODEL expects FROM <relation>")
    val features = st.splitCommas(6, stopIdx).map { case (a, b) => st.text(a, b) }
    val hasTarget = st.lower(stopIdx) == "target"
    val fromIdx =
      if (hasTarget) st.nextTop(stopIdx + 1, Set("from")) else stopIdx
    require(fromIdx < st.n, "graft: CREATE MODEL expects FROM <relation>")
    val target = if (hasTarget) st.text(stopIdx + 1, fromIdx) else ""
    def requireTarget(): Unit = require(hasTarget,
      s"graft: $algo is supervised — CREATE MODEL needs TARGET <expr>")
    val withIdx = st.nextTop(fromIdx + 1, Set("with"))
    val relText = st.text(fromIdx + 1, withIdx)
    val hyper: Map[String, String] =
      if (withIdx < st.n) {
        require(st.lower(withIdx + 1) == "(",
          "graft: CREATE MODEL WITH expects (name = value, ...)")
        val e = st.matching(withIdx + 1)
        st.splitCommas(withIdx + 2, e - 1).map { case (a, b) =>
          var eq = a
          while (eq < b && st.lower(eq) != "=") eq += 1
          require(eq < b, "graft: hyperparameter expects name = value")
          (st.ident(a).toLowerCase(java.util.Locale.ROOT), st.text(eq + 1, b))
        }.toMap
      } else Map.empty
    val rel =
      if (relText.startsWith("(")) spark.sql(relText.stripPrefix("(").stripSuffix(")"))
      else spark.table(relText)
    require(features.length == 2,
      s"graft: $algo at the SQL surface takes exactly 2 FEATURES (got " +
        s"${features.length}); use the Scala API (graft.operators.Ml) for more")

    algo match {
      case "linear_regression" =>
        requireTarget()
        require(hyper.isEmpty,
          s"graft: linear_regression (closed form) takes no hyperparameters, " +
            s"got ${hyper.keys.mkString(", ")}")
        val row = Ml.linregrSums(rel, expr(features(0)), expr(features(1)),
            expr(target))
          .selectExpr(Ml.cramer3Exprs.take(3).map { case (nm, x) => s"$x AS $nm" }: _*)
          .collect()(0)
        val w = Array(row.getDouble(0), row.getDouble(1), row.getDouble(2))
        ModelCatalog.put(name,
          ModelCatalog.LinearModel(algo, w, classify = false, features))
      case "logistic_regression" =>
        requireTarget()
        val known = Set("max_iterations", "learning_rate")
        val bad = hyper.keySet.diff(known)
        require(bad.isEmpty, s"graft: unknown hyperparameter(s) ${bad.mkString(", ")} " +
          s"for logistic_regression (valid: ${known.mkString(", ")})")
        val iters = hyper.get("max_iterations").map(_.toInt).getOrElse(3)
        val lr = hyper.get("learning_rate").map(_.toDouble).getOrElse(0.5)
        require(iters >= 1 && iters <= 100,
          s"graft: max_iterations must be in [1, 100], got $iters")
        require(lr > 0 && lr <= 10,
          s"graft: learning_rate must be in (0, 10], got $lr")
        val pts = freshView("pts")
        rel.selectExpr(s"CAST((${features(0)}) AS DOUBLE) AS x1",
            s"CAST((${features(1)}) AS DOUBLE) AS x2", s"($target) AS y")
          .createOrReplaceTempView(pts)
        try {
          val row = spark.sql(Ml.logregrSql(iters, lr)
            .replace("FROM pts", s"FROM $pts")).collect()(0)
          val w = Array(row.getDouble(0), row.getDouble(1), row.getDouble(2))
          ModelCatalog.put(name,
            ModelCatalog.LinearModel(algo, w, classify = true, features))
        } finally { spark.catalog.dropTempView(pts); () }
      case "kmeans" =>
        require(!hasTarget,
          "graft: kmeans is unsupervised — CREATE MODEL takes no TARGET")
        val known = Set("k", "max_iterations")
        val bad = hyper.keySet.diff(known)
        require(bad.isEmpty, s"graft: unknown hyperparameter(s) " +
          s"${bad.mkString(", ")} for kmeans (valid: ${known.mkString(", ")})")
        val kk = hyper.get("k").map(_.toInt).getOrElse(4)
        val iters = hyper.get("max_iterations").map(_.toInt).getOrElse(3)
        require(kk >= 1 && kk <= 1024, s"graft: k must be in [1, 1024], got $kk")
        require(iters >= 1 && iters <= 100,
          s"graft: max_iterations must be in [1, 100], got $iters")
        // exact-integer features (the F2 determinism contract)
        val pts = rel.selectExpr(s"CAST((${features(0)}) AS BIGINT) AS x",
          s"CAST((${features(1)}) AS BIGINT) AS y")
        val (assigned, cents) = Ml.kmeans(pts, kk, iters)
        val counts = assigned.groupBy("cl").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap // k rows
        ModelCatalog.put(name, ModelCatalog.KmeansModel(cents, counts, features))
      case other =>
        throw new IllegalArgumentException(
          s"graft: CREATE MODEL supports linear_regression / " +
            s"logistic_regression / kmeans at the SQL surface (got " +
            s"'$other'); SVM/GBDT/PCA ride the Scala API (graft.operators.Ml)")
    }
    oneRow(spark, "command" -> "CREATE MODEL", "model_name" -> name,
      "algorithm" -> algo)
  }

  private def dropModel(spark: SparkSession, st: Stmt): LogicalPlan = {
    var k = 2
    val ifExists = st.lower(k) == "if" && st.lower(k + 1) == "exists"
    if (ifExists) k += 2
    val name = st.ident(k)
    val dropped = ModelCatalog.drop(name)
    require(dropped || ifExists, s"graft: model '$name' does not exist")
    oneRow(spark, "command" -> "DROP MODEL", "model_name" -> name)
  }

  /** `EXPLAIN MODEL m` (db4ai explain_model.h): the trained model's
    * parameters rendered as a relation — one typed row per component,
    * queryable and joinable like the reference's. */
  private def explainModel(spark: SparkSession, st: Stmt): LogicalPlan = {
    val name = st.ident(2)
    ModelCatalog.get(name) match {
      case ModelCatalog.LinearModel(_, w, _, features) =>
        Bridge.logicalPlan(
          graft.operators.ModelStore.explainLinear(spark, name, features, w))
      case ModelCatalog.KmeansModel(cents, counts, _) =>
        Bridge.logicalPlan(
          graft.operators.ModelStore.explainKmeans(spark, name, cents, counts))
    }
  }

  // ------------------------------------------------------------------
  // CREATE INDEX USING ivfflat|hnsw + the KNN access path
  // (datavec sql/datavec--0.7.2.sql ivfflat/hnsw access methods;
  // ivfbuild.cpp/ivfscan.cpp, hnswbuild.cpp/hnswscan.cpp)
  // ------------------------------------------------------------------

  /** Vector-index catalog: the statement-built ANN access paths, keyed
    * by index name AND by (table, column, operator) for the KNN
    * planner hook — an operator class serves EXACTLY its operator
    * (datavec sql 0.7.2:362-401 opclass declarations). */
  private[graft] object IndexCatalog {
    sealed trait Idx {
      def table: String; def column: String; def view: String
      /** the rewritten operator-function this opclass serves
        * (pg_dist_arrow for `<->`, pg_cosine_or_eq for `<=>`,
        * negative_inner_product for `<#>`, l1_distance for `<+>`,
        * hamming_distance for `<~>`). */
      def op: String
      /** parquet directory backing `view` (partitionBy list/part). */
      def path: String
    }
    /** IVF: `view` reads the partitionBy(list_id) parquet postings so
      * the probe filter prunes AT THE READER. `space` is the geometry
      * the quantizer was trained in — "raw" (l2/halfvec), "normalized"
      * (cosine ≡ L2 on unit vectors), "augmented" (MIPS→L2 reduction,
      * `aug` = max corpus norm), "sparse_proxy" (feature-hashed dense
      * fold of sparsevec structs — candidates only; the statement's
      * own operator reranks exact). Rows always carry the ORIGINAL
      * columns (halfvec stored packed, unpacked by the view). */
    final case class IvfIdx(table: String, column: String, view: String,
        model: Ivf.Model, op: String, space: String, aug: Double = 0.0,
        path: String = "", packed: Boolean = false) extends Idx
    /** Hamming IVF over packed bit codes (bit_hamming_ops → B16);
      * `op` also serves bit_jaccard_ops (`<%>`) — the quantizer is
      * Hamming either way, the statement's operator reranks exact. */
    final case class BitIvfIdx(table: String, column: String, view: String,
        model: IvfBit.Model, path: String = "",
        op: String = "hamming_distance") extends Idx
    /** NSW: `view` reads the partitionBy(part_id) parquet graph shards
      * (searchRouted's part_id filter prunes at the reader); `idCol`
      * is the relation's row-id column (its FIRST column). Graph
      * vectors live in `space` like IvfIdx; l1 beams natively via
      * params.metric. */
    final case class HnswIdx(table: String, column: String, view: String,
        idCol: String, model: Ivf.Model, params: Hnsw.Params,
        op: String = "pg_dist_arrow", space: String = "raw",
        aug: Double = 0.0, path: String = "") extends Idx

    private val byName =
      scala.collection.concurrent.TrieMap.empty[String, Idx]
    /** CREATE INDEX statement text by index name — survives DML
      * invalidation so `REINDEX` can re-run it (the batch analogue of
      * PG's in-place rebuild); cleared only by DROP INDEX. Also keyed
      * per table for `REINDEX TABLE`. */
    private val ddlByName =
      scala.collection.concurrent.TrieMap.empty[String, (String, String)]
    private def norm(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    def rememberDdl(name: String, table: String, ddl: String): Unit = {
      ddlByName(norm(name)) = (norm(table), ddl); ()
    }
    def ddlFor(name: String): Option[String] =
      ddlByName.get(norm(name)).map(_._2)
    def ddlsForTable(table: String): Seq[String] =
      ddlByName.values.toSeq.collect {
        case (t, ddl) if t == norm(table) => ddl
      }
    def forgetDdl(name: String): Unit = { ddlByName.remove(norm(name)); () }
    def put(spark: SparkSession, name: String, idx: Idx): Unit = {
      // replacing a same-name index drops the old backing view + files
      byName.put(norm(name), idx).foreach { old =>
        if (old.view != idx.view) {
          try { spark.catalog.dropTempView(old.view); () }
          catch { case NonFatal(_) => () }
        }
        if (old.path.nonEmpty && old.path != idx.path)
          deletePath(spark, old.path)
      }
      ()
    }
    def drop(name: String): Option[Idx] = byName.remove(norm(name))
    def get(name: String): Option[Idx] = byName.get(norm(name))
    def forTable(table: String, column: String, op: String): Option[Idx] =
      // deterministic when several indexes cover the same column:
      // lowest index name wins (PG's planner would cost them; a batch
      // engine needs a stable pick)
      byName.toSeq.sortBy(_._1).map(_._2).find(i =>
        norm(i.table) == norm(table) && norm(i.column) == norm(column) &&
          i.op == op)
    def anyForTable(table: String): Boolean =
      byName.values.exists(i => norm(i.table) == norm(table))
    /** DML through the router (MERGE / COPY FROM / TIMECAPSULE TABLE /
      * UPDATE / DELETE) re-registers the table's view; an index built
      * from the pre-DML rows is stale and would silently serve
      * pre-mutation rows (ADVICE r17). Drop such entries (and their
      * postings views) so the KNN access path falls back to the exact
      * scan — the reference maintains indexes under DML in place; the
      * batch analogue invalidates and the user re-CREATEs. */
    def invalidateTable(spark: SparkSession, table: String): Unit = {
      val t = norm(table)
      byName.toSeq.filter { case (_, i) => norm(i.table) == t }.foreach {
        case (nm, i) =>
          byName.remove(nm)
          try { spark.catalog.dropTempView(i.view); () }
          catch { case NonFatal(_) => () }
          // the persisted postings are dead too — REINDEX re-runs the
          // remembered DDL into a FRESH path, so leaving this one only
          // orphaned a parquet directory per invalidation (ADVICE r18)
          deletePath(spark, i.path)
      }
    }

    /** APPEND maintenance (reference ivfinsert.cpp: inserted tuples
      * assign to the nearest EXISTING list — the index grows without
      * retraining). IVF-family indexes on `table` absorb the appended
      * rows into their partitioned parquet (mode=append: new files
      * join their list's directory, so reader-level pruning keeps
      * working over old + new rows alike — Ivf.appendToIndex's
      * contract, now wired under COPY FROM / INSERT); the view
      * re-registers over a fresh read (a temp view snapshots its file
      * listing). NSW graph indexes invalidate instead: the batch
      * analogue of hnswinsert.cpp would append whole shards — the
      * user re-CREATEs, which compacts (Hnsw.compactShards'
      * rationale). `incoming` must carry the table's columns (both
      * callers pass the aligned append set). */
    def maintainAppend(spark: SparkSession, table: String,
        incoming: DataFrame): Unit = {
      val t = norm(table)
      byName.toSeq.foreach {
        case (_, i: IvfIdx) if norm(i.table) == t && i.path.nonEmpty =>
          val sc = "__graft_space"
          val tagged = incoming.withColumn(sc,
            spaceColumn(i.space, col(i.column), i.aug))
          val assigned = Ivf.assign(tagged, sc, i.model).drop(sc)
          val stored = if (i.packed)
            assigned.withColumn(i.column,
              graft.functions.VectorFunctions.packHalf(col(i.column)))
          else assigned
          stored.write.mode("append").partitionBy("list_id").parquet(i.path)
          val rd0 = spark.read.parquet(i.path)
          val rd = if (i.packed)
            rd0.withColumn(i.column,
              graft.functions.VectorFunctions.unpackHalf(col(i.column)))
          else rd0
          rd.createOrReplaceTempView(i.view)
        case (_, b: BitIvfIdx) if norm(b.table) == t && b.path.nonEmpty =>
          IvfBit.assign(incoming, b.column, b.model)
            .write.mode("append").partitionBy("list_id").parquet(b.path)
          spark.read.parquet(b.path).createOrReplaceTempView(b.view)
        case (nm, h: HnswIdx) if norm(h.table) == t =>
          byName.remove(nm)
          try { spark.catalog.dropTempView(h.view); () }
          catch { case NonFatal(_) => () }
          deletePath(spark, h.path) // re-CREATE writes a fresh path
        case _ =>
      }
    }

    /** VACUUM maintenance: append DML (INSERT / COPY FROM via
      * [[maintainAppend]], mode=append) accumulates small parquet
      * files per list directory indefinitely; REINDEX overpays for the
      * recovery (a full quantizer retrain is not needed — the
      * centroids are fine, only the FILE LAYOUT degraded). Rewrite
      * each index's parquet coalesced to one file per partition
      * directory (repartition on the partition column puts each
      * list/shard in exactly one task) into a FRESH path; the old path
      * is deleted by [[put]]. Returns the number of indexes rewritten. */
    def vacuumTable(spark: SparkSession, table: String): Int = {
      val t = norm(table)
      var n = 0
      def rewrite(nm: String, path: String, partCol: String): String = {
        val fresh = indexPath(spark, nm)
        // overwrite: the per-JVM path counter restarts across runs, so
        // a fresh path can collide with a stale directory left by an
        // earlier process under the same warehouse dir
        spark.read.parquet(path)
          .repartition(col(partCol))
          .write.mode("overwrite").partitionBy(partCol).parquet(fresh)
        fresh
      }
      byName.toSeq.foreach {
        case (nm, i: IvfIdx) if norm(i.table) == t && i.path.nonEmpty =>
          val fresh = rewrite(nm, i.path, "list_id")
          val rd0 = spark.read.parquet(fresh)
          val rd = if (i.packed)
            rd0.withColumn(i.column,
              graft.functions.VectorFunctions.unpackHalf(col(i.column)))
          else rd0
          rd.createOrReplaceTempView(i.view)
          put(spark, nm, i.copy(path = fresh))
          n += 1
        case (nm, b: BitIvfIdx) if norm(b.table) == t && b.path.nonEmpty =>
          val fresh = rewrite(nm, b.path, "list_id")
          spark.read.parquet(fresh).createOrReplaceTempView(b.view)
          put(spark, nm, b.copy(path = fresh))
          n += 1
        case (nm, h: HnswIdx) if norm(h.table) == t && h.path.nonEmpty =>
          val fresh = rewrite(nm, h.path, "part_id")
          spark.read.parquet(fresh).createOrReplaceTempView(h.view)
          put(spark, nm, h.copy(path = fresh))
          n += 1
        case _ =>
      }
      n
    }
  }

  /** opclass → (served operator-function, quantizer space) — the FULL
    * datavec DDL surface (sql 0.7.2: vector :362-401, halfvec
    * :669-718, bit :740-758, sparsevec :939-963). Sparse spaces
    * compose the feature-hash proxy fold with the same geometry
    * transforms (the hashing trick approximately preserves inner
    * products, and the statement's exact merge-scan reranks — full
    * probe is always exact). */
  private val ivfOpclasses: Map[String, (String, String)] = Map(
    "vector_l2_ops" -> (("pg_dist_arrow", "raw")),
    "vector_cosine_ops" -> (("pg_cosine_or_eq", "normalized")),
    "vector_ip_ops" -> (("negative_inner_product", "augmented")),
    "halfvec_l2_ops" -> (("pg_dist_arrow", "raw")),
    "halfvec_ip_ops" -> (("negative_inner_product", "augmented")),
    "halfvec_cosine_ops" -> (("pg_cosine_or_eq", "normalized")),
    // an extension: the reference serves sparsevec only under hnsw;
    // both methods land on the same proxy quantizer here
    "sparsevec_l2_ops" -> (("pg_dist_arrow", "sparse_proxy")),
    "sparsevec_ip_ops" -> (("negative_inner_product", "sparse_proxy_aug")),
    "sparsevec_cosine_ops" -> (("pg_cosine_or_eq", "sparse_proxy_norm")),
    "sparsevec_l1_ops" -> (("l1_distance", "sparse_proxy")))
  private val hnswOpclasses: Map[String, (String, String)] = Map(
    "vector_l2_ops" -> (("pg_dist_arrow", "raw")),
    "vector_cosine_ops" -> (("pg_cosine_or_eq", "normalized")),
    "vector_ip_ops" -> (("negative_inner_product", "augmented")),
    "vector_l1_ops" -> (("l1_distance", "raw")),
    "halfvec_l2_ops" -> (("pg_dist_arrow", "raw")),
    "halfvec_ip_ops" -> (("negative_inner_product", "augmented")),
    "halfvec_cosine_ops" -> (("pg_cosine_or_eq", "normalized")),
    "halfvec_l1_ops" -> (("l1_distance", "raw")))
  /** hnsw spellings that land on the IVF-family quantizers: the batch
    * NSW beams consume dense float rows, so the bit and sparse graph
    * tiers serve the SAME access-path contract (pruned candidates +
    * the statement's exact rerank) through their quantizers instead —
    * m/ef_construction are accepted and ignored for these. */
  private val hnswViaIvf: Set[String] = Set("bit_hamming_ops",
    "bit_jaccard_ops", "sparsevec_l2_ops", "sparsevec_ip_ops",
    "sparsevec_cosine_ops", "sparsevec_l1_ops")

  /** Root for persisted index parquet. At 100 TB point graft.index.dir
    * at a shared filesystem; the default rides the warehouse dir. */
  private def indexPath(spark: SparkSession, name: String): String = {
    val root = spark.conf.getOption("graft.index.dir").getOrElse(
      spark.conf.get("spark.sql.warehouse.dir") + "/_graft_vindex")
    s"$root/${name.toLowerCase(java.util.Locale.ROOT)}_${viewSeq.incrementAndGet()}"
  }

  private def deletePath(spark: SparkSession, path: String): Unit =
    if (path.nonEmpty) {
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true); ()
      } catch { case NonFatal(_) => () }
    }

  private val ProxyDim = 64

  /** Feature-hashed dense proxy of a sparsevec struct (the hashing
    * trick): proxy[i mod 64] += v, ONE pass per row via the dedicated
    * [[graft.functions.SparseProxyFold]] expression. The proxy only
    * GENERATES candidate lists — the statement's own sparse operator
    * reranks exact, so a full probe budget stays exact regardless of
    * fold collisions. */
  private def sparseProxyCol(c: Column): Column =
    Bridge.column(graft.functions.SparseProxyFold(
      Bridge.expression(c.getField("indices").cast("array<int>")),
      Bridge.expression(c.getField("values").cast("array<float>")), ProxyDim))

  /** Driver-side proxy fold for the constant query side. */
  private def proxyFold(indices: Seq[Int], values: Seq[Float]): Array[Float] = {
    val acc = new Array[Double](ProxyDim)
    var k = 0
    while (k < indices.length) {
      acc(((indices(k) % ProxyDim) + ProxyDim) % ProxyDim) += values(k).toDouble
      k += 1
    }
    acc.map(_.toFloat)
  }

  /** MIPS→L2 (the classic order-preserving reduction): x' =
    * [x, sqrt(M² − ‖x‖²)], q' = [q, 0] ⇒ ‖x'−q'‖² = ‖q‖² + M²
    * − 2⟨x,q⟩, monotone in the inner product. */
  private def augmentCol(c: Column, aug: Double): Column = {
    val nrm = graft.functions.VectorFunctions.l2Norm(c).cast("double")
    org.apache.spark.sql.functions.concat(c.cast("array<float>"),
      org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.sqrt(
          org.apache.spark.sql.functions.greatest(
            lit(aug * aug) - nrm * nrm, lit(0.0d))).cast("float")))
  }

  /** Corpus-side space transform (the quantizer's geometry). Sparse
    * spaces compose the proxy fold with the dense geometries. */
  private def spaceColumn(space: String, c: Column, aug: Double): Column =
    space match {
      case "raw" => c.cast("array<float>")
      case "normalized" =>
        // cosine order ≡ L2 order on unit vectors (vector_op.cpp's
        // cosine_distance geometry)
        graft.functions.VectorFunctions.l2Normalize(c)
      case "augmented" => augmentCol(c, aug)
      case "sparse_proxy" => sparseProxyCol(c)
      case "sparse_proxy_norm" =>
        graft.functions.VectorFunctions.l2Normalize(sparseProxyCol(c))
      case "sparse_proxy_aug" => augmentCol(sparseProxyCol(c), aug)
      case other => throw new IllegalStateException(s"graft: space $other")
    }

  /** Query-side space transform (driver, dense input — sparse queries
    * fold through [[proxyFold]] first, then the dense suffix). */
  private def spaceQuery(space: String, q: Array[Float]): Array[Float] =
    space match {
      case "raw" | "sparse_proxy" => q
      case "normalized" | "sparse_proxy_norm" =>
        val n = math.sqrt(q.map(v => v.toDouble * v).sum)
        if (n > 0) q.map(v => (v / n).toFloat) else q
      case "augmented" | "sparse_proxy_aug" => q :+ 0f
      case other => throw new IllegalStateException(s"graft: space $other")
    }

  /**
   * `CREATE INDEX [name] ON table USING {ivfflat|hnsw} (col opclass)
   * [WITH (lists = n | m = .., ef_construction = ..)]` — the datavec
   * DDL over the FULL opclass surface. ivfflat trains the coarse
   * quantizer (deterministic seeded k-means) in the opclass's space
   * and persists the assigned corpus as partitionBy(list_id) parquet
   * — the access path's probe filter prunes AT THE READER (B15's
   * layout); halfvec postings store the vector PACKED fp16 (2
   * bytes/elem, unpacked by the view — lossless on the halfvec
   * grid), bit postings are IvfBit's Hamming tier, sparsevec rides a
   * feature-hashed dense proxy. hnsw builds cluster-sharded NSW
   * graphs persisted partitionBy(part_id); cosine/ip ride the L2 beam
   * through space transforms, l1 beams natively. `lists` defaults to
   * ceil(sqrt(n)) — counted LAZILY, only when the option is absent.
   * Statements with other USING methods (btree etc.) delegate.
   */
  private def createIndex(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    // find USING at top level; only the ANN methods are ours
    val usingIdx = st.nextTop(2, Set("using"))
    if (usingIdx >= st.n) return None
    val method = st.lower(usingIdx + 1)
    if (method != "ivfflat" && method != "hnsw") return None
    var k = 2
    val name = if (st.lower(k) == "on") freshView("vidx")
      else { val x = st.ident(k); k += 1; x }
    require(st.lower(k) == "on", "graft: CREATE INDEX expects ON <table>")
    val table = st.ident(k + 1)
    k = usingIdx + 2
    require(st.lower(k) == "(", "graft: CREATE INDEX expects (col opclass)")
    val e = st.matching(k)
    val col0 = st.ident(k + 1)
    val opclass = if (e - 1 > k + 2) st.lower(e - 2) else "vector_l2_ops"
    k = e
    val hyper: Map[String, String] =
      if (k < st.n && st.lower(k) == "with") {
        require(st.lower(k + 1) == "(", "graft: WITH expects (name = value)")
        val we = st.matching(k + 1)
        st.splitCommas(k + 2, we - 1).map { case (a, b) =>
          var eq = a
          while (eq < b && st.lower(eq) != "=") eq += 1
          require(eq < b, "graft: index option expects name = value")
          (st.ident(a).toLowerCase(java.util.Locale.ROOT), st.text(eq + 1, b))
        }.toMap
      } else Map.empty
    val corpus = spark.table(table)
    val column = corpus.columns.find(_.equalsIgnoreCase(col0)).getOrElse(
      throw new IllegalArgumentException(
        s"graft: index column '$col0' not found in $table"))
    // lists defaults to ceil(sqrt(n)) — the count job runs ONLY when
    // WITH (lists=…) is absent (a full corpus pass for nothing at
    // 100 TB otherwise)
    lazy val defaultLists = math.max(1,
      math.ceil(math.sqrt(corpus.count().toDouble)).toInt)
    def lists(): Int = {
      val l = hyper.get("lists").map(_.toInt).getOrElse(defaultLists)
      require(l >= 1, "graft: lists must be >= 1")
      l
    }
    val view = freshView("vidx_data")
    val path = indexPath(spark, name)
    // the halfvec STORAGE tier packs postings fp16 (B15) — the graph
    // tier keeps floats (halfvec values are already on the fp16 grid)
    val isHalf = method == "ivfflat" && opclass.startsWith("halfvec_")

    def augFor(space: String): Double = space match {
      case "augmented" => maxNorm(corpus, col(column))
      case "sparse_proxy_aug" => maxNorm(corpus, sparseProxyCol(col(column)))
      case _ => 0.0
    }
    /** Space-tagged corpus. The non-raw spaces compute per-row work
      * (normalize / augment / proxy fold); when k-means was the MLlib
      * distributed trainer its ~25 scans made a checkpoint worthwhile —
      * Ivf.buildSampled scans ONCE for its bounded sample at ANY list
      * count (above its 128-list cutoff the distributed trainer runs
      * on the sample, never the corpus) and once more for the
      * assignment write, so recomputing the cheap map transform beats
      * paying a full checkpoint write + read of the corpus (r19
      * measurement: CREATE INDEX statement jobs 38 → single digits). */
    def tagSpace(space: String, aug: Double): (DataFrame, String) = {
      val sc = "__graft_space"
      (corpus.withColumn(sc, spaceColumn(space, col(column), aug)), sc)
    }
    def buildIvfFamily(op: String, space: String): Unit = {
      val aug = augFor(space)
      val (tagged, sc) = tagSpace(space, aug)
      val model = Ivf.buildSampled(tagged, sc, lists())
      val assigned = Ivf.assign(tagged, sc, model).drop(sc)
      val stored = if (isHalf)
        assigned.withColumn(column,
          graft.functions.VectorFunctions.packHalf(col(column)))
      else assigned
      // cluster the write by list (guide §6: writers that fan out to
      // partitionBy dirs from every scan task emit scan_tasks × lists
      // small files; one hash exchange on list_id writes each list's
      // rows contiguously — fewer files to commit now, fewer to open
      // on every probe read after). Scale-adaptive: a scan narrower
      // than the list count cannot fragment, so it skips the exchange.
      val nParts = stored.rdd.getNumPartitions
      val toWrite =
        if (nParts > model.nlists) stored.repartition(col("list_id"))
        else stored
      toWrite.write.mode("overwrite").partitionBy("list_id").parquet(path)
      val rd0 = spark.read.parquet(path)
      val rd = if (isHalf)
        rd0.withColumn(column,
          graft.functions.VectorFunctions.unpackHalf(col(column)))
      else rd0
      rd.createOrReplaceTempView(view)
      IndexCatalog.put(spark, name, IndexCatalog.IvfIdx(
        table, column, view, model, op, space, aug, path, packed = isHalf))
    }
    def buildBitIvf(op: String): Unit = {
      val model = IvfBit.build(corpus, column, lists())
      val assigned = IvfBit.assign(corpus, column, model)
      val toWrite = // same fragmentation guard as the fp32 family
        if (assigned.rdd.getNumPartitions > model.nlists)
          assigned.repartition(col("list_id"))
        else assigned
      toWrite.write.mode("overwrite").partitionBy("list_id").parquet(path)
      spark.read.parquet(path).createOrReplaceTempView(view)
      IndexCatalog.put(spark, name,
        IndexCatalog.BitIvfIdx(table, column, view, model, path, op))
    }

    method match {
      case "ivfflat" =>
        val bad = hyper.keySet.diff(Set("lists"))
        require(bad.isEmpty, s"graft: ivfflat options: lists (got " +
          s"${bad.mkString(", ")})")
        if (opclass == "bit_hamming_ops") buildBitIvf("hamming_distance")
        else {
          val (op, space) = ivfOpclasses.getOrElse(opclass,
            throw new IllegalArgumentException(
              s"graft: ivfflat opclass '$opclass' is not a datavec opclass " +
                s"(valid: ${(ivfOpclasses.keySet + "bit_hamming_ops").toSeq.sorted.mkString(", ")})"))
          buildIvfFamily(op, space)
        }
      case "hnsw" if hnswViaIvf(opclass) =>
        // the reference's hnsw spelling for the bit and sparse tiers
        // (sql 0.7.2:747-758, :939-963); the batch NSW beams consume
        // dense float rows, so these serve the same access-path
        // contract through the IVF-family quantizers — m /
        // ef_construction accepted and ignored
        val bad = hyper.keySet.diff(Set("m", "ef_construction", "lists"))
        require(bad.isEmpty, s"graft: hnsw options: m, ef_construction, " +
          s"lists (got ${bad.mkString(", ")})")
        opclass match {
          case "bit_hamming_ops" => buildBitIvf("hamming_distance")
          case "bit_jaccard_ops" => buildBitIvf("jaccard_distance")
          case _ =>
            val (op, space) = ivfOpclasses(opclass)
            buildIvfFamily(op, space)
        }
      case "hnsw" =>
        val (op, space) = hnswOpclasses.getOrElse(opclass,
          throw new IllegalArgumentException(
            s"graft: hnsw opclass '$opclass' is not a datavec opclass " +
              s"(valid: ${(hnswOpclasses.keySet ++ hnswViaIvf).toSeq.sorted.mkString(", ")})"))
        val bad = hyper.keySet.diff(Set("m", "ef_construction", "lists"))
        require(bad.isEmpty, s"graft: hnsw options: m, ef_construction, " +
          s"lists (got ${bad.mkString(", ")})")
        val params = Hnsw.Params(
          m = hyper.get("m").map(_.toInt).getOrElse(8),
          efConstruction =
            hyper.get("ef_construction").map(_.toInt).getOrElse(48),
          metric = if (opclass.endsWith("_l1_ops")) "l1" else "l2")
        val idCol = corpus.columns.head // row-id convention: first column
        val aug = augFor(space)
        val (tagged, sc) = tagSpace(space, aug)
        val model = Ivf.buildSampled(tagged, sc, lists())
        Hnsw.buildIndexClustered(tagged, sc, idCol, model, params).toDF
          .write.mode("overwrite").partitionBy("part_id").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView(view)
        IndexCatalog.put(spark, name, IndexCatalog.HnswIdx(
          table, column, view, idCol, model, params, op, space, aug, path))
    }
    IndexCatalog.rememberDdl(name, table, st.text(0, st.n))
    Some(oneRow(spark, "command" -> "CREATE INDEX", "index_name" -> name,
      "method" -> method))
  }

  /** `REINDEX {INDEX name | TABLE table}` (gram.y ReindexStmt): re-runs
    * the remembered CREATE INDEX DDL — the batch analogue of PG's
    * in-place rebuild, and the recovery path after mutating DML
    * invalidated an index (MERGE/UPDATE/DELETE/TIMECAPSULE drop stale
    * entries; REINDEX rebuilds from the CURRENT rows). TABLE form
    * rebuilds every index ever created on the table this session. */
  private def reindexStmt(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    val kind = st.lower(1)
    val name = st.ident(2)
    val ddls =
      if (kind == "index") IndexCatalog.ddlFor(name).toSeq
      else IndexCatalog.ddlsForTable(name)
    if (ddls.isEmpty) return None // not ours: Spark's own REINDEX error path
    ddls.foreach { ddl =>
      val r = createIndex(spark, new Stmt(lex(ddl)))
      require(r.isDefined, s"graft: REINDEX could not re-run: $ddl")
    }
    Some(oneRow(spark, "command" -> "REINDEX",
      (if (kind == "index") "index_name" else "table_name") -> name))
  }

  private def maxNorm(corpus: DataFrame, c: Column): Double = {
    val r = corpus.agg(org.apache.spark.sql.functions.max(
      graft.functions.VectorFunctions.l2Norm(c).cast("double"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  private def dropIndex(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    var k = 2
    val ifExists = st.lower(k) == "if" && st.lower(k + 1) == "exists"
    if (ifExists) k += 2
    val name = st.ident(k)
    IndexCatalog.drop(name) match {
      case Some(idx) =>
        spark.catalog.dropTempView(idx.view)
        deletePath(spark, idx.path)
        IndexCatalog.forgetDdl(name)
        Some(oneRow(spark, "command" -> "DROP INDEX", "index_name" -> name))
      case None if ifExists =>
        IndexCatalog.forgetDdl(name)
        Some(oneRow(spark, "command" -> "DROP INDEX", "index_name" -> name))
      case None => None // not a vector index: Spark's own DROP INDEX path
    }
  }

  /** The operator-function spellings the access path can serve.
    * `jaccard_distance` (`<%>`) was MISSING until r19 — bit_jaccard_ops
    * indexes built fine but never routed (the same vacuous-pass class
    * as r17's pg_cosine_or_eq gap; the spec now asserts the route
    * actually engaged by reading the index parquet). */
  private val knnFns = Set("pg_dist_arrow", "pg_cosine_or_eq",
    "negative_inner_product", "l1_distance", "hamming_distance",
    "jaccard_distance")

  private val VecLitRe =
    """(?is)\s*parse_vector\s*\(\s*'(\[[^']*\])'\s*\)\s*""".r
  private val HalfLitRe =
    """(?is)\s*halfvec\s*\(\s*parse_vector\s*\(\s*'(\[[^']*\])'\s*\)\s*\)\s*""".r
  private val NumRe = """[+-]?(\d+(\.\d+)?|\.\d+)([eE][+-]?\d+)?"""

  /** Strict driver-side parse of '[f, f, ...]' — laxer inputs fall
    * back to the engine (ParseVector's regex front-end must stay the
    * arbiter of what is legal). */
  private def parseVecLit(s: String): Option[Array[Float]] = {
    val body = s.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) return None
    val parts = body.split(",", -1).map(_.trim)
    if (!parts.forall(_.matches(NumRe))) None
    else try Some(parts.map(java.lang.Float.parseFloat))
    catch { case NonFatal(_) => None }
  }

  /** Fold the CONSTANT query side on the driver. The plain literal
    * idioms `'[..]'::vector` / `'[..]'::halfvec` (post-rewrite:
    * parse_vector / halfvec(parse_vector)) parse WITHOUT a Spark job —
    * statement planning stays job-free for the common spelling;
    * arbitrary constant expressions fold through a one-row job (over
    * literals — no data scan). None = not constant: delegate. */
  private def evalQueryConst(spark: SparkSession, text: String): Option[Any] = {
    text match {
      case VecLitRe(v, _*) =>
        parseVecLit(v) match { case Some(a) => return Some(a); case None => }
      case HalfLitRe(v, _*) =>
        parseVecLit(v) match {
          case Some(a) => return Some(a.map(f =>
            graft.functions.HalfFloat.toFloat(
              graft.functions.HalfFloat.fromFloat(f))))
          case None =>
        }
      case _ =>
    }
    try Some(spark.sql(s"SELECT $text").head().get(0))
    catch { case NonFatal(_) => None }
  }

  private def denseQuery(v: Any): Option[Array[Float]] = v match {
    case s: Seq[_] => Some(s.map {
      case f: Float => f
      case d: Double => d.toFloat
      case n: Number => n.floatValue
      case _ => return None
    }.toArray)
    case a: Array[Float] => Some(a)
    case _ => None
  }

  /**
   * The KNN ACCESS PATH: `SELECT ... FROM t ORDER BY col <op> 'q'
   * [, tiebreaks] LIMIT k` over a relation with a statement-built
   * vector index routes through it — exactly ivfscan.cpp/hnswscan.cpp
   * picking the AM for the idiom, for EVERY opclass operator (`<->`
   * `<=>` `<#>` `<+>` `<~>`; an operator class serves exactly its
   * operator). Mechanism: the FROM relation is SWAPPED for the
   * index-pruned subset — IVF: the `ivfflat.probes` nearest lists
   * read PARTITION-PRUNED from the partitionBy(list_id) parquet
   * (default 1 probe like pgvector); NSW: the routed beams' top-k ids
   * under `hnsw.nprobe` shards (default 4) — then the statement runs
   * NATIVELY over the subset: any select list, post-filter WHERE
   * (pgvector's documented filter semantics), and the exact rerank
   * stay Spark's bounded-heap TakeOrderedAndProject. Anything that
   * doesn't match the idiom — or whose query side isn't a constant —
   * delegates to the exact scan untouched.
   */
  private def knnThroughIndex(spark: SparkSession, st: Stmt): Option[LogicalPlan] = {
    // FROM <table> — single named relation, and only if it has an index
    val fromIdx = st.nextTop(0, Set("from"))
    if (fromIdx >= st.n || st.tok(fromIdx + 1).kind != ID) return None
    val table = st.ident(fromIdx + 1)
    if (!IndexCatalog.anyForTable(table)) return None
    val ob = (0 until st.n - 2).find(p => st.depth(p) == 0 &&
      st.lower(p) == "order" && st.lower(p + 1) == "by" &&
      knnFns(st.lower(p + 2)))
    if (ob.isEmpty) return None
    val fn = st.lower(ob.get + 2)
    val callOpen = ob.get + 3
    if (st.lower(callOpen) != "(") return None
    val callEnd = st.matching(callOpen)
    val args = st.splitCommas(callOpen + 1, callEnd - 1)
    if (args.length != 2) return None
    val colRef = (args(0)._1 until args(0)._2).filter(st.tok(_).kind == ID)
      .lastOption.map(st.ident).getOrElse(return None)
    // operator ↔ opclass strictness lives in the lookup key
    val idx = IndexCatalog.forTable(table, colRef, fn).getOrElse(return None)
    if (st.lower(callEnd) == "desc") return None // farthest-first: no AM
    val limIdx = st.nextTop(callEnd, Set("limit"))
    if (limIdx >= st.n) return None
    val k = try st.lower(limIdx + 1).toInt catch { case NonFatal(_) => return None }
    val qAny = evalQueryConst(spark, st.text(args(1)._1, args(1)._2))
      .getOrElse(return None)
    // knob lookup honors BOTH spellings: the reference GUC
    // (`SET ivfflat.probes = 4` — Spark's native SET lands it in the
    // session conf verbatim) and the graft-namespaced one
    def knob(names: Seq[String], dflt: Int): Int =
      names.iterator.map(n => spark.conf.getOption(n))
        .collectFirst { case Some(v) => v.toInt }.getOrElse(dflt)
    val tableCols = spark.table(table).columns.toSeq
    val uniq = freshView("knn")
    idx match {
      case IndexCatalog.IvfIdx(_, _, view, model, _, space, _, _, _) =>
        // hnsw spellings that land on the quantizer (sparse tiers)
        // honor the hnsw knob too — both knobs mean "shards to probe"
        val nprobe = knob(Seq("ivfflat.probes", "graft.ivfflat.probes",
          "hnsw.nprobe", "graft.hnsw.nprobe"), 1)
        val probeVec: Array[Float] =
          if (space.startsWith("sparse_proxy")) qAny match {
            case r: org.apache.spark.sql.Row =>
              spaceQuery(space, proxyFold(r.getSeq[Int](0), r.getSeq[Float](1)))
            case _ => return None
          } else denseQuery(qAny) match {
            case Some(q) => spaceQuery(space, q)
            case None => return None
          }
        val probeIds = model.probes(probeVec, nprobe).map(Integer.valueOf)
        // list_id is the PARTITION column of the index parquet: the
        // isin prunes whole list directories at the reader
        spark.table(view)
          .filter(col("list_id").isin(probeIds: _*))
          .select(tableCols.map(col): _*)
          .createOrReplaceTempView(uniq)
      case IndexCatalog.BitIvfIdx(_, _, view, model, _, _) =>
        val nprobe = knob(Seq("ivfflat.probes", "graft.ivfflat.probes",
          "hnsw.nprobe", "graft.hnsw.nprobe"), 1)
        val qc = qAny match {
          case b: Array[Byte] => b
          case _ => return None
        }
        val probeIds = model.probes(qc, nprobe).map(Integer.valueOf)
        spark.table(view)
          .filter(col("list_id").isin(probeIds: _*))
          .select(tableCols.map(col): _*)
          .createOrReplaceTempView(uniq)
      case IndexCatalog.HnswIdx(_, _, view, idCol, model, params, _, space, _, _) =>
        val nprobe = knob(Seq("hnsw.nprobe", "graft.hnsw.nprobe"), 4)
        val probeVec = denseQuery(qAny) match {
          case Some(q) => spaceQuery(space, q)
          case None => return None
        }
        import spark.implicits._
        val ids = Hnsw.searchRouted(spark.table(view).as[Hnsw.GraphRow],
            model, probeVec, k, nprobe, params)
          .select(col("vec_id")).collect().map(_.getLong(0)) // ≤ k ids
        spark.table(table)
          .filter(col(idCol).isin(ids.map(java.lang.Long.valueOf): _*))
          .createOrReplaceTempView(uniq)
    }
    Some(analyzedThenDrop(spark,
      st.splice(Seq((fromIdx + 1, fromIdx + 2, uniq))), uniq))
  }

  // ------------------------------------------------------------------
  // CREATE / REFRESH / DROP MATERIALIZED VIEW (openGauss IMV —
  // commands/matview; CREATE INCREMENTAL MATERIALIZED VIEW + the
  // mlog-driven incremental refresh)
  // ------------------------------------------------------------------

  /** In-session matview catalog: definition text + the IVM metadata
    * parsed at CREATE time (keys / count column / sum columns). */
  private[graft] object MatviewCatalog {
    final case class MvDef(defText: String, incremental: Boolean,
        keys: Seq[String], countCol: String, sumCols: Seq[String])
    private val defs =
      scala.collection.concurrent.TrieMap.empty[String, MvDef]
    private def norm(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    def put(name: String, d: MvDef): Unit = { defs(norm(name)) = d; () }
    def get(name: String): MvDef = defs.getOrElse(norm(name),
      throw new IllegalArgumentException(
        s"graft: materialized view '$name' does not exist"))
    def drop(name: String): Boolean = defs.remove(norm(name)).isDefined
  }

  /**
   * `CREATE [INCREMENTAL] MATERIALIZED VIEW name AS query`. The
   * INCREMENTAL form parses the select list for the C54 IVM contract
   * — grouping keys + one `count(*) AS c` + `sum(expr) AS s` columns
   * over a GROUP BY — exactly the aggregate set openGauss's IMV
   * restricts to (count/sum self-maintenance; min/max need the base).
   * The view materializes at CREATE (lineage-truncated — that is what
   * "materialized" means) so reads never re-run the definition.
   */
  private def createMatview(spark: SparkSession, st: Stmt,
      incremental: Boolean): LogicalPlan = {
    var k = if (incremental) 3 else 2 // past CREATE [INCREMENTAL] MATERIALIZED
    require(st.lower(k) == "view",
      "graft: expected CREATE [INCREMENTAL] MATERIALIZED VIEW")
    val name = st.ident(k + 1)
    require(st.lower(k + 2) == "as",
      "graft: CREATE MATERIALIZED VIEW expects AS <query>")
    val defText = st.text(k + 3, st.n)
    val (keys, countCol, sumCols) =
      if (incremental) parseIvmShape(defText) else (Seq.empty[String], "", Seq.empty[String])
    val df = truncated(spark.sql(defText))
    df.createOrReplaceTempView(name)
    MatviewCatalog.put(name,
      MatviewCatalog.MvDef(defText, incremental, keys, countCol, sumCols))
    oneRow(spark, "command" -> "CREATE MATERIALIZED VIEW",
      "view_name" -> name)
  }

  /** Validate + extract the IVM select-list shape from the definition. */
  private def parseIvmShape(defText: String): (Seq[String], String, Seq[String]) = {
    val d = new Stmt(lex(defText))
    require(d.lower(0) == "select",
      "graft: INCREMENTAL MATERIALIZED VIEW definition must be a plain SELECT")
    val fromIdx = d.nextTop(1, Set("from"))
    require(fromIdx < d.n, "graft: matview definition needs FROM")
    require(d.nextTop(fromIdx, Set("group")) < d.n,
      "graft: INCREMENTAL MATERIALIZED VIEW needs GROUP BY (grouped " +
        "count/sum views are the self-maintainable IVM class)")
    val keys = ArrayBuffer.empty[String]
    val sums = ArrayBuffer.empty[String]
    var countCol = ""
    d.splitCommas(1, fromIdx).foreach { case (a, b) =>
      def alias: String = {
        require(b - a >= 2 && d.lower(b - 2) == "as",
          s"graft: matview aggregate needs an AS alias: ${d.text(a, b)}")
        d.ident(b - 1)
      }
      d.lower(a) match {
        case "count" =>
          require(countCol.isEmpty, "graft: matview takes ONE count(*) column")
          countCol = alias
        case "sum" => sums += alias
        case _ =>
          // grouping key: a bare column (optionally aliased)
          val kn = if (b - a >= 2 && d.lower(b - 2) == "as") d.ident(b - 1)
            else { require(b - a == 1, s"graft: matview key must be a " +
              s"bare column (or AS-aliased): ${d.text(a, b)}"); d.ident(a) }
          keys += kn
      }
    }
    require(countCol.nonEmpty,
      "graft: INCREMENTAL MATERIALIZED VIEW needs a count(*) AS <name> " +
        "column (zero-count groups must be droppable)")
    require(keys.nonEmpty, "graft: matview needs at least one grouping key")
    (keys.toSeq, countCol, sums.toSeq)
  }

  /**
   * `REFRESH [INCREMENTAL] MATERIALIZED VIEW name`. The plain form
   * re-runs the definition (full refresh — O(|base|)). The
   * INCREMENTAL form applies the mlog delta through Matview.applyDelta
   * — O(|view| + |delta|), the base is never re-read — and CONSUMES
   * the mlog (drops the view), like the reference clearing mlog_<oid>
   * after refresh. The mlog convention: a temp view `mlog_<name>`
   * carrying the keys + per-row sum values + `op` (+1 insert / −1
   * delete).
   */
  private def refreshMatview(spark: SparkSession, st: Stmt): LogicalPlan = {
    val incremental = st.lower(1) == "incremental"
    val k = if (incremental) 2 else 1
    require(st.lower(k) == "materialized" && st.lower(k + 1) == "view",
      "graft: expected REFRESH [INCREMENTAL] MATERIALIZED VIEW <name>")
    val name = st.ident(k + 2)
    val d = MatviewCatalog.get(name)
    val next =
      if (!incremental) spark.sql(d.defText)
      else {
        require(d.incremental,
          s"graft: '$name' was not created INCREMENTAL — use plain REFRESH")
        val mlog = s"mlog_${name.toLowerCase(java.util.Locale.ROOT)}"
        require(isTempView(spark, mlog),
          s"graft: incremental refresh needs change-log view '$mlog' " +
            "(keys + per-row sum values + op of +1/-1)")
        val out = graft.operators.Matview.applyDelta(spark.table(name),
          spark.table(mlog), d.keys, d.countCol, d.sumCols, "op")
        spark.catalog.dropTempView(mlog) // consumed, like mlog_<oid>
        out
      }
    truncated(next).createOrReplaceTempView(name)
    oneRow(spark, "command" -> "REFRESH MATERIALIZED VIEW",
      "view_name" -> name)
  }

  private def dropMatview(spark: SparkSession, st: Stmt): LogicalPlan = {
    require(st.lower(2) == "view", "graft: expected DROP MATERIALIZED VIEW")
    var k = 3
    val ifExists = st.lower(k) == "if" && st.lower(k + 1) == "exists"
    if (ifExists) k += 2
    val name = st.ident(k)
    val dropped = MatviewCatalog.drop(name)
    require(dropped || ifExists,
      s"graft: materialized view '$name' does not exist")
    if (dropped) { spark.catalog.dropTempView(name); () }
    oneRow(spark, "command" -> "DROP MATERIALIZED VIEW", "view_name" -> name)
  }

  // ------------------------------------------------------------------
  // COPY (gram.y CopyStmt; options per contrib/file_fdw — C86/C95)
  // ------------------------------------------------------------------

  /**
   * `COPY t [(cols)] FROM 'path' [WITH] (options)` /
   * `COPY {t [(cols)] | (query)} TO 'path' [WITH] (options)` with the
   * file_fdw option set (FORMAT csv|text, HEADER, DELIMITER, QUOTE,
   * ESCAPE, NULL, ENCODING — any JVM charset, the C95 conversion
   * path). COPY FROM APPENDS to the target view (openGauss semantics)
   * with the file scan kept LAZY and splittable — a 100 TB COPY FROM
   * is a parallel csv scan, not a driver ingest; the declared target
   * schema types the columns (no inference pass). A column list reads
   * just those columns, remaining target columns become NULL.
   */
  private def copyStmt(spark: SparkSession, st: Stmt): LogicalPlan = {
    var k = 1
    // relation or (query)
    val (tableOpt, queryOpt) =
      if (st.lower(k) == "(") {
        val e = st.matching(k)
        val q = st.text(k + 1, e - 1); k = e
        (None, Some(q))
      } else { val t = st.ident(k); k += 1; (Some(t), None) }
    val colList: Option[Seq[String]] =
      if (st.lower(k) == "(") {
        val e = st.matching(k)
        val cs = st.splitCommas(k + 1, e - 1).map { case (a, _) => st.ident(a) }
        k = e
        Some(cs)
      } else None
    val dir = st.lower(k)
    require(dir == "from" || dir == "to",
      s"graft: COPY expects FROM or TO, got '${st.lower(k)}'")
    k += 1
    require(st.tok(k).kind == STR, "graft: COPY expects a quoted file path")
    val path = st.tok(k).text.stripPrefix("'").stripSuffix("'")
      .replace("''", "'")
    k += 1
    if (st.lower(k) == "with") k += 1
    val opts: Map[String, String] =
      if (k < st.n && st.lower(k) == "(") {
        val e = st.matching(k)
        st.splitCommas(k + 1, e - 1).map { case (a, b) =>
          val key = st.ident(a).toLowerCase(java.util.Locale.ROOT)
          val v =
            if (b - a == 1) "true" // bare flag (HEADER)
            else {
              val t = st.tok(b - 1)
              if (t.kind == STR)
                t.text.stripPrefix("'").stripSuffix("'").replace("''", "'")
              else t.text
            }
          (key, v)
        }.toMap
      } else Map.empty
    val known = Set("format", "header", "delimiter", "quote", "escape",
      "null", "encoding")
    val bad = opts.keySet.diff(known)
    require(bad.isEmpty,
      s"graft: unknown COPY option(s) ${bad.mkString(", ")} (valid: " +
        s"${known.toSeq.sorted.mkString(", ")})")
    val format = opts.getOrElse("format", "csv")
    val header = opts.get("header").exists(v =>
      v.equalsIgnoreCase("true") || v.equalsIgnoreCase("on") || v == "1")
    val delim = opts.get("delimiter")
    val quote = opts.get("quote")
    val escape = opts.get("escape")
    val nullStr = opts.get("null")
    val encoding = opts.getOrElse("encoding", "UTF-8")

    if (dir == "to") {
      val df0 = queryOpt.map(spark.sql).getOrElse(spark.table(tableOpt.get))
      val df = colList.map(cs => df0.select(cs.map(c => col(c)): _*))
        .getOrElse(df0)
      graft.sources.FileFdw.write(df, path, format, header, delim, quote,
        escape, nullStr, encoding)
      oneRow(spark, "command" -> "COPY TO", "path" -> path)
    } else {
      val target = tableOpt.getOrElse(throw new IllegalArgumentException(
        "graft: COPY FROM needs a target relation"))
      require(isTempView(spark, target),
        s"graft: COPY FROM target '$target' must be an existing temp view " +
          "(it declares the column types)")
      val cur = spark.table(target)
      val want = colList.getOrElse(cur.columns.toSeq)
      val fields = want.map(c => cur.schema(cur.columns.find(
        _.equalsIgnoreCase(c)).getOrElse(throw new IllegalArgumentException(
        s"graft: COPY column '$c' not in $target"))))
      val readSchema = org.apache.spark.sql.types.StructType(fields)
      val incoming0 = graft.sources.FileFdw.read(spark, path, readSchema,
        format, header, delim, quote, escape, nullStr, encoding)
      // unlisted target columns arrive as NULL (PG default-less COPY)
      val incoming = incoming0.select(cur.columns.toSeq.map { c =>
        if (want.exists(_.equalsIgnoreCase(c))) col(c)
        else lit(null).cast(cur.schema(c).dataType).as(c)
      }: _*)
      cur.unionByName(incoming).createOrReplaceTempView(target)
      // append DML GROWS IVF-family indexes in place (frozen
      // centroids, reference ivfinsert semantics); NSW invalidates
      IndexCatalog.maintainAppend(spark, target, incoming)
      oneRow(spark, "command" -> "COPY FROM", "table_name" -> target)
    }
  }

  // ------------------------------------------------------------------
  // Sequences (gram.y CreateSeqStmt / AlterSeqStmt; nextval/currval/
  // setval/lastval). A batch engine has no transactional counter
  // fabric, but the SESSION-scoped statement surface is deterministic:
  // sequence calls are driver-side state advanced PER OCCURRENCE and
  // spliced into the statement as literals (the PREDICT BY device).
  // nextval inside a multi-row context (a top-level FROM, or
  // UPDATE/DELETE/MERGE) is REJECTED with the row_number() guidance —
  // a literal would assign every row the same value where PG assigns
  // distinct ones; single-row selects, VALUES rows (one occurrence
  // each, left-to-right like PG), and scalar setval/currval are exact.
  // ------------------------------------------------------------------

  private final case class SeqDef(inc: Long, min: Long, max: Long,
      cycle: Boolean) {
    var last: Option[Long] = None
    var next: Long = _
    /** Set when the advance overflowed Long on a non-CYCLE sequence —
      * `next` alone cannot represent "past the end" when the bound is
      * Long.MaxValue/MinValue itself. */
    var exhausted: Boolean = false
  }
  private val sequencesBySession = new SessionMap[SeqDef]
  private def sequences(spark: SparkSession)
      : scala.collection.concurrent.TrieMap[String, SeqDef] =
    sequencesBySession(spark)
  /** Session-level lastval (PG: most recent nextval of ANY sequence). */
  private val lastvalBySession =
    new java.util.WeakHashMap[SparkSession, java.lang.Long]()

  /** Parse an optionally-signed integer literal at sig index k;
    * returns (value, next index). */
  private def signedLong(st: Stmt, k: Int): (Long, Int) = {
    val (neg, p) = if (st.lower(k) == "-") (true, k + 1) else (false, k)
    require(p < st.n && st.tok(p).kind == P && st.tok(p).text.forall(_.isDigit),
      s"graft: expected an integer, got '${st.lower(p)}'")
    val v = st.tok(p).text.toLong
    (if (neg) -v else v, p + 1)
  }

  private def createSequence(spark: SparkSession, st: Stmt,
      k0: Int): LogicalPlan = {
    var k = k0
    val ifNotExists = st.lower(k) == "if" && st.lower(k + 1) == "not" &&
      st.lower(k + 2) == "exists"
    if (ifNotExists) k += 3
    val name = normName(st.ident(k)); k += 1
    var inc = 1L
    var start: Option[Long] = None
    var minO: Option[Long] = None
    var maxO: Option[Long] = None
    var cycle = false
    while (k < st.n) {
      st.lower(k) match {
        case "start" =>
          k += 1; if (st.lower(k) == "with") k += 1
          val (v, k2) = signedLong(st, k); start = Some(v); k = k2
        case "increment" =>
          k += 1; if (st.lower(k) == "by") k += 1
          val (v, k2) = signedLong(st, k); inc = v; k = k2
          require(inc != 0L, "graft: INCREMENT must not be zero")
        case "minvalue" =>
          val (v, k2) = signedLong(st, k + 1); minO = Some(v); k = k2
        case "maxvalue" =>
          val (v, k2) = signedLong(st, k + 1); maxO = Some(v); k = k2
        case "no" if Set("minvalue", "maxvalue", "cycle")(st.lower(k + 1)) =>
          k += 2 // the defaults
        case "cache" => val (_, k2) = signedLong(st, k + 1); k = k2 // no-op
        case "cycle" => cycle = true; k += 1
        case other => throw new IllegalArgumentException(
          s"graft: unknown CREATE SEQUENCE clause '$other'")
      }
    }
    // PG defaults: ascending 1..Max starting at min; descending Min..-1
    // starting at max
    val asc = inc > 0
    val min = minO.getOrElse(if (asc) 1L else Long.MinValue)
    val max = maxO.getOrElse(if (asc) Long.MaxValue else -1L)
    require(min <= max, s"graft: MINVALUE ($min) must be <= MAXVALUE ($max)")
    val d = SeqDef(inc, min, max, cycle)
    d.next = start.getOrElse(if (asc) min else max)
    require(d.next >= min && d.next <= max,
      s"graft: START value ${d.next} is outside [$min, $max]")
    val existed = sequences(spark).putIfAbsent(name, d).isDefined
    require(!existed || ifNotExists,
      s"graft: sequence '$name' already exists")
    oneRow(spark, "command" -> "CREATE SEQUENCE", "sequence_name" -> name)
  }

  private def dropSequence(spark: SparkSession, st: Stmt): LogicalPlan = {
    var k = 2
    val ifExists = st.lower(k) == "if" && st.lower(k + 1) == "exists"
    if (ifExists) k += 2
    // comma-separated name list (PG DropStmt), CASCADE/RESTRICT
    // accepted (no dependents to track); trailing junk is an error,
    // never silently ignored
    val names = ArrayBuffer.empty[String]
    var more = true
    while (more) {
      require(k < st.n && st.tok(k).kind == ID,
        "graft: DROP SEQUENCE expects a sequence name")
      names += normName(st.ident(k)); k += 1
      if (k < st.n && st.lower(k) == ",") { k += 1 } else more = false
    }
    if (k < st.n && (st.lower(k) == "cascade" || st.lower(k) == "restrict"))
      k += 1
    require(k >= st.n,
      s"graft: DROP SEQUENCE: unexpected '${st.lower(k)}'")
    names.foreach { name =>
      val dropped = sequences(spark).remove(name).isDefined
      require(dropped || ifExists, s"graft: sequence '$name' does not exist")
    }
    oneRow(spark, "command" -> "DROP SEQUENCE",
      "sequence_name" -> names.mkString(", "))
  }

  /** `ALTER SEQUENCE name RESTART [WITH n]` — the one alter arm with a
    * batch meaning; other arms error with the CREATE guidance. */
  private def alterSequence(spark: SparkSession, st: Stmt): LogicalPlan = {
    val name = normName(st.ident(2))
    val d = sequences(spark).getOrElse(name, throw new IllegalArgumentException(
      s"graft: sequence '$name' does not exist"))
    require(st.lower(3) == "restart",
      "graft: ALTER SEQUENCE supports RESTART [WITH n] — re-CREATE for " +
        "other changes (a session sequence has no persistent schema)")
    var k = 4
    if (k < st.n && st.lower(k) == "with") k += 1
    d.synchronized {
      if (k < st.n) {
        val (v, k2) = signedLong(st, k)
        // PG validates at ALTER time ("RESTART value cannot be greater
        // than MAXVALUE") — not with a misleading reached-maximum error
        // on the NEXT nextval
        require(v >= d.min && v <= d.max,
          s"graft: RESTART value $v is outside [${d.min}, ${d.max}]")
        // trailing clauses (MINVALUE/CYCLE/...) would be silently
        // dropped — reject like DROP SEQUENCE and VACUUM do
        require(k2 >= st.n,
          s"graft: ALTER SEQUENCE: unexpected '${st.lower(k2)}' — only " +
            "RESTART [WITH n] is supported; re-CREATE for other changes")
        d.next = v
      } else d.next = if (d.inc > 0) d.min else d.max
      d.last = None
      d.exhausted = false
    }
    oneRow(spark, "command" -> "ALTER SEQUENCE", "sequence_name" -> name)
  }

  private def seqFor(spark: SparkSession, name: String): SeqDef =
    sequences(spark).getOrElse(normName(name),
      throw new IllegalArgumentException(
        s"graft: sequence '$name' does not exist"))

  private def nextvalOf(spark: SparkSession, name: String): Long = {
    val d = seqFor(spark, name)
    d.synchronized {
      // a pending out-of-range next is reachable on a CYCLE sequence
      // too (setval to the boundary stores boundary+inc) — wrap it
      // here like PG instead of raising the non-CYCLE error
      val v0 = d.next
      val v =
        if ((v0 < d.min || v0 > d.max) && d.cycle) {
          if (d.inc > 0) d.min else d.max
        } else v0
      if (d.exhausted || v < d.min || v > d.max)
        throw new IllegalStateException(s"graft: nextval: reached " +
          s"${if (d.inc > 0) "maximum" else "minimum"} value of sequence '$name'")
      val candidate = v + d.inc
      // Long overflow on the advance counts as out of range (reachable
      // via setval near Long.MaxValue on default bounds)
      val overflowed = (d.inc > 0 && candidate < v) ||
        (d.inc < 0 && candidate > v)
      if (overflowed || candidate < d.min || candidate > d.max) {
        if (d.cycle) d.next = (if (d.inc > 0) d.min else d.max)
        else if (overflowed) d.exhausted = true // next is unrepresentable
        else d.next = candidate
      } else d.next = candidate
      d.last = Some(v)
      lastvalBySession.synchronized {
        lastvalBySession.put(spark, java.lang.Long.valueOf(v)); ()
      }
      v
    }
  }

  /**
   * Splice sequence function calls into literals, advancing the
   * session counters per occurrence (left-to-right, PG's evaluation
   * order for VALUES lists). Identity when no sequence function
   * appears. Runs BEFORE routing, like [[splicePredict]].
   *
   * Divergence (documented): the advance happens at parse time, so a
   * statement that subsequently fails (Spark parse error after the
   * splice) has still consumed its values — PG would not have
   * evaluated them. Sequence GAPS are explicitly PG-legal (nextval is
   * never rolled back, even on transaction abort), so downstream
   * arithmetic must not assume density either way.
   */
  def spliceSequences(sqlText: String): String = spliceSeq(sqlText, None)

  private def spliceSeq(sqlText: String, forcedExec: Option[Boolean]): String = {
    val low = sqlText.toLowerCase(java.util.Locale.ROOT)
    if (!low.contains("nextval") && !low.contains("currval") &&
        !low.contains("setval") && !low.contains("lastval")) return sqlText
    val st = new Stmt(lex(sqlText))
    if (st.n == 0) return sqlText
    // an EXPLAIN prefix: plain EXPLAIN never EVALUATES sequence calls
    // (PG plans nextval without calling it) — values are PEEKED with
    // the state untouched; EXPLAIN ANALYZE executes, so it behaves
    // exactly like the bare statement, multi-row rejection included
    // (keyed off the INNER statement head). `forcedExec` is the
    // EXPLAIN EXECUTE path, where the caller already stripped the
    // prefix from the substituted body.
    var h = 0
    var exec = forcedExec.getOrElse(true)
    if (forcedExec.isEmpty && st.lower(0) == "explain") {
      exec = false
      h = 1
      var scanning = true
      while (scanning && h < st.n) {
        st.lower(h) match {
          case "analyze" | "analyse" => exec = true; h += 1
          case "verbose" => h += 1
          case "(" if h == 1 && explainOptionWords(st.lower(h + 1)) =>
            // mirror explainStmt: a paren opening with a non-option word
            // is a parenthesized QUERY, not an option list
            val e = st.matching(h)
            if (st.splitCommas(h + 1, e - 1).exists { case (a, _) =>
              st.lower(a) == "analyze" || st.lower(a) == "analyse" }) exec = true
            h = e
          case _ => scanning = false
        }
      }
    }
    // a PREPARE body evaluates sequence calls at EXECUTE time (PG
    // semantics) — EXECUTE re-enters the pipeline, which splices then
    if (st.lower(h) == "prepare") return sqlText
    // a CREATE VIEW / CTAS body evaluates sequence calls PER QUERY in
    // PG — a definition-time splice would freeze one value into the
    // definition forever (and advance the counter at CREATE time,
    // which PG never does). A spliced literal cannot express that, so
    // reject honestly instead of silently baking a constant in.
    // (CREATE/ALTER/DROP SEQUENCE themselves carry no sequence CALLS —
    // the occurrence scan below only fires on call syntax.)
    if (st.lower(h) == "create" &&
        (0 until st.n).exists(p => Set("nextval", "currval", "setval",
          "lastval")(st.lower(p)) && st.lower(p + 1) == "("))
      throw new IllegalArgumentException(
        "graft: sequence calls inside a CREATE VIEW/TABLE body are not " +
          "supported on a batch engine (the definition would freeze one " +
          "spliced value where the reference evaluates per query) — " +
          "assign ids with row_number() OVER (...) and advance the " +
          "sequence with setval()")
    val spark = SparkSession.active
    // a literal nextval in a multi-row context silently assigns every
    // row the SAME value where PG assigns distinct ones — reject
    lazy val multiRow = Set("update", "delete", "merge")(st.lower(h)) ||
      (0 until st.n).exists(p => st.depth(p) == 0 && st.lower(p) == "from")
    // an occurrence INSIDE a subquery that scans a relation is per-row
    // in PG too (`(SELECT ... FROM t WHERE id < nextval('s'))`) — the
    // depth-0 FROM check alone misses it; a FROM-less scalar subquery
    // stays single-row and is exact
    def inSubqueryWithFrom(occ: Int): Boolean =
      (0 until occ).exists { q =>
        st.lower(q) == "(" && st.lower(q + 1) == "select" && {
          val e = st.matching(q) // one past the ')'
          e > occ && (q + 1 until e - 1).exists(r => st.lower(r) == "from")
        }
      }
    val seqFns = Set("nextval", "currval", "setval", "lastval")
    val repls = ArrayBuffer.empty[(Int, Int, String)]
    var p = 0
    while (p < st.n) {
      if (st.tok(p).kind == ID && seqFns(st.lower(p)) &&
          p + 1 < st.n && st.lower(p + 1) == "(") {
        val e = st.matching(p + 1)
        val args = if (e - 1 <= p + 2) Seq.empty
          else st.splitCommas(p + 2, e - 1)
        def nameArg: String = {
          require(args.nonEmpty && st.tok(args.head._1).kind == STR,
            s"graft: ${st.lower(p)} expects a quoted sequence name")
          st.tok(args.head._1).text.stripPrefix("'").stripSuffix("'")
            .replace("''", "'")
        }
        val value: Long = st.lower(p) match {
          case "nextval" =>
            if (exec) {
              require(!multiRow && !inSubqueryWithFrom(p),
                "graft: nextval() in a multi-row statement is not supported " +
                  "on a batch engine (each row would receive the SAME spliced " +
                  "value) — assign ids with row_number() OVER (...) and " +
                  "advance the sequence with setval()")
              nextvalOf(spark, nameArg)
            } else {
              // plan-only: peek, never advance (PG's EXPLAIN posture)
              val d = seqFor(spark, nameArg)
              d.synchronized(d.next)
            }
          case "currval" =>
            // plan-only (plain EXPLAIN) never evaluates the call in PG,
            // so an undefined currval must not raise — splice a
            // placeholder; the plan's shape is identical either way
            val d = seqFor(spark, nameArg)
            d.synchronized(d.last).getOrElse {
              if (!exec) 0L
              else throw new IllegalStateException(
                s"graft: currval of sequence '$nameArg' is not yet defined " +
                  "in this session")
            }
          case "lastval" =>
            require(args.isEmpty, "graft: lastval() takes no arguments")
            lastvalBySession.synchronized(
              Option(lastvalBySession.get(spark))).map(_.longValue).getOrElse {
              if (!exec) 0L
              else throw new IllegalStateException(
                "graft: lastval is not yet defined in this session")
            }
          case "setval" =>
            require(args.length == 2 || args.length == 3,
              "graft: setval expects (name, value[, is_called])")
            val name = nameArg
            val (v, _) = signedLong(st, args(1)._1)
            val isCalled =
              if (args.length == 3) st.lower(args(2)._1) == "true" else true
            val d = seqFor(spark, name)
            require(v >= d.min && v <= d.max,
              s"graft: setval value $v is outside [${d.min}, ${d.max}]")
            if (exec) d.synchronized {
              d.next = if (isCalled) v + d.inc else v
              d.last = if (isCalled) Some(v) else None
              d.exhausted = false
            }
            v
        }
        repls += ((p, e, s"CAST($value AS BIGINT)"))
        p = e
      } else p += 1
    }
    if (repls.isEmpty) sqlText else st.splice(repls.toSeq)
  }

  /**
   * `PREDICT BY m (FEATURES e1, e2)` → the stored weights spliced in
   * as exact-round-trip literals: regression yields the margin
   * `w0 + w1·x1 + w2·x2`, classification thresholds the shared
   * hard-sigmoid at 0.5. Identity when the statement has no PREDICT;
   * runs BEFORE routing so PREDICT BY composes with any statement.
   */
  def splicePredict(sqlText: String): String = {
    val low = sqlText.toLowerCase(java.util.Locale.ROOT)
    if (!low.contains("predict")) return sqlText
    val st = new Stmt(lex(sqlText))
    val repls = ArrayBuffer.empty[(Int, Int, String)]
    var p = 0
    while (p < st.n - 1) {
      if (st.lower(p) == "predict" && st.lower(p + 1) == "by" &&
          st.tok(p).kind == ID) {
        val name = st.ident(p + 2)
        require(st.lower(p + 3) == "(" && st.lower(p + 4) == "features",
          "graft: PREDICT BY expects (FEATURES expr, ...)")
        val e = st.matching(p + 3)
        val args = st.splitCommas(p + 5, e - 1).map { case (a, b) => st.text(a, b) }
        val text = ModelCatalog.get(name) match {
          case ModelCatalog.LinearModel(_, w, classify, _) =>
            require(args.length == w.length - 1,
              s"graft: model '$name' has ${w.length - 1} features, " +
                s"PREDICT BY passed ${args.length}")
            val margin = args.zipWithIndex.map { case (a, i) =>
              s" + ${dlit(w(i + 1))} * CAST(($a) AS DOUBLE)"
            }.mkString(s"(${dlit(w(0))}", "", ")")
            if (classify)
              s"(CASE WHEN ${Ml.hardSigmoidSql(margin)} >= 5e-1 THEN 1 ELSE 0 END)"
            else s"($margin)"
          case ModelCatalog.KmeansModel(cents, _, _) =>
            require(args.length == 2,
              s"graft: kmeans model '$name' takes 2 features, " +
                s"PREDICT BY passed ${args.length}")
            // the SAME distance/CASE trees as Ml.assignExpr (ties →
            // smaller id), with the converged centroids as literals —
            // the oracle recomputes them through the shared chain
            val xs = s"CAST((${args(0)}) AS DOUBLE)"
            val ys = s"CAST((${args(1)}) AS DOUBLE)"
            def dist(j: Int): String = {
              val (cx, cy) = cents(j)
              s"(($xs - ${dlit(cx)}) * ($xs - ${dlit(cx)})" +
                s" + ($ys - ${dlit(cy)}) * ($ys - ${dlit(cy)}))"
            }
            val k = cents.length
            val cases = (0 until k - 1).map { j =>
              val conds = (j + 1 until k).map(m => s"${dist(j)} <= ${dist(m)}")
              s"WHEN ${conds.mkString(" AND ")} THEN $j"
            }
            s"(CASE ${cases.mkString(" ")} ELSE ${k - 1} END)"
        }
        repls += ((p, e, text))
        p = e
      } else p += 1
    }
    if (repls.isEmpty) sqlText else st.splice(repls.toSeq)
  }
}
