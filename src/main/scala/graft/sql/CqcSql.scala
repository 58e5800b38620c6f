package graft.sql

import org.apache.spark.sql.{functions, Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BinaryComparison, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.{Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias}

import scala.util.chaining._

import graft.cqc.{Agg, Cmp, Rel}
import graft.wcoj.Ghd

/**
 * SQL-text front door to the CQC engine (the reference's main entry:
 * Calcite parse → LogicalPlanConverter → CQC compile, sqlplus-core
 * parser/ + convert/). graft reuses Spark's own parser/analyzer instead
 * of shipping one: the ANALYZED plan of `spark.sql(text)` is walked to
 * extract base relations, the attribute-equivalence classes of its
 * equality predicates, and its cross-relation comparisons — then the
 * whole query runs through [[graft.wcoj.Ghd]]/Yannakakis (semijoin
 * reduction + fused bound annotations + output-sensitive enumeration;
 * GHD bags when cyclic). Unlike the SemijoinReduction optimizer rule,
 * this path also applies CQC comparison pruning.
 *
 * Supported shape: SELECT <attrs/aliases | aggregates> FROM
 * <inner-joined relations> [LEFT|RIGHT OUTER JOIN <rel> ON <cond>]* WHERE
 * <conjunction of equalities, comparisons, disjunctions,
 * single-relation predicates> [GROUP BY <attrs> [HAVING <conds>]]
 * [ORDER BY <selected cols> [LIMIT n]]. Single-relation predicates are
 * pushed into their leaf; comparisons whose sides each live in one
 * relation (bare attrs OR computed expressions — the reference q2/q10
 * shape) become [[Cmp]] annotations; anything else (disjunctions,
 * multi-relation sides) is applied at the first enumeration join where
 * its variables are bound. LEFT OUTER joins are peeled off the join
 * root and re-applied to the CQC result (the reference Q13 routing);
 * WHERE conjuncts touching outer attrs apply after. GROUP BY/HAVING run as
 * an ordinary Catalyst hash aggregate on top of the CQC result
 * (reference TpchQueriesTest's aggregate-over-join shapes); ORDER
 * BY+LIMIT plan as TakeOrderedAndProject (no full-sort
 * materialization). Unsupported top shapes fall back to stock Spark
 * evaluation of the whole subtree — always correct, just not
 * CQC-accelerated.
 */
object CqcSql extends PredicateHelper {

  /** Signals a window frame the Column DSL cannot reproduce — callers
    * fall back to stock evaluation of the whole query. */
  private final class UnsupportedFrame extends RuntimeException

  /** Reserved name prefix for correlated-span interior rebinds (r17):
    * the routing gate declines any subquery whose own relations output
    * a column with this prefix, so inner-scope-first resolution of the
    * rebound names can never capture. */
  private val spanPrefix = "__sqspan_"

  def solve(spark: SparkSession, sql: String): DataFrame =
    qualifySplit(sql) match {
      case Some((rewritten, qcol)) =>
        // QUALIFY: the window predicate rides the select list as a
        // boolean carrier (the door's window peel routes it), the frame
        // filters on it and drops it — see [[qualifySplit]]
        trace("QUALIFY clause: predicate moved to select-list carrier + post-filter")
        solve(spark, rewritten).drop(qcol)
      case None => hintedRoot(spark, sql) match {
        case Some(r) if graft.cqc.Hypergraph.activeRootHint.isEmpty =>
          graft.cqc.Hypergraph.withRootHint(r)(
            solvePlan(spark, spark.sql(sql).queryExecution.analyzed))
        case _ => solvePlan(spark, spark.sql(sql).queryExecution.analyzed)
      }
    }

  // ---- QUALIFY clause (r14 wave 4): Snowflake/DuckDB/BigQuery syntax
  // Spark's parser lacks — `[GROUP BY/HAVING] QUALIFY <pred> [ORDER BY/
  // LIMIT]` filters rows on window functions AFTER they are computed.
  // The door rewrites the TEXT before parsing: the predicate moves into
  // the select list as a boolean carrier column (window expressions are
  // legal there and see exactly the rows QUALIFY's windows see), and
  // [[solve]] applies WHERE carrier + drops it on the built frame — so
  // every door route (window peel, fast aggregates' fallback, stock)
  // inherits the clause. Scope: the OUTERMOST query block only (the
  // scan is depth-0 — a QUALIFY inside a subquery or CTE body sits
  // inside parens and is left alone, so Spark reports its parse error
  // loudly instead of a silent half-rewrite). Refused loudly: SELECT
  // DISTINCT (the carrier would change the distinct-set) and depth-0
  // set operations (the carrier would land in the wrong branch).

  /** Depth-0 keyword occurrences of `kw` in `sql` — outside string
    * literals, backtick identifiers, comments, and parens. Returns
    * start offsets; `kw` must be word-isolated. */
  private def topLevelKw(sql: String, kw: String): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    var depth = 0
    var quote: Char = 0
    var i = 0
    def wordCh(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          if (quote != '`' && i + 1 < sql.length && sql.charAt(i + 1) == quote) i += 1
          else quote = 0
        } else if (c == '\\' && quote != '`') i += 1
      } else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        while (i < sql.length && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        val end = sql.indexOf("*/", i + 2)
        i = if (end >= 0) end + 1 else sql.length
      } else if (c == '\'' || c == '"' || c == '`') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && kw.length <= sql.length - i &&
        sql.regionMatches(true, i, kw, 0, kw.length) &&
        (i == 0 || !wordCh(sql.charAt(i - 1))) &&
        (i + kw.length >= sql.length || !wordCh(sql.charAt(i + kw.length)))) {
        out += i
        i += kw.length - 1
      }
      i += 1
    }
    out.toSeq
  }

  /** Split a top-level QUALIFY off `sql`: Some((rewritten text, carrier
    * column name)) when present, None otherwise. See the block comment
    * above for the rewrite contract. */
  private[sql] def qualifySplit(sql: String): Option[(String, String)] = {
    val quals = topLevelKw(sql, "QUALIFY")
    if (quals.isEmpty) return None
    require(quals.size == 1, "more than one top-level QUALIFY clause")
    require(Seq("UNION", "INTERSECT", "EXCEPT")
        .forall(topLevelKw(sql, _).isEmpty),
      "QUALIFY over a top-level set operation is not supported by the door " +
        "(wrap the branch in a subquery)")
    val qStart = quals.head
    val selects = topLevelKw(sql, "SELECT")
    require(selects.nonEmpty && selects.head < qStart,
      "QUALIFY without a top-level SELECT")
    val afterSel = sql.drop(selects.head + "SELECT".length)
    require(!afterSel.stripLeading().toUpperCase.startsWith("DISTINCT"),
      "QUALIFY over SELECT DISTINCT is not supported by the door " +
        "(the carrier column would change the distinct-set)")
    val froms = topLevelKw(sql, "FROM").filter(_ > selects.head)
    require(froms.nonEmpty, "QUALIFY without a top-level FROM")
    val fromAt = froms.head
    require(fromAt < qStart, "malformed QUALIFY placement")
    val tailKw = (topLevelKw(sql, "ORDER") ++ topLevelKw(sql, "LIMIT"))
      .filter(_ > qStart)
    val predEnd = if (tailKw.isEmpty) sql.length else tailKw.min
    val pred = sql.substring(qStart + "QUALIFY".length, predEnd).trim
    require(pred.nonEmpty, "empty QUALIFY predicate")
    // the carrier block nests INSIDE a wrapper that filters on it, so a
    // trailing ORDER BY / LIMIT applies AFTER the qualify filter (the
    // Snowflake evaluation order) — the wrapper's WHERE references only
    // the subquery's output, and solve() drops the carrier column
    val tail = if (predEnd < sql.length) " " + sql.substring(predEnd) else ""
    val rewritten = "SELECT * FROM (" +
      sql.substring(0, fromAt) + s", ($pred) AS __qualify " +
      sql.substring(fromAt, qStart) +
      ") __qualified WHERE __qualify" + tail
    Some((rewritten, "__qualify"))
  }

  // ---- SQL-comment join-tree hint (reference convert/HintHandler.scala:10
  // reached from plain text instead of the web/API pin): `/*+ ROOT(x) */`
  // anywhere in the query pins the enumeration tree root. `x` is a rel
  // name from [[candidates]] (r0, r1, … in FROM order) or a FROM alias
  // (resolved positionally). Unknown names fall back to the cost pick —
  // never an error — and an API-level [[solveWithRoot]] pin wins over
  // the comment. Spark's analyzer drops the unrecognized hint token from
  // the plan itself, so the text analyzes identically with or without it.
  private val rootHintRe =
    "(?is)/\\*\\+\\s*root\\s*\\(\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*\\)\\s*\\*/".r

  private[sql] def hintedRoot(spark: SparkSession, sql: String): Option[String] =
    rootHintRe.findFirstMatchIn(sql).map { m =>
      val want = m.group(1)
      if (want.matches("(?i)r\\d+")) want.toLowerCase
      else {
        // FROM aliases resolve positionally: leaf SubqueryAliases in
        // left-to-right DFS order mirror flatten's r0, r1, … numbering.
        // A miss (or an offset from peeled outer shapes) degrades to the
        // cost pick / a different valid root — rerooting never changes
        // results (spec'd), so this is best-effort by design.
        val analyzed = spark.sql(sql).queryExecution.analyzed
        val leafAliases = scala.collection.mutable.ArrayBuffer[String]()
        def walk(p: LogicalPlan): Unit = p match {
          case SubqueryAlias(id, child) =>
            if (child.collectFirst { case j: Join => j }.isEmpty) leafAliases += id.name
            else walk(child)
          case other => other.children.foreach(walk)
        }
        walk(analyzed)
        val i = leafAliases.indexWhere(_.equalsIgnoreCase(want))
        if (i >= 0) s"r$i" else want
      }
    }

  // ---- dry-run tracing (the reference's DryRunHandler/compile artifact
  // at the semantic level: what plan WOULD run, without running it).
  // Thread-local so concurrent sessions don't interleave lines.
  private val tracer = new ThreadLocal[StringBuilder]
  private def trace(line: => String): Unit = {
    val sb = tracer.get()
    if (sb != null) sb.append(line).append('\n')
  }

  /** Dry-run: plan the query through the door and return the textual
    * plan dump — the chosen join tree (root, edges, shared variables,
    * size estimates), comparison bound carriers, and the routed
    * execution path (fast aggregate / ranked chain / enumeration /
    * stock fallback). Nothing executes: the door only constructs
    * lazy frames, and this discards them. */
  def explain(spark: SparkSession, sql: String): String = {
    val sb = new StringBuilder
    tracer.set(sb)
    try {
      solve(spark, sql) // honors a /*+ ROOT(x) */ comment like execution
      sb.toString
    } finally tracer.remove()
  }

  // ---- inspection surfaces over the decomposed body (dry-run: plans
  // are BUILT, no job runs) — the web/CLI parity layer reads these.
  private val relsHook = new ThreadLocal[Seq[graft.cqc.Rel] => Unit]

  /** The decomposed conjunctive body (hyperedges) of the OUTERMOST query
    * block, without executing anything. Empty when the text falls back
    * to stock before decomposition (e.g. an unsupported top shape). */
  def relations(spark: SparkSession, sql: String): Seq[graft.cqc.Rel] = {
    val last = scala.collection.mutable.ArrayBuffer[graft.cqc.Rel]()
    relsHook.set { rels => last.clear(); last ++= rels }
    // QUALIFY texts inspect through the same rewrite solve() executes
    val sql2 = qualifySplit(sql).map(_._1).getOrElse(sql)
    try {
      solvePlan(spark, spark.sql(sql2).queryExecution.analyzed)
      last.toSeq
    } finally relsHook.remove()
  }

  private val cmpsHook = new ThreadLocal[Seq[Cmp] => Unit]

  /** The cross-relation comparison predicates (bound carriers) of the
    * OUTERMOST query block — the hyperedges of the reference's
    * comparison hypergraph (sqlplus-core graph/ComparisonHyperGraph
    * .scala: each comparison spans the join-tree edges on the path
    * between the relations carrying its two sides). Dry-run, like
    * [[relations]]. */
  def comparisons(spark: SparkSession, sql: String): Seq[Cmp] =
    structure(spark, sql)._2

  /** Relations AND comparisons of the outermost block from ONE planning
    * run — variable names are exprId-derived and differ between runs,
    * so a comparison's side refs only resolve against the rels of the
    * SAME run ([[homeOf]]). */
  def structure(spark: SparkSession, sql: String): (Seq[graft.cqc.Rel], Seq[Cmp]) = {
    val lastRels = scala.collection.mutable.ArrayBuffer[graft.cqc.Rel]()
    val lastCmps = scala.collection.mutable.ArrayBuffer[Cmp]()
    relsHook.set { rels => lastRels.clear(); lastRels ++= rels }
    cmpsHook.set { cs => lastCmps.clear(); lastCmps ++= cs }
    val sql2 = qualifySplit(sql).map(_._1).getOrElse(sql)
    try {
      solvePlan(spark, spark.sql(sql2).queryExecution.analyzed)
      (lastRels.toSeq, lastCmps.toSeq)
    } finally { relsHook.remove(); cmpsHook.remove() }
  }

  /** The relation of `rels` carrying every variable a comparison side
    * references (None for a residual-shaped side — by construction
    * [[comparisons]] only emits sides confined to one leaf, but the
    * fold may have merged that leaf away). */
  def homeOf(rels: Seq[graft.cqc.Rel], sideRefs: Set[String]): Option[graft.cqc.Rel] =
    rels.find(r => sideRefs.subsetOf(r.vars))

  /** Every candidate join tree for an acyclic body — (root name,
    * describe dump) per candidate; empty for cyclic bodies (GHD picks
    * bags by coverage, there is no rerooting choice to offer).
    * Reference: sqlplus-web's candidate list feeding its tree pick. */
  def candidates(spark: SparkSession, sql: String): Seq[(String, String)] = {
    val rels = relations(spark, sql)
    if (rels.size < 2) Seq.empty
    else graft.cqc.Hypergraph.candidateTrees(rels).map(t => t.root -> t.describe)
  }

  /** [[solve]] with the enumeration join tree rooted at `root` (a name
    * from [[candidates]]) — the candidate-pick execution path. */
  def solveWithRoot(spark: SparkSession, sql: String, root: String): DataFrame =
    graft.cqc.Hypergraph.withRootHint(root)(solve(spark, sql))

  /** Escape a value for embedding inside a double-quoted DOT string:
    * backslashes and double quotes (a comparison side can carry a
    * string-literal bound like `c_name <> "x\"y"` — raw interpolation
    * produced malformed DOT). */
  private def dotq(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Graphviz DOT dump of the query hypergraph (bipartite form:
    * box = relation hyperedge, ellipse = variable), with the
    * COMPARISON hyperedges drawn as dashed labeled edges between the
    * relations carrying the two sides — the textual equivalent of
    * sqlplus-web's hypergraph + comparison rendering (springboot
    * dto/HyperGraph.java building from graph/ComparisonHyperGraph
    * .scala). */
  def hypergraphDot(spark: SparkSession, sql: String): String = {
    val (rels, cmps) = structure(spark, sql)
    val vars = rels.flatMap(_.vars).distinct.sorted
    val sb = new StringBuilder("graph hypergraph {\n")
    sb.append("  node [shape=box, style=filled, fillcolor=lightblue];\n")
    rels.foreach { r =>
      sb.append(s"""  "${dotq(r.name)}" [label="${dotq(r.name)}\\n~${graft.cqc.Hypergraph.estSize(r)}B"];\n""")
    }
    sb.append("  node [shape=ellipse, style=solid];\n")
    vars.foreach(v => sb.append(s"""  "v_${dotq(v)}" [label="${dotq(v)}"];\n"""))
    rels.foreach { r =>
      r.vars.toSeq.sorted.foreach(v => sb.append(s"""  "${dotq(r.name)}" -- "v_${dotq(v)}";\n"""))
    }
    cmps.foreach { c =>
      for {
        from <- homeOf(rels, c.leftRefs)
        to <- homeOf(rels, c.rightRefs)
      } sb.append(s"""  "${dotq(from.name)}" -- "${dotq(to.name)}" [style=dashed, color=red, label="${dotq(s"${c.left} ${c.op} ${c.right}")}"];\n""")
    }
    sb.append("}\n").toString
  }

  /** [[explain]] over a semicolon-separated script: DDL statements run
    * (views must exist for the final query to analyze), the final
    * statement is dry-run-planned instead of executed. */
  def explainScript(spark: SparkSession, text: String): String = {
    val stmts = splitStatements(text)
    require(stmts.nonEmpty, "empty script")
    stmts.init.foreach(s => if (!tryRefCreateTable(spark, s)) spark.sql(s))
    explain(spark, stmts.last)
  }

  /**
   * Session-script entry (the reference CLI accepts CREATE TABLE DDL in
   * front of its queries — sqlplus-core parser, SqlPlusParserTest):
   * semicolon-separated statements; every statement but the last runs
   * through stock Spark SQL (CREATE TABLE ... USING parquet LOCATION,
   * CREATE TEMPORARY VIEW, DROP, ...), the final SELECT runs through
   * [[solve]]. The splitter is quote-aware: a ';' inside a '...' or
   * "..." literal (with '' / "" / backslash escapes) never splits, and
   * an unterminated quote fails fast instead of silently misexecuting
   * corrupted statement halves.
   */
  def script(spark: SparkSession, text: String): DataFrame = {
    val stmts = splitStatements(text)
    require(stmts.nonEmpty, "empty script")
    stmts.init.foreach(s => if (!tryRefCreateTable(spark, s)) spark.sql(s))
    solve(spark, stmts.last)
  }

  /** Reference-style DDL (sqlplus-core parser/ddl/SqlCreateTable.java):
    * `CREATE TABLE name (col TYPE, ..., [PRIMARY KEY (...)]) WITH
    * ('path' = 'file')` over comma-separated text data (the reference's
    * generated readers split rows on ','). Stock Spark SQL rejects the
    * WITH-properties clause, so the script door translates it: schema
    * from the column defs (constraint clauses tolerated and recorded as
    * metadata no-ops — they assert, not enforce), data as a
    * header-less CSV scan, registered as a temp view. Returns false if
    * the statement is not this shape (caller runs it as stock SQL). */
  private[graft] def tryRefCreateTable(spark: SparkSession, stmt: String): Boolean = try {
    // table name: bare, `backtick` (the reference's Calcite Lex.JAVA
    // quoting) or "double-quoted"; IF NOT EXISTS per the reference
    // grammar (SqlCreateTable.isIfNotExists)
    val pat = ("""(?is)\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """(`[^`]+`|"[^"]+"|\w+)\s*\((.*)\)\s*WITH\s*\((.*?)\)\s*""").r
    stmt match {
      case pat(nameRaw, colsRaw, propsRaw) =>
        val name = nameRaw.stripPrefix("`").stripSuffix("`")
          .stripPrefix("\"").stripSuffix("\"")
        // split column defs on top-level commas only (constraint clauses
        // like PRIMARY KEY (a, b) contain nested commas)
        val defs = scala.collection.mutable.ArrayBuffer[String]()
        var depth = 0; val cur = new StringBuilder
        colsRaw.foreach {
          case ',' if depth == 0 => defs += cur.toString; cur.clear()
          case c =>
            if (c == '(') depth += 1 else if (c == ')') depth -= 1
            cur += c
        }
        defs += cur.toString
        val upper = (s: String) => s.trim.toUpperCase
        val fields = defs.map(_.trim).filter(_.nonEmpty).filterNot(d =>
          upper(d).startsWith("PRIMARY KEY") || upper(d).startsWith("UNIQUE") ||
            upper(d).startsWith("CONSTRAINT"))
          // inline `col INT PRIMARY KEY` — strip the assertion, keep the type
          .map(_.replaceAll("(?i)\\s+PRIMARY\\s+KEY$", "").replaceAll("(?i)\\s+UNIQUE$", ""))
          // "quoted" column names: Spark's DDL parser takes backticks only
          .map(_.replaceAll("^\"([^\"]+)\"", "`$1`"))
        val props = """'([^']*)'\s*=\s*'([^']*)'""".r
          .findAllMatchIn(propsRaw).map(m => m.group(1) -> m.group(2)).toMap
        props.get("path") match {
          case Some(path) =>
            spark.read
              .schema(org.apache.spark.sql.types.StructType.fromDDL(fields.mkString(", ")))
              .option("header", "false")
              .option("delimiter", props.getOrElse("delimiter", ","))
              .csv(path)
              .createOrReplaceTempView(name)
            true
          case None => false // WITH but no path: not the reference shape
        }
      case _ => false
    }
  } catch {
    // a malformed reference-dialect statement (bad type text, unparsable
    // defs) falls back to stock SQL — but stock Spark then chokes on the
    // non-Spark WITH ('k'='v') clause, an error that names the SYNTAX
    // rather than the actual problem. Surface the translator's own
    // exception first so the real cause (e.g. a bad column type) is
    // visible alongside whatever the stock parser says next; the
    // translator must still never be the thing that crashes the door.
    case scala.util.control.NonFatal(e) =>
      val flat = stmt.linesIterator.mkString(" ")
      val shown = if (flat.length > 120) flat.take(120) + "..." else flat
      Console.err.println(
        s"graft: reference-DDL translation failed (${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("")}) for statement " +
          s"'$shown'; falling back to stock SQL")
      false
  }

  /** Split a SQL script on statement-separating semicolons only: quotes
    * ('...' and "..."), doubled-quote escapes ('it''s'), backslash
    * escapes, `-- line` comments and `/* block */` comments are scanned,
    * so a ';' inside a literal or a comment never splits. Comments are
    * dropped from the emitted statements (Spark's parser takes them, but
    * a statement that is ONLY a comment must not reach it). */
  private[graft] def splitStatements(text: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var quote: Char = 0 // 0 = outside any literal
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == '\\' && i + 1 < text.length) { cur += text.charAt(i + 1); i += 1 }
        else if (c == quote) {
          // doubled quote = escaped quote, stay inside
          if (i + 1 < text.length && text.charAt(i + 1) == quote) {
            cur += quote; i += 1
          } else quote = 0
        }
      } else if (c == '-' && i + 1 < text.length && text.charAt(i + 1) == '-') {
        while (i < text.length && text.charAt(i) != '\n') i += 1
        cur += ' '
      } else if (c == '/' && i + 1 < text.length && text.charAt(i + 1) == '*'
                 && (i + 2 >= text.length || text.charAt(i + 2) != '+')) {
        // plain block comment; `/*+ ... */` is HINT syntax and passes
        // through intact (the door's ROOT(x) surface)
        val end = text.indexOf("*/", i + 2)
        require(end >= 0, "unterminated /* block comment in script — refusing to split")
        i = end + 1 // loop's +1 steps past the '/'
        cur += ' '
      } else if (c == '\'' || c == '"') { quote = c; cur += c }
      else if (c == ';') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    require(quote == 0,
      s"unterminated $quote-quoted string literal in script — refusing to split")
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /**
   * The plan-level door: evaluate an ANALYZED LogicalPlan through the
   * CQC pipeline. Recursive — a join-tree leaf that itself contains a
   * join (a nested subquery block: derived tables, aggregate subqueries
   * — the reference's AggregatedRelation, convert/LogicalPlanConverter
   * subquery routing) is solved by the same machinery, so e.g. the full
   * two-level TPC-H Q13 text gets CQC treatment at BOTH levels instead
   * of evaluating the inner block as an opaque stock-Spark leaf.
   */
  /** Inline WITH-clause (CTE) definitions so the join structure inside
    * them is visible to the decomposition — without this a CTE-bodied
    * join collapses into ONE opaque leaf and gets no semijoin reduction
    * or factorized aggregate. Spark's own `InlineCTE(alwaysInline)`
    * does the ref-site attribute remapping (multi-referenced defs
    * inline once per ref with fresh exprIds, exactly what a self-join
    * over a CTE needs). Guarded: non-deterministic defs keep their
    * WithCTE (inlining would re-evaluate e.g. rand() per reference —
    * stock fallback handles those), and any inliner failure returns
    * the original plan. */
  private def inlineCtes(plan: LogicalPlan): LogicalPlan = plan match {
    case w: org.apache.spark.sql.catalyst.plans.logical.WithCTE =>
      val allDet = w.cteDefs.forall(_.deterministic)
      if (!allDet) plan
      else try {
        val inlined =
          org.apache.spark.sql.catalyst.optimizer.InlineCTE(alwaysInline = true)(plan)
        val clean = inlined.collectFirst {
          case _: org.apache.spark.sql.catalyst.plans.logical.WithCTE => ()
          case _: org.apache.spark.sql.catalyst.plans.logical.CTERelationRef => ()
        }.isEmpty
        if (clean) { trace("inlined WITH-clause (CTE) definitions"); inlined } else plan
      } catch { case scala.util.control.NonFatal(_) => plan }
    case _ => plan
  }

  def solvePlan(spark: SparkSession, analyzed0: LogicalPlan): DataFrame = {
    // read before any route: a malformed value must fail here, not be
    // swallowed by a route's stock fallback
    graft.cqc.Yannakakis.directThreshold(spark)
    val analyzed = inlineCtes(analyzed0)

    // ---- peel ORDER BY / LIMIT off the top (the reference's ranked
    // SQL form). Sort refs must point at SELECTed output columns; they
    // are re-applied by output name on the final frame, so the CQC
    // pipeline under them is unchanged. TakeOrderedAndProject picks up
    // the sort+limit pair physically — the full sort never materializes.
    val (sortLimit, afterSort): ((Seq[SortOrder], Option[Int], Int), LogicalPlan) = analyzed match {
      // LIMIT k OFFSET j (any-k paging): GlobalLimit(k, LocalLimit(k, Offset(j, ...)))
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_,
          org.apache.spark.sql.catalyst.plans.logical.Offset(Literal(j: Int, _),
            Sort(order, true, child, _)))) =>
        ((order, Some(n), j), child)
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_,
          org.apache.spark.sql.catalyst.plans.logical.Offset(Literal(j: Int, _), child))) =>
        ((Nil, Some(n), j), child)
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, Sort(order, true, child, _))) =>
        ((order, Some(n), 0), child)
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, child)) =>
        ((Nil, Some(n), 0), child)
      case Sort(order, true, child, _) => ((order, None, 0), child)
      case other => ((Nil, None, 0), other)
    }

    // ---- peel HAVING / Aggregate off the top (GROUP BY over the CQC
    // join result — reference TpchQueriesTest shapes; the analyzer turns
    // HAVING into Filter(cond, Aggregate(...)))
    // ---- SELECT DISTINCT: evaluate through CQC, dedup the final frame
    val (isDistinct, afterDistinct) = afterSort match {
      case org.apache.spark.sql.catalyst.plans.logical.Distinct(child) => (true, child)
      case other => (false, other)
    }

    // ---- set operations (UNION [ALL] / INTERSECT [ALL] / EXCEPT [ALL]):
    // each branch runs through the door INDEPENDENTLY (semijoin
    // reduction, fast aggregates, ranked chains — whatever each branch's
    // shape routes to), then the branches combine positionally with
    // Spark's own set-op operators. UNION's dedup is exactly the
    // isDistinct peel above (the analyzer plans UNION as
    // Distinct(Union)). by-name unions never come from SQL text — they
    // (and any other exotic variant) fall back to stock.
    locally {
      import org.apache.spark.sql.catalyst.plans.logical.{Union => LUnion, Intersect => LIntersect, Except => LExcept}
      val setOp: Option[DataFrame] = afterDistinct match {
        case u: LUnion if !u.byName =>
          trace(s"routing: UNION${if (isDistinct) "" else " ALL"} — ${u.children.size} branches, each through the door")
          Some(u.children.map(c => solvePlan(spark, c)).reduce(_ union _))
        case LIntersect(l, r, isAll) =>
          trace(s"routing: INTERSECT${if (isAll) " ALL" else ""} — both branches through the door")
          val (lf, rf) = (solvePlan(spark, l), solvePlan(spark, r))
          Some(if (isAll) lf intersectAll rf else lf intersect rf)
        case LExcept(l, r, isAll) =>
          trace(s"routing: EXCEPT${if (isAll) " ALL" else ""} — both branches through the door")
          val (lf, rf) = (solvePlan(spark, l), solvePlan(spark, r))
          Some(if (isAll) lf exceptAll rf else lf except rf)
        case _ => None
      }
      setOp.foreach { combined =>
        finishTop(combined, afterDistinct.output, sortLimit, isDistinct) match {
          case Some(res) => return res
          case None =>
            trace("routing: stock fallback (ORDER BY over a set operation references a non-output column)")
            return GraftSqlBridge.dataFrame(spark, analyzed)
        }
      }
    }

    // ---- ROLLUP / CUBE / GROUPING SETS over a join (the analyzer plans
    // them as Aggregate over Expand, which would otherwise swallow the
    // whole join into one stock-evaluated leaf — no CQC reduction, and
    // Expand MULTIPLIES the join output by the number of grouping sets
    // before aggregating): solve ONE inner aggregate at the finest
    // grouping through the door (it rides the factorized fast path when
    // the shape allows — the join never enumerates), then roll the
    // decomposable partials up per grouping set on the small
    // pre-aggregated result. Unsupported aggregates (DISTINCT, FILTER,
    // double sums, decimal averages) decline to the generic path.
    locally {
      import org.apache.spark.sql.catalyst.plans.logical.{Expand => LExpand}
      // HAVING plans as a Filter above the Aggregate (plus a helper
      // Project when it references a non-selected aggregate): peel both,
      // apply the conditions on the rolled-up frame by output name,
      // strip helper columns last
      val (rollupProj, rollupConds, aggOpt) = afterDistinct match {
        case Project(pl, Filter(cond, agg @ Aggregate(_, _, exp: LExpand, _))) =>
          (Some(pl), splitConjunctivePredicates(cond), Some((agg, exp)))
        case Filter(cond, agg @ Aggregate(_, _, exp: LExpand, _)) =>
          (None, splitConjunctivePredicates(cond), Some((agg, exp)))
        case agg @ Aggregate(_, _, exp: LExpand, _) =>
          (None, Seq.empty[Expression], Some((agg, exp)))
        case _ => (None, Seq.empty[Expression], None)
      }
      val supported = aggOpt.exists { case (agg, _) =>
        val names = agg.output.map(a => a.exprId.id -> a.name).toMap
        names.values.toSeq.distinct.size == names.size && // by-name rebinding needs unique names
          rollupConds.forall(_.references.forall(a => names.contains(a.exprId.id))) &&
          rollupProj.forall(_.forall(_.isInstanceOf[AttributeReference]))
      }
      if (supported) aggOpt.foreach { case (agg, exp) =>
        tryRollupFast(spark, agg, exp).foreach { combined0 =>
          val names = agg.output.map(a => a.exprId.id -> a.name).toMap
          var combined = combined0
          rollupConds.foreach { c =>
            combined = combined.where(GraftSqlBridge.column(c.transform {
              case a: AttributeReference => UnresolvedAttribute.quoted(names(a.exprId.id))
            }))
          }
          rollupProj.foreach { pl =>
            combined = combined.select(pl.map(a =>
              GraftSqlBridge.column(UnresolvedAttribute.quoted(names(a.exprId.id)))): _*)
          }
          finishTop(combined, afterDistinct.output, sortLimit, isDistinct) match {
            case Some(res) => return res
            case None =>
              trace("routing: stock fallback (ORDER BY over grouping sets references a non-output column)")
              return GraftSqlBridge.dataFrame(spark, analyzed)
          }
        }
      }
    }

    val (outerProj, havingConds, aggInfo, afterAgg) = afterDistinct match {
      // HAVING on a non-selected aggregate: the analyzer widens the
      // Aggregate with a helper column and strips it with a Project
      case Project(pl, Filter(cond, Aggregate(ge, ae, child, _))) =>
        (Some(pl), splitConjunctivePredicates(cond), Some((ge, ae)), child)
      case Filter(cond, Aggregate(ge, ae, child, _)) =>
        (None, splitConjunctivePredicates(cond), Some((ge, ae)), child)
      case Aggregate(ge, ae, child, _) =>
        (None, Seq.empty[Expression], Some((ge, ae)), child)
      case other =>
        (None, Seq.empty[Expression], None, other)
    }

    // ---- peel Project / Filter off the top
    val (projectList, afterProject) = afterAgg match {
      case _ if aggInfo.isDefined => (Nil, afterAgg)
      case Project(pl, child) => (pl, child)
      case other => (other.output.map(a => a: NamedExpression), other)
    }
    // ---- peel window functions (SELECT ... agg OVER (...) FROM joins):
    // the analyzer builds a CHAIN of Window nodes (one per distinct
    // spec) interleaved with helper Projects (which may alias attrs and
    // repeat them). Walk the whole chain, collecting window expressions
    // and helper aliases; the window expressions re-apply on the CQC
    // result as Columns (renamed to variable names), so the join under
    // them still gets semijoin reduction — the window itself is
    // Catalyst's standard partitioned sort, unchanged.
    def winChain(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case Project(_, c) => winChain(c)
      case _ => false
    }
    val windowDefs = scala.collection.mutable.ArrayBuffer[NamedExpression]()
    val helperAliases = scala.collection.mutable.Map[Long, Expression]()
    var afterWindow = afterProject
    while (winChain(afterWindow)) afterWindow match {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        windowDefs ++= w.windowExpressions
        afterWindow = w.child
      case Project(pl2, c) =>
        pl2.foreach {
          case al: Alias => helperAliases(al.exprId.id) = al.child
          case _ => ()
        }
        afterWindow = c
    }
    // the chain always ends on the helper Project the analyzer put UNDER
    // the lowest Window (it aliases/repeats attrs for the window specs);
    // consume it too, or it becomes a leaf with duplicate column names
    if (windowDefs.nonEmpty) afterWindow match {
      case Project(pl2, c) =>
        pl2.foreach {
          case al: Alias => helperAliases(al.exprId.id) = al.child
          case _ => ()
        }
        afterWindow = c
      case _ => ()
    }
    // ---- CORRELATED subqueries in the output surface (SELECT list,
    // aggregate expressions, window definitions) reference the join body
    // from inside their own subplan; after CQC variable renaming those
    // outer refs cannot re-resolve (probed: INTERNAL_ERROR_ATTRIBUTE_NOT_
    // FOUND at execution). Route the whole query to stock — correct,
    // just not CQC-accelerated. UNcorrelated scalar subqueries are
    // independently evaluable and ride every path unchanged; correlated
    // subqueries in WHERE stay handled as leaf filters elsewhere.
    {
      import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
      val outputExprs: Seq[Expression] =
        projectList ++ aggInfo.map(_._2).getOrElse(Nil) ++ windowDefs ++
          outerProj.getOrElse(Nil) ++ havingConds
      if (outputExprs.exists(SubqueryExpression.hasCorrelatedSubquery)) {
        trace("stock fallback: correlated subquery in the SELECT list")
        return GraftSqlBridge.dataFrame(spark, analyzed)
      }
    }

    val (topConjuncts, joinRoot) = afterWindow match {
      case Filter(cond, child) => (splitConjunctivePredicates(cond), child)
      case other => (Nil, other)
    }

    // ---- peel LEFT / RIGHT OUTER joins off the join root (reference
    // LogicalPlanConverter routes the TPC-H Q13 shape): the PRESERVED
    // subtree is the CQC cluster; each peeled null-extended side re-joins
    // the CQC result afterwards as a left_outer (for a RIGHT OUTER the
    // preserved side is the right subtree, so the re-application with
    // the peeled side on the right is the same join flipped — identical
    // semantics, and the final projection restores column order). FULL
    // OUTER preserves both sides, so it cannot peel — it falls through
    // to a stock-evaluated leaf. WHERE conjuncts that touch only inner
    // attrs commute with the outer join (the preserved side is never
    // null-extended) and stay in the CQC pipeline; conjuncts touching
    // outer attrs apply after the join.
    val outerJoins = scala.collection.mutable.ArrayBuffer[(LogicalPlan, Option[Expression])]()
    // ---- explicit LEFT SEMI / LEFT ANTI JOIN text syntax peels the same
    // way (r14): the probed side never contributes output columns, so a
    // peeled semi/anti is a pure row FILTER on the preserved cluster —
    // it commutes with the inner joins (its condition references only
    // preserved-side and own-side attrs) and with the left-outer
    // re-applications (a filter on join output applies identically
    // before or after), so re-applying it on the CQC result AFTER the
    // peeled outers (whose o-columns its condition may reference when
    // the semi sat textually above them) is the original semantics.
    // EXISTS/NOT-EXISTS subqueries reach the same plans via Spark's
    // rewrite; this peel covers users who write the join form directly.
    val semiJoins = scala.collection.mutable.ArrayBuffer[(LogicalPlan, Option[Expression], String)]()
    def peelOuter(p: LogicalPlan): LogicalPlan = p match {
      case Join(l, r, org.apache.spark.sql.catalyst.plans.LeftOuter, cond, _) =>
        val inner = peelOuter(l)
        outerJoins += ((r, cond))
        inner
      case Join(l, r, org.apache.spark.sql.catalyst.plans.RightOuter, cond, _) =>
        val inner = peelOuter(r)
        outerJoins += ((l, cond))
        inner
      case Join(l, r, org.apache.spark.sql.catalyst.plans.LeftSemi, cond, _) =>
        val inner = peelOuter(l)
        semiJoins += ((r, cond, "left_semi"))
        inner
      case Join(l, r, org.apache.spark.sql.catalyst.plans.LeftAnti, cond, _) =>
        val inner = peelOuter(l)
        semiJoins += ((r, cond, "left_anti"))
        inner
      case SubqueryAlias(_, child) => peelOuter(child)
      case other => other
    }
    val innerRoot = peelOuter(joinRoot)
    // semi/anti sides share the o-name space: their attrs appear ONLY in
    // their own join condition (SQL scoping hides them above the join),
    // so varName resolves them during the re-application and nothing
    // else ever sees them
    val outerNames: Map[Long, String] =
      (outerJoins.flatMap(_._1.output.map(a => a.exprId.id -> s"o${a.exprId.id}")) ++
        semiJoins.flatMap(_._1.output.map(a => a.exprId.id -> s"o${a.exprId.id}"))).toMap

    // ---- flatten the inner-join cluster into leaves + join conditions
    val leaves = scala.collection.mutable.ArrayBuffer[LogicalPlan]()
    val joinConds = scala.collection.mutable.ArrayBuffer[Expression]()
    def flatten(p: LogicalPlan): Unit = p match {
      case Join(l, r, Inner, cond, _) =>
        flatten(l); flatten(r); cond.foreach(c => joinConds ++= splitConjunctivePredicates(c))
      case SubqueryAlias(_, child) => flatten(child)
      case leaf => leaves += leaf
    }
    flatten(innerRoot)
    require(leaves.nonEmpty, "no relations found")
    // a leaf whose plan outputs DUPLICATE column names (e.g. a Generate
    // node spanning a self-join: LATERAL VIEW explode over g1, g2) cannot
    // be variable-renamed by name — stock evaluation, never a crash
    if (leaves.exists(l => l.output.map(_.name).distinct.size != l.output.size)) {
      trace("routing: stock fallback (leaf with duplicate output column names)")
      return GraftSqlBridge.dataFrame(spark, analyzed)
    }
    val (postOuterConjuncts, conjuncts) = (topConjuncts ++ joinConds).partition(
      _.references.exists(a => outerNames.contains(a.exprId.id)))

    // ---- equality classes over ExprIds. Only CROSS-leaf equalities are
    // join variables: a same-leaf equality like `g1.src = g1.dst` must be
    // applied as a leaf filter (it falls through to the refLeaves.size==1
    // branch below) — feeding it to the union-find would silently drop it,
    // since a class confined to one leaf never gets a shared join name.
    val leafAttrIds: Seq[Set[Long]] = leaves.map(_.output.map(_.exprId.id).toSet).toSeq
    def leafOf(id: Long): Int = leafAttrIds.indexWhere(_.contains(id))

    // ---- subquery predicates (scalar / EXISTS / IN): a conjunct whose
    // references live in ONE leaf applies as that leaf's filter with the
    // subquery embedded — Spark evaluates it there, correlated or not
    // (reference q17/q22 shapes as SQL text). A subquery predicate whose
    // outer references SPAN leaves cannot ride the variable renaming
    // (PlanExpression.sql does not round-trip), so the whole query falls
    // back to stock evaluation — correct, just not CQC-accelerated.
    def hasSubquery(e: Expression): Boolean =
      e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
    // a NESTED leaf (join beneath: derived-table view) is re-evaluated
    // recursively, so its frame loses the analyzer's exprIds and leaf
    // filters are rebound by NAME — but a subquery predicate's plan
    // INTERIOR (the correlated OuterReference nodes) is not reachable by
    // the expression transform and keeps stale ids, which fails binding
    // at execution (r11 battery find). Correct, not accelerated: stock.
    def leafIsNested(i: Int): Boolean =
      leaves(i).collectFirst { case j: Join => j }.isDefined &&
        !(leaves(i) fastEquals analyzed)
    // a CORRELATED subquery's OuterReference nodes live INSIDE the
    // PlanExpression's plan, unreachable by the expression transform that
    // renames attrs — against a RE-DERIVED frame (a renamed peeled side,
    // a nested leaf) they keep stale exprIds and fail binding at
    // execution (r12 fuzz find: scalar subquery correlated on the peeled
    // attr). Uncorrelated subqueries only carry outer attrs in the
    // top-level tree (IN values, comparison sides), which the rename
    // does reach — they stay routable.
    def isCorrelated(e: Expression): Boolean = e.exists {
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        s.isCorrelated
      case _ => false
    }
    // r16 lift (VERDICT r15 #4): an UNCORRELATED subquery conjunct whose
    // outer references span >= 2 non-nested leaves no longer forces
    // stock — its subquery PLAN rides inside the Column unchanged (only
    // the .sql round-trip was the blocker, and the post-enumeration
    // apply below uses the same renamed-Column path as
    // postOuterConjuncts), while its outer attrs rename like any
    // residual.
    //
    // r17 (VERDICT r16 #4): CORRELATED spans lift too. The blocker was
    // that OuterReference nodes live INSIDE the PlanExpression's plan,
    // unreachable by the expression rename transform — but they ARE
    // reachable by the plan's own transformAllExpressions: rewrite each
    // OuterReference(attr) to UnresolvedAttribute(varName) and hand the
    // now-unresolved plan back through withNewPlan. Applying the Column
    // on the enumerated frame re-runs Spark's ResolveSubquery (the plan
    // is unresolved again), which re-resolves those names against the
    // enumeration output — where every leaf variable is bound — and
    // rebuilds the outer-attribute metadata from scratch, so no stale
    // exprId survives. Spark only admits one correlation level, so the
    // top plan's OuterReferences are exactly ours (a nested subquery's
    // outer refs target the subquery's own scope, which is untouched).
    // References already include the correlated outer attrs
    // (SubqueryExpression.references spans outerAttrs), so the leaf-span
    // test below needs no special casing; nested-leaf bindings still
    // fall back (their leaf frames lose the analyzer's exprIds
    // entirely).
    // capture guard (r17 review find): the rebound interior names carry
    // a reserved `__sqspan_` prefix and the enumerated frame exposes
    // matching aliases, so inner-scope-first resolution can only
    // capture if a relation INSIDE the subquery itself outputs a
    // `__sqspan_`-prefixed column — declined here (stock), making the
    // silent-capture path unreachable rather than merely unlikely.
    def subqPlanCarriesPrefix(e: Expression): Boolean = e.exists {
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression
          if s.isCorrelated =>
        s.plan.collect { case n => n.output }.flatten
          .exists(_.name.startsWith(spanPrefix))
      case _ => false
    }
    def liftableSpan(e: Expression): Boolean = {
      val ls = e.references.map(a => leafOf(a.exprId.id)).toSet
      ls.size >= 2 && ls.forall(l => l >= 0 && !leafIsNested(l)) &&
        !subqPlanCarriesPrefix(e)
    }
    val (subqSpanFilters, conjuncts2) =
      conjuncts.partition(e => hasSubquery(e) && liftableSpan(e))
    if (subqSpanFilters.nonEmpty) {
      val nCorr = subqSpanFilters.count(isCorrelated)
      trace(s"lifted ${subqSpanFilters.size} cross-leaf subquery " +
        s"predicate(s) to post-enumeration filters" +
        (if (nCorr > 0) s" ($nCorr correlated, interior outer refs rebound)" else ""))
    }
    if ((conjuncts2 ++ postOuterConjuncts).exists { e =>
      hasSubquery(e) && {
        val ls = e.references.map(a => leafOf(a.exprId.id)).toSet
        // -1 = the attr lives on a PEELED outer-join side, not a leaf
        // (the peel path applies such predicates later; indexing leaves
        // with it would crash) — routable UNLESS correlated (the peel
        // re-join renames its frame, so interior outer refs go stale)
        ls.size != 1 || (ls.head >= 0 && leafIsNested(ls.head)) ||
          (ls.head < 0 && isCorrelated(e))
      }
    }) {
      trace("routing: stock fallback (cross-leaf, nested-leaf, or peel-correlated subquery predicate)")
      return GraftSqlBridge.dataFrame(spark, analyzed)
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(id: Long): Long = {
      val p = parent.getOrElse(id, id)
      if (p == id) id else { val r = find(p); parent(id) = r; r }
    }
    val (equalities, others) = conjuncts2.partition {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        leafOf(a.exprId.id) != leafOf(b.exprId.id)
      case _ => false
    }
    equalities.foreach { case EqualTo(a: AttributeReference, b: AttributeReference) =>
      parent(find(a.exprId.id)) = find(b.exprId.id)
    }

    // ---- lift COMPUTED-side and null-safe equalities into join EDGES:
    // `f(a) = g(b)` with each side confined to one leaf (different
    // leaves) is a genuine equi-join — derive each side as a join-key
    // column (`__vj$i`) on its home leaf, so the hypergraph gets a real
    // edge (a hash join at scale, not the cross join + residual filter
    // these shapes used to get). `a <=> b` lifts the same way with both
    // sides wrapped in a one-field struct: Spark's struct equality
    // matches NULL fields (probed: `struct(NULL) = struct(NULL)` is
    // true), so the derived key is hash-joinable with exactly the
    // null-safe semantics.
    val liftedJoinKeys =
      scala.collection.mutable.ArrayBuffer[(Int, Int, Expression, Expression, Boolean)]()
    val othersKept = others.filter { e =>
      def sidesOf(l: Expression, r: Expression): Option[(Int, Int)] = {
        val ll = l.references.map(a => leafOf(a.exprId.id)).toSet
        val rl = r.references.map(a => leafOf(a.exprId.id)).toSet
        if (ll.size == 1 && rl.size == 1 && ll != rl) Some((ll.head, rl.head)) else None
      }
      e match {
        case _ if hasSubquery(e) || !e.deterministic => true
        case EqualTo(l, r) => // attr=attr cross-leaf pairs are already in `equalities`
          sidesOf(l, r) match {
            case Some((li, ri)) => liftedJoinKeys += ((li, ri, l, r, false)); false
            case None => true
          }
        case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(l, r) =>
          sidesOf(l, r) match {
            case Some((li, ri)) => liftedJoinKeys += ((li, ri, l, r, true)); false
            case None => true
          }
        case _ => true
      }
    }
    val derivedJ = scala.collection.mutable.Map[Int, List[(String, Expression, Boolean)]]()
      .withDefaultValue(Nil)
    liftedJoinKeys.zipWithIndex.foreach { case ((li, ri, l, r, ns), i) =>
      derivedJ(li) = (s"__vj$i", l, ns) :: derivedJ(li)
      derivedJ(ri) = (s"__vj$i", r, ns) :: derivedJ(ri)
    }
    if (liftedJoinKeys.nonEmpty)
      trace(s"lifted ${liftedJoinKeys.size} computed/null-safe equalit" +
        s"${if (liftedJoinKeys.size == 1) "y" else "ies"} to derived join keys (__vj)")

    // ---- variable naming: join classes share a name, the rest stay unique
    val classMembers = (leafAttrIds.flatten.map(id => find(id) -> id))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def isJoinVar(rep: Long): Boolean =
      classMembers(rep).map(leafOf).size > 1
    def varName(id: Long): String = outerNames.getOrElse(id, {
      val rep = find(id)
      if (isJoinVar(rep)) s"v$rep" else s"c$id"
    })

    // ---- classify the remaining predicates
    val leafFilters = scala.collection.mutable.Map[Int, List[Expression]]().withDefaultValue(Nil)
    val cmps = scala.collection.mutable.ArrayBuffer[Cmp]()
    val residual = scala.collection.mutable.ArrayBuffer[Expression]()
    def opOf(e: Expression): Option[String] = e match {
      case _: LessThan => Some("<")
      case _: LessThanOrEqual => Some("<=")
      case _: GreaterThan => Some(">")
      case _: GreaterThanOrEqual => Some(">=")
      case _ => None
    }
    def toVarNamesEarly(e: Expression): Expression = e.transform {
      case a: AttributeReference => UnresolvedAttribute(varName(a.exprId.id))
    }
    // RuntimeReplaceable nodes (BETWEEN, NULLIF, ...) keep their ORIGINAL
    // argument expressions out of `children`, so an attr rename transform
    // misses them and the .sql round-trip emits stale qualified names —
    // expand to their replacement form (to fixpoint) before renaming
    def deRuntime(e: Expression): Expression = {
      var cur = e
      var prev: Expression = null
      while (prev == null || !cur.fastEquals(prev)) {
        prev = cur
        cur = cur.transformUp {
          case rr: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
            rr.replacement
          // a replacement may be a With (common-subexpression) node, whose
          // .sql form `with(...)` is not parseable — inline the defs
          case w: org.apache.spark.sql.catalyst.expressions.With =>
            val defs = w.defs.map(d => d.id -> d.child).toMap
            w.child.transformUp {
              case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
                defs.getOrElse(r.id, r)
            }
        }
      }
      cur
    }
    def varSql(e: Expression): String = toVarNamesEarly(deRuntime(e)).sql
    othersKept.foreach { e =>
      val refLeaves = e.references.map(a => leafOf(a.exprId.id)).toSet
      e match {
        case _ if refLeaves.size == 1 =>
          leafFilters(refLeaves.head) = e :: leafFilters(refLeaves.head)
        case bc: BinaryComparison if opOf(bc).isDefined =>
          // each side confined to ONE leaf (different leaves) becomes a
          // Cmp — bare attributes AND computed expressions alike (the
          // reference q2/q10 sum-comparison shape): Yannakakis gives both
          // the per-key bound-annotation pruning. A side spanning two
          // leaves can't be annotated; it stays a residual filter.
          val lLeaves = bc.left.references.map(a => leafOf(a.exprId.id)).toSet
          val rLeaves = bc.right.references.map(a => leafOf(a.exprId.id)).toSet
          if (lLeaves.size == 1 && rLeaves.size == 1 && lLeaves != rLeaves)
            cmps += Cmp(varSql(bc.left), opOf(bc).get, varSql(bc.right))
          else residual += e
        case _ => residual += e
      }
    }

    // ---- build Rels: filter each leaf, rename attrs to variable names
    def toVarNames(e: Expression): Expression = e.transform {
      case a: AttributeReference => UnresolvedAttribute(varName(a.exprId.id))
    }
    // ---- FULL OUTER join leaf: neither side is preserved, so it cannot
    // peel — but BOTH sides can still be CQC-evaluated independently and
    // full-outer joined at the end. Sides are tagged with exprId-derived
    // column names so the ON condition rebinds unambiguously, then the
    // original names are restored (requires distinct output names —
    // ambiguous outputs fall through to stock).
    def fullOuterFrame(p: LogicalPlan): Option[DataFrame] = p match {
      case SubqueryAlias(_, c) => fullOuterFrame(c)
      case j @ Join(l, r, org.apache.spark.sql.catalyst.plans.FullOuter, cond, _)
          if j.output.map(_.name).distinct.size == j.output.size =>
        def side(sp: LogicalPlan): DataFrame = {
          var df =
            if (sp.collectFirst { case jj: Join => jj }.isDefined) solvePlan(spark, sp)
            else GraftSqlBridge.dataFrame(spark, sp)
          sp.output.foreach(a => df = df.withColumnRenamed(a.name, s"__fo${a.exprId.id}"))
          df
        }
        val joinCond = cond.map(c0 => GraftSqlBridge.column(c0.transform {
          case a: AttributeReference => UnresolvedAttribute(s"__fo${a.exprId.id}")
        })).getOrElse(functions.lit(true))
        var out = side(l).join(side(r), joinCond, "full_outer")
        j.output.foreach(a => out = out.withColumnRenamed(s"__fo${a.exprId.id}", a.name))
        Some(out)
      case _ => None
    }

    val rels = leaves.zipWithIndex.map { case (leaf, i) =>
      // a leaf with a join beneath is a nested subquery block: recurse
      // (its frame loses the analyzer's exprIds, so predicates against it
      // are rebound by NAME — unique within a block's output). A leaf
      // that IS the whole input plan means no peel made progress (an
      // unsupported shape above the join, e.g. a window function) —
      // evaluate it stock rather than recurse forever; each recursion
      // otherwise descends a strict subtree, so termination is by depth.
      val fullOuter = fullOuterFrame(leaf)
      val nested = fullOuter.isDefined || (
        leaf.collectFirst { case j: Join => j }.isDefined &&
          !(leaf fastEquals analyzed))
      var df = fullOuter.getOrElse {
        if (nested) solvePlan(spark, leaf)
        else GraftSqlBridge.dataFrame(spark, leaf)
      }
      def byName(f: Expression): Expression = f.transform {
        case a: AttributeReference => UnresolvedAttribute(a.name)
      }
      leafFilters(i).foreach(f =>
        df = df.where(GraftSqlBridge.column(if (nested) byName(f) else f)))
      // Rename attrs to variable names. TRANSITIVE equalities can place
      // two attrs of the same leaf in one class (r.a = s.x AND s.x = r.b
      // implies r.a = r.b): keep the first column under the class name,
      // filter the leaf on the implied equality, drop the duplicate.
      val seen = scala.collection.mutable.Map[String, String]()
      leaf.output.foreach { a =>
        val vn = varName(a.exprId.id)
        seen.get(vn) match {
          case Some(_) =>
            df = df.where(functions.col(a.name) === functions.col(vn)).drop(a.name)
          case None =>
            seen(vn) = a.name
            df = df.withColumnRenamed(a.name, vn)
        }
      }
      // derived join keys from lifted computed/null-safe equalities:
      // the expression is rebound to variable names (resolves by name on
      // both plain and nested frames); the <=> struct wrap names its
      // field "k" on both sides so the struct types match exactly
      derivedJ(i).foreach { case (n, e, ns) =>
        val c = GraftSqlBridge.column(toVarNamesEarly(deRuntime(e)))
        df = df.withColumn(n, if (ns) functions.struct(c.as("k")) else c)
      }
      Rel(s"r$i", df)
    }.toSeq

    // ---- fold KEYED aggregate subquery leaves into a host relation
    // ("joint-groupBy degree subqueries"): an Aggregate leaf joined on
    // EXACTLY its full grouping key matches at most one row per host
    // tuple, so inner-joining it onto any relation carrying those
    // variables is multiplicity-neutral and result-identical — the leaf
    // leaves the hypergraph, dropping its two reducer semijoins and its
    // enumeration join (the reference examples q3–q7 carry 2–4 degree
    // subqueries each; at scale the keyed aggregate becomes a broadcast
    // enrichment of the edge it filters instead of a join-tree node).
    // The aggregate side is persisted first, so identical-shaped degree
    // subqueries canonically dedup in the CacheManager and one
    // materialization serves every host. Used by the ENUMERATION path
    // only (the fast aggregate paths index rels positionally); skipped
    // under an explicit root pin so the pinned name can't vanish.
    val foldedRels: Seq[Rel] = {
      val keyOf: Map[Int, Set[String]] =
        if (graft.cqc.Hypergraph.activeRootHint.isDefined) Map.empty
        else leaves.zipWithIndex.flatMap { case (leaf0, i) =>
          @annotation.tailrec
          def strip(p: LogicalPlan): LogicalPlan = p match {
            case SubqueryAlias(_, c) => strip(c)
            case c => c
          }
          strip(leaf0) match {
            case org.apache.spark.sql.catalyst.plans.logical.Aggregate(ge, _, _, _)
                if ge.nonEmpty && ge.forall(_.isInstanceOf[AttributeReference]) &&
                  ge.forall(g => leafAttrIds(i).contains(
                    g.asInstanceOf[AttributeReference].exprId.id)) =>
              Some(i -> ge.map(g =>
                varName(g.asInstanceOf[AttributeReference].exprId.id)).toSet)
            case _ => None
          }
        }.toMap
      val arr = rels.toArray
      val gone = scala.collection.mutable.Set[Int]()
      def shared(i: Int): Set[String] =
        arr(i).vars.filter(v =>
          arr.indices.exists(j => j != i && !gone(j) && arr(j).vars(v)))
      for ((i, keys) <- keyOf.toSeq.sortBy(_._1)) {
        if (!gone(i) && shared(i) == keys)
          arr.indices.find(j => j != i && !gone(j) && !keyOf.contains(j) &&
              keys.subsetOf(arr(j).vars)).foreach { j =>
            // carry the host's estimate through the fold: the keyed
            // aggregate matches ≤1 row per host tuple, so the enriched
            // relation is at most host-sized — Catalyst's join stats
            // would multiply instead (measured 37 KB -> 1.1 GB),
            // poisoning the tree cost pick and the direct-route gate
            arr(j) = Rel(arr(j).name, arr(j).df.join(
              graft.CacheRegistry.persistTracked(arr(i).df), keys.toSeq, "inner"),
              Some(graft.cqc.Hypergraph.estSize(arr(j))))
            gone += i
          }
      }
      if (gone.nonEmpty)
        trace(s"folded keyed aggregate leaves: ${gone.toSeq.sorted.map(i => s"r$i").mkString(", ")}")
      arr.indices.filterNot(gone).map(arr(_)).toSeq
    }

    // inspection hook (candidates / hypergraph dump): nested blocks fire
    // inner-first, the OUTERMOST body fires last — callers keep the last
    locally { val h = relsHook.get(); if (h != null) h(foldedRels) }
    locally { val h = cmpsHook.get(); if (h != null) h(cmps.toSeq) }

    // the enumeration route the evaluator will take (dry-run surface):
    // cost-gated in Yannakakis.solveWithTree — tiny bodies skip the
    // reducer/annotation scheduling breadth, everything else gets the
    // full output-sensitive discipline
    // one GYO serves the route line and the tree trace below
    lazy val dryRunTree = graft.cqc.Hypergraph.tryJoinTree(foldedRels)
    def enumRouteLine: String =
      if (dryRunTree.isRight && graft.cqc.Yannakakis.routesDirect(foldedRels))
        "direct broadcast enumeration (all leaves under spark.graft.direct.threshold; " +
          "comparisons applied at earliest binding)"
      else "semijoin-reduced enumeration (Yannakakis pass 1 + output-sensitive pass 2)"

    trace {
      val desc = dryRunTree.fold(_ =>
        foldedRels.map(r => s"${r.name} [${r.vars.toSeq.sorted.mkString(",")}]")
          .mkString("(cyclic body -> GHD certificate bags over: ", "; ", ")"), _.describe)
      s"join tree (cost-picked):\n$desc" +
        (if (cmps.isEmpty) ""
         else "\nbound carriers:\n" + cmps.map(c => s"  $c").mkString("\n"))
    }

    // ---- CQC-evaluate (GHD decomposes if cyclic; no-op when acyclic).
    // Residuals ride along so they filter at the FIRST join where their
    // variables are bound (a cross-relation OR never waits for the full
    // enumeration). Lazy: the aggregate fast path below never builds it.
    lazy val enumerated: DataFrame = {
      var out = Ghd.solve(foldedRels, cmps.toSeq, residual.map(varSql).toSeq)
      // lifted cross-leaf subquery predicates: every referenced variable
      // is bound in the enumeration output; an uncorrelated subquery
      // plan rides the Column as-is, a correlated one has its interior
      // OuterReferences rebound (r17 — ResolveSubquery then re-resolves
      // the unresolved plan against this frame and rebuilds the
      // outer-attr metadata). Interior names use the reserved
      // `__sqspan_` prefix with matching aliases on the enumerated
      // frame (dropped afterwards): inner-scope-first resolution cannot
      // capture a same-named subquery-side column, because the routing
      // gate declined any subquery whose own relations carry the prefix
      // (r17 review find — a generated schema with columns c0..cN could
      // otherwise shadow a bare c<exprId> variable name silently)
      val corrNames = scala.collection.mutable.LinkedHashSet[String]()
      def toVarNamesSubq(e: Expression): Expression = e.transform {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression
            if s.isCorrelated =>
          s.withNewPlan(s.plan.transformAllExpressions {
            case org.apache.spark.sql.catalyst.expressions
                  .OuterReference(a: AttributeReference) =>
              val v = varName(a.exprId.id)
              corrNames += v
              UnresolvedAttribute(spanPrefix + v)
          })
        case a: AttributeReference => UnresolvedAttribute(varName(a.exprId.id))
      }
      val spanExprs = subqSpanFilters.map(toVarNamesSubq) // populates corrNames
      corrNames.foreach(v =>
        out = out.withColumn(spanPrefix + v, functions.col(v)))
      spanExprs.foreach(e => out = out.where(GraftSqlBridge.column(e)))
      if (corrNames.nonEmpty)
        out = out.drop(corrNames.toSeq.map(spanPrefix + _): _*)

      // ---- re-apply the peeled outer joins on the CQC result (a
      // join-bearing peeled side is itself a nested block: recurse)
      outerJoins.foreach { case (rplan, cond) =>
        var rdf =
          if (rplan.collectFirst { case j: Join => j }.isDefined) solvePlan(spark, rplan)
          else GraftSqlBridge.dataFrame(spark, rplan)
        rplan.output.foreach(a => rdf = rdf.withColumnRenamed(a.name, outerNames(a.exprId.id)))
        val joinCond = cond.map(c => GraftSqlBridge.column(toVarNames(c)))
          .getOrElse(functions.lit(true))
        out = out.join(rdf, joinCond, "left_outer")
      }
      // ---- re-apply the peeled semi/anti joins (pure filters — after
      // the outers so a condition referencing an o-column binds)
      semiJoins.foreach { case (rplan, cond, typ) =>
        var rdf =
          if (rplan.collectFirst { case j: Join => j }.isDefined) solvePlan(spark, rplan)
          else GraftSqlBridge.dataFrame(spark, rplan)
        rplan.output.foreach(a => rdf = rdf.withColumnRenamed(a.name, outerNames(a.exprId.id)))
        val joinCond = cond.map(c => GraftSqlBridge.column(toVarNames(c)))
          .getOrElse(functions.lit(true))
        out = out.join(rdf, joinCond, typ)
      }
      postOuterConjuncts.foreach(e => out = out.where(GraftSqlBridge.column(toVarNames(e))))
      out
    }

    // ---- aggregate FAST PATH (FAQ/AJAR routing): a GROUP BY whose keys
    // live in one relation and whose aggregates are COUNT(*) / SUM /
    // MIN / MAX over single-relation expressions — with no comparison
    // machinery, outer joins, or residuals — factorizes over the join
    // tree: route to ONE pass of [[graft.cqc.Yannakakis.aggOverJoin]]
    // (product-weight semiring for COUNT/SUM/product SUMs; extrema ride
    // the same messages), so the join result is NEVER enumerated (a
    // 4-hop count of ~10^9 paths from SQL text costs four per-key
    // message aggregates).
    // Returns the aggregated frame with group vars + one __agg$i column
    // per aggregate alias — the same layout the generic branch builds —
    // so HAVING / projection / ORDER BY downstream are path-agnostic.
    // ---- aggregate pushdown UNDER a peeled outer join (eager
    // aggregation — the Q13 inner block): when the aggregates are
    // COUNT(*) / COUNT(outer attr) / SUM(outer integral expr) and the
    // group+join keys live in one inner relation, the outer join never
    // materializes. The outer side pre-aggregates per join key into
    // (multiplicity __m, per-key sums); the inner cluster aggregates per
    // (group, join key) via message passing; a left join of the two tiny
    // aggregates weights them together: COUNT(*) = Σ cnt·coalesce(__m,1)
    // (an unmatched inner row is exactly one null-extended row),
    // COUNT/SUM over the outer side = Σ cnt·coalesce(sum, 0).
    // a CAST directly around an aggregate (CAST(COUNT(..) AS BIGINT))
    // commutes with the fast paths: match the inner aggregate, cast the
    // output column afterwards
    def unwrapCast(e: Expression): (Expression, Option[org.apache.spark.sql.types.DataType]) =
      e match {
        case c: org.apache.spark.sql.catalyst.expressions.Cast => (c.child, Some(c.dataType))
        case other => (other, None)
      }
    // 1 where `e` is non-null, else 0: COUNT(e) and AVG's denominator
    // as a sum
    def indicator(e: Expression): Expression =
      org.apache.spark.sql.catalyst.expressions.If(
        org.apache.spark.sql.catalyst.expressions.IsNull(e), Literal(0L), Literal(1L))

    def tryOuterFastAgg(
        groupExprs: Seq[Expression],
        aggAliases: Seq[(Alias, String)]): Option[DataFrame] = {
      if (outerJoins.isEmpty || cmps.nonEmpty || residual.nonEmpty ||
        subqSpanFilters.nonEmpty ||
        postOuterConjuncts.nonEmpty || isDistinct) return None
      val allOuterIds = outerJoins.flatMap(_._1.output.map(_.exprId.id)).toSet

      // per outer side: equi-key pairs (inner var, outer col) + own filters.
      // An ON conjunct referencing ANOTHER outer side (chained outer
      // joins with cross-side conditions) defeats the factorization.
      case class Side(
          plan: LogicalPlan,
          keyPairs: Seq[(String, String)],
          filters: Seq[Expression],
          ids: Set[Long])
      val sides = outerJoins.zipWithIndex.map { case ((rplan, condOpt), _) =>
        val ids = rplan.output.map(_.exprId.id).toSet
        val kp = scala.collection.mutable.ArrayBuffer[(String, String)]()
        val fs = scala.collection.mutable.ArrayBuffer[Expression]()
        condOpt.map(splitConjunctivePredicates).getOrElse(Nil).foreach {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if ids.contains(b.exprId.id) && !allOuterIds.contains(a.exprId.id) =>
            kp += ((varName(a.exprId.id), outerNames(b.exprId.id)))
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if ids.contains(a.exprId.id) && !allOuterIds.contains(b.exprId.id) =>
            kp += ((varName(b.exprId.id), outerNames(a.exprId.id)))
          case e if e.references.nonEmpty &&
              e.references.forall(a => ids.contains(a.exprId.id)) => fs += e
          case _ => return None
        }
        if (kp.isEmpty) return None
        Side(rplan, kp.toSeq, fs.toSeq, ids)
      }.toSeq

      val gvars = groupExprs.map {
        case a: AttributeReference if !allOuterIds.contains(a.exprId.id) =>
          varName(a.exprId.id)
        case _ => return None
      }
      val innerKeys = sides.flatMap(_.keyPairs.map(_._1)).distinct
      val groupKeys = (gvars ++ innerKeys).distinct
      if (!rels.exists(r => groupKeys.toSet.subsetOf(r.vars))) return None

      def exactType(e: Expression): Boolean = {
        // integrals and decimals: the multiplicity weighting is exact
        // scaled-integer arithmetic for both (outputs cast back to the
        // stock type below); doubles would reassociate — generic path.
        // Decimal scale is UNRESTRICTED since r16: the weighting runs on
        // graft.functions.DecimalExact (DECIMAL(38, s) partials — the
        // scale can never shrink, magnitude overflow nulls like a stock
        // capped accumulator), closing the old scale<=6 decline.
        import org.apache.spark.sql.types._
        e.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _: DecimalType => true
          case _ => false
        }
      }
      def sideOf(e: Expression): Option[Int] = {
        val js = e.references.map(a => sides.indexWhere(_.ids.contains(a.exprId.id))).toSet
        if (js.size == 1 && js.head >= 0) Some(js.head) else None
      }
      // CntStar = COUNT(*); OSum(e, j, isCount) = Σ of e over side j
      // (isCount: an empty group is 0; a plain SUM of an empty group is
      // NULL — the null-extended row's product stays null and Spark's
      // sum skips it); OMin/OMax(e, j): extrema are idempotent, so the
      // other sides' multiplicities never matter; OAvg(e, j) = weighted
      // value sum / weighted non-null count (a null-extended row
      // contributes to neither, exactly the SQL AVG null rule)
      sealed trait OK
      case object CntStar extends OK
      case class OSum(e: Expression, j: Int, isCount: Boolean) extends OK
      case class OMin(e: Expression, j: Int) extends OK
      case class OMax(e: Expression, j: Int) extends OK
      case class OAvg(e: Expression, j: Int) extends OK
      // INNER-cluster aggregates (the preserved side of every peeled
      // outer join, so each inner row survives >= 1 time):
      // ISum/IAvg factorize as per-cell sums times the outer match
      // counts; IMin/IMax are multiplicity-free (idempotent over the
      // preserved rows — outer joins replicate but never drop them)
      case class ISum(leaf: Int, e: Expression, isCount: Boolean) extends OK
      case class IMin(leaf: Int, e: Expression) extends OK
      case class IMax(leaf: Int, e: Expression) extends OK
      case class IAvg(leaf: Int, e: Expression) extends OK
      def innerLeaf(e: Expression): Option[Int] = {
        if (e.references.isEmpty ||
          e.references.exists(a => allOuterIds.contains(a.exprId.id))) None
        else {
          val ls = e.references.map(a => leafOf(a.exprId.id)).toSet
          if (ls.size == 1 && !ls.contains(-1)) Some(ls.head) else None
        }
      }
      def integralOnly(e: Expression): Boolean = {
        import org.apache.spark.sql.types._
        e.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      }
      val aggCasts = aggAliases.map { case (al, _) => unwrapCast(al.child)._2 }
      val kinds: Seq[OK] = aggAliases.map { case (al, _) =>
        unwrapCast(al.child)._1 match {
          case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count
                  if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
                // foldable AND non-null: COUNT(NULL) is 0, not COUNT(*)
                CntStar
              case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count
                  if c.children.size == 1 && sideOf(c.children.head).isDefined =>
                OSum(indicator(c.children.head), sideOf(c.children.head).get, isCount = true)
              case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count
                  if c.children.size == 1 && innerLeaf(c.children.head).isDefined =>
                ISum(innerLeaf(c.children.head).get, indicator(c.children.head), isCount = true)
              case su: org.apache.spark.sql.catalyst.expressions.aggregate.Sum
                  if sideOf(su.child).isDefined && exactType(su.child) =>
                OSum(su.child, sideOf(su.child).get, isCount = false)
              case su: org.apache.spark.sql.catalyst.expressions.aggregate.Sum
                  if innerLeaf(su.child).isDefined && exactType(su.child) =>
                ISum(innerLeaf(su.child).get, su.child, isCount = false)
              case m: org.apache.spark.sql.catalyst.expressions.aggregate.Min
                  if sideOf(m.child).isDefined => OMin(m.child, sideOf(m.child).get)
              case m: org.apache.spark.sql.catalyst.expressions.aggregate.Min
                  if innerLeaf(m.child).isDefined =>
                IMin(innerLeaf(m.child).get, m.child)
              case m: org.apache.spark.sql.catalyst.expressions.aggregate.Max
                  if sideOf(m.child).isDefined => OMax(m.child, sideOf(m.child).get)
              case m: org.apache.spark.sql.catalyst.expressions.aggregate.Max
                  if innerLeaf(m.child).isDefined =>
                IMax(innerLeaf(m.child).get, m.child)
              case a: org.apache.spark.sql.catalyst.expressions.aggregate.Average
                  if sideOf(a.child).isDefined && integralOnly(a.child) =>
                // integral only: the single double division at the end is
                // exact-over-exact (a decimal AVG's division rounding is
                // engine-specific — generic path)
                OAvg(a.child, sideOf(a.child).get)
              case a: org.apache.spark.sql.catalyst.expressions.aggregate.Average
                  if innerLeaf(a.child).isDefined && integralOnly(a.child) =>
                IAvg(innerLeaf(a.child).get, a.child)
              case _ => return None
            }
          case _ => return None
        }
      }

      // inner-side aggregated expressions ride the factorized inner pass
      // as derived columns on their home leaf (one message pass carries
      // count + sums + extrema together)
      val derivedI = scala.collection.mutable.Map[Int, List[(String, Expression)]]()
        .withDefaultValue(Nil)
      kinds.zipWithIndex.foreach {
        case (ISum(l, e, _), i) => derivedI(l) = (s"__iv$i", e) :: derivedI(l)
        case (IAvg(l, e), i) =>
          derivedI(l) = (s"__inn$i", indicator(e)) :: (s"__iv$i", e) :: derivedI(l)
        case (IMin(l, e), i) => derivedI(l) = (s"__ix$i", e) :: derivedI(l)
        case (IMax(l, e), i) => derivedI(l) = (s"__ix$i", e) :: derivedI(l)
        case _ => ()
      }
      val relsI = rels.zipWithIndex.map { case (r, i) =>
        Rel(r.name, derivedI(i).foldLeft(r.df) { case (df, (n, e)) =>
          df.withColumn(n, GraftSqlBridge.column(toVarNames(deRuntime(e))))
        })
      }
      def innerSum(v: String) = Agg.Sum(s"sum_$v", Seq(v))
      val innerAggs = Agg.Sum("cnt", Nil) +: kinds.zipWithIndex.flatMap {
        case (ISum(_, _, _), i) => Seq(innerSum(s"__iv$i"))
        case (IAvg(_, _), i) => Seq(innerSum(s"__iv$i"), innerSum(s"__inn$i"))
        case (IMin(_, _), i) => Seq(Agg.Min(s"min___ix$i", s"__ix$i"))
        case (IMax(_, _), i) => Seq(Agg.Max(s"max___ix$i", s"__ix$i"))
        case _ => Nil
      }
      // inner cluster: per-(group, join key) multiplicities + inner
      // sums/extrema, factorized
      val innerAgg = Ghd.aggOverJoin(relsI, groupKeys, innerAggs)
      // each outer side: per-join-key multiplicity + sums/extrema
      // (join-bearing sides recurse through the door like nested blocks)
      var joined = innerAgg
      sides.zipWithIndex.foreach { case (side, j) =>
        var rdf =
          if (side.plan.collectFirst { case jj: Join => jj }.isDefined)
            solvePlan(spark, side.plan)
          else GraftSqlBridge.dataFrame(spark, side.plan)
        side.plan.output.foreach(a =>
          rdf = rdf.withColumnRenamed(a.name, outerNames(a.exprId.id)))
        side.filters.foreach(f =>
          rdf = rdf.where(GraftSqlBridge.column(toVarNames(deRuntime(f)))))
        val extras = kinds.zipWithIndex.flatMap {
          case (OSum(e, `j`, _), i) =>
            Seq(functions.sum(GraftSqlBridge.column(toVarNames(deRuntime(e)))).as(s"__os$i"))
          case (OMin(e, `j`), i) =>
            Seq(functions.min(GraftSqlBridge.column(toVarNames(deRuntime(e)))).as(s"__os$i"))
          case (OMax(e, `j`), i) =>
            Seq(functions.max(GraftSqlBridge.column(toVarNames(deRuntime(e)))).as(s"__os$i"))
          case (OAvg(e, `j`), i) =>
            val v = GraftSqlBridge.column(toVarNames(deRuntime(e)))
            Seq(functions.sum(v).as(s"__os$i"),
              functions.sum(functions.when(v.isNull, 0L).otherwise(1L)).as(s"__on$i"))
          case _ => Nil
        }
        val keyCols = side.keyPairs.zipWithIndex.map { case ((_, o), i) =>
          functions.col(o).as(s"__k${j}_$i")
        }
        val msg = rdf.groupBy(keyCols: _*)
          .agg(functions.count(functions.lit(1)).as(s"__m$j"), extras: _*)
        val joinCond = side.keyPairs.zipWithIndex.map { case ((iv, _), i) =>
          functions.col(iv) === functions.col(s"__k${j}_$i")
        }.reduce(_ && _)
        joined = joined.join(msg, joinCond, "left_outer")
      }
      // weight the messages together: each aggregate multiplies the inner
      // multiplicity by ITS side's term and every OTHER side's match
      // count (max 1 — an unmatched side contributes one null-extended
      // row), through the semiring's typed multiply: a decimal weight
      // stays exact at DECIMAL(38, s). Every other factor is a long
      // count, so the summed column's type `bt` types every step.
      import org.apache.spark.sql.types.{DataType, LongType}
      def typeOf(c: String): DataType = joined.schema(c).dataType
      def multOthers(base: Column, bt: DataType, j: Int): Column =
        sides.indices.filter(_ != j).foldLeft(base) { (c, k) =>
          graft.cqc.Yannakakis.exactTimes(c, bt,
            functions.coalesce(functions.col(s"__m$k"), functions.lit(1L)), LongType)
        }
      def orZero(c: String, isCount: Boolean): Column =
        if (isCount) functions.coalesce(functions.col(c), functions.lit(0L))
        else functions.col(c)
      // widened semiring intermediates cast back to the stock aggregate
      // type (lossless — values are exact), so schemas match stock
      val stockTypes = aggAliases.map { case (al, _) => unwrapCast(al.child)._1.dataType }
      val aggCols = kinds.zip(aggAliases).zipWithIndex.map { case ((k, (_, n)), i) =>
        (k match {
          case CntStar =>
            functions.sum(multOthers(functions.col("cnt"), LongType, -1))
          case OSum(_, j, isCount) =>
            val bt = typeOf(s"__os$i")
            functions.sum(multOthers(graft.cqc.Yannakakis.exactTimes(
              functions.col("cnt"), LongType, orZero(s"__os$i", isCount), bt), bt, j))
          case OMin(_, _) => functions.min(functions.col(s"__os$i"))
          case OMax(_, _) => functions.max(functions.col(s"__os$i"))
          case ISum(_, _, isCount) =>
            // each preserved row appears once per outer match combination:
            // the inner sum (a COUNT's indicator sum) times all sides
            functions.sum(multOthers(
              orZero(s"sum___iv$i", isCount), typeOf(s"sum___iv$i"), -1))
          case IMin(_, _) => functions.min(functions.col(s"min___ix$i"))
          case IMax(_, _) => functions.max(functions.col(s"max___ix$i"))
          case IAvg(_, _) =>
            functions.sum(multOthers(functions.col(s"sum___iv$i"), LongType, -1))
              .cast("double") /
              functions.sum(multOthers(functions.col(s"sum___inn$i"), LongType, -1))
          case OAvg(_, j) =>
            // weighted exact sums; nulls (unmatched sides) drop from the
            // numerator via null products and from the denominator via
            // the coalesced indicator — one exact-over-exact division
            functions.sum(multOthers(functions.col("cnt") *
              functions.col(s"__os$i"), LongType, j)).cast("double") /
              functions.sum(multOthers(functions.col("cnt") *
                functions.coalesce(functions.col(s"__on$i"), functions.lit(0L)), LongType, j))
        }).pipe(_.cast(stockTypes(i)))
          .pipe(c0 => aggCasts(i).map(c0.cast).getOrElse(c0)).as(n)
      }
      trace("routing: eager aggregation under peeled outer join(s) — " +
        "aggregates below the join, never materialized")
      Some(joined.groupBy(gvars.map(functions.col): _*)
        .agg(aggCols.head, aggCols.tail: _*))
    }

    def tryFastAgg(
        groupExprs: Seq[Expression],
        aggAliases: Seq[(Alias, String)]): Option[DataFrame] = {
      // a peeled semi/anti filters ROWS of the join result, which the
      // factorized message-passing aggregates never materialize — the
      // fast paths would aggregate pre-filter multiplicities (r14)
      if (semiJoins.nonEmpty) return None
      if (outerJoins.nonEmpty)
        return tryOuterFastAgg(groupExprs, aggAliases)
      if (cmps.nonEmpty || residual.nonEmpty || subqSpanFilters.nonEmpty ||
        postOuterConjuncts.nonEmpty || isDistinct) return None
      val derivedG = scala.collection.mutable.Map[Int, List[(String, Expression)]]()
        .withDefaultValue(Nil)
      val gvars = groupExprs.zipWithIndex.map {
        case (a: AttributeReference, _) => varName(a.exprId.id)
        case (e, i) =>
          // COMPUTED key living in ONE relation: derive it there and
          // group by the derived column — named __g$i, the same name the
          // generic path and the SELECT/HAVING resolution use
          val ls = e.references.map(a => leafOf(a.exprId.id)).toSet
          if (ls.size != 1 || ls.contains(-1)) return None
          derivedG(ls.head) = (s"__g$i", e) :: derivedG(ls.head)
          s"__g$i"
      }
      val plainG = groupExprs.collect {
        case a: AttributeReference => varName(a.exprId.id)
      }.toSet
      // all group keys (plain + derived homes) must sit on ONE relation
      if (!rels.zipWithIndex.exists { case (r, i) =>
        plainG.subsetOf(r.vars) && derivedG.keys.forall(_ == i)
      }) return None

      sealed trait Kind
      case object CntK extends Kind
      /** Σ of a product of per-leaf factors (one weight column of
        * [[graft.cqc.Yannakakis.aggOverJoin]]): one factor is SUM(x) or
        * COUNT(x)'s null indicator; several are a CROSS-relation product
        * (Σ x_A·y_B — the reference q2 sum shape). */
      case class SumK(factors: Map[Int, Expression]) extends Kind
      case class MinK(leaf: Int, e: Expression) extends Kind
      case class MaxK(leaf: Int, e: Expression) extends Kind
      case class AvgK(leaf: Int, e: Expression) extends Kind
      def oneLeaf(e: Expression): Option[Int] = {
        val ls = e.references.map(a => leafOf(a.exprId.id)).toSet
        if (ls.size == 1) Some(ls.head) else None
      }
      def integral(e: Expression): Boolean = {
        import org.apache.spark.sql.types._
        e.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      }
      def sumSafe(e: Expression): Boolean = {
        // EXACT types only: integrals and decimals. The semiring
        // multiplies row values by per-key subtree weights, which
        // reassociates addition — exact for integers and decimals
        // (scaled-integer arithmetic). Decimal scale is UNRESTRICTED
        // since r16: the semiring runs its decimal weighting on
        // graft.functions.DecimalExact (DECIMAL(38, s) partials — scale
        // never shrinks; magnitude overflow nulls, the stock
        // capped-accumulator class), closing the old scale<=6 decline.
        // A double SUM through the factorized path could differ from
        // stock/DuckDB by an ULP — a silent cross-engine hash mismatch —
        // so doubles stay on the stock-ordered generic path; the
        // programmatic Yannakakis.aggOverJoin API remains the documented
        // opt-in where the caller owns that tradeoff.
        import org.apache.spark.sql.types._
        e.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _: DecimalType => true
          case _ => false
        }
      }
      val aggCasts = aggAliases.map { case (al, _) => unwrapCast(al.child)._2 }
      val kinds: Seq[Kind] = aggAliases.map { case (al, _) =>
        unwrapCast(al.child)._1 match {
          case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
            ae.aggregateFunction match {
              case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count
                  if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
                // foldable AND non-null: COUNT(NULL) is 0, not COUNT(*)
                CntK
              case c: org.apache.spark.sql.catalyst.expressions.aggregate.Count
                  if c.children.size == 1 =>
                // COUNT(expr) = Σ of a null indicator — rides the sum
                // machinery (exact long, same result type as COUNT)
                oneLeaf(c.children.head).map { l =>
                  SumK(Map(l -> indicator(c.children.head)))
                }.getOrElse(return None)
              case s: org.apache.spark.sql.catalyst.expressions.aggregate.Sum
                  if sumSafe(s.child) =>
                oneLeaf(s.child).map(l => SumK(Map(l -> s.child)): Kind).orElse {
                  // cross-relation product: split multiplications into
                  // single-leaf factors (each exact-typed); overlapping
                  // leaves across a split can't merge — generic path
                  def factorLeaves(e: Expression): Option[Map[Int, Expression]] =
                    oneLeaf(e) match {
                      case Some(l) if sumSafe(e) => Some(Map(l -> e))
                      case _ => e match {
                        case m: org.apache.spark.sql.catalyst.expressions.Multiply =>
                          (factorLeaves(m.left), factorLeaves(m.right)) match {
                            case (Some(a), Some(b))
                                if a.keySet.intersect(b.keySet).isEmpty =>
                              Some(a ++ b)
                            case _ => None
                          }
                        case _ => None
                      }
                    }
                  // the message products replay the ROW-LEVEL multiply in
                  // exact arithmetic, so stock's own multiply must have
                  // been unadjusted: a scale below the factor-scale sum
                  // means stock ROUNDED per row (precision cap) and the
                  // exact semiring would diverge — generic path
                  def unadjusted(fs: Map[Int, Expression]): Boolean = {
                    import org.apache.spark.sql.types._
                    s.child.dataType match {
                      case d: DecimalType =>
                        d.scale == fs.values.map(_.dataType match {
                          case dd: DecimalType => dd.scale
                          case _ => 0
                        }).sum
                      case _ => true
                    }
                  }
                  factorLeaves(s.child).filter(unadjusted).map(SumK(_): Kind)
                }.getOrElse(return None)
              case m: org.apache.spark.sql.catalyst.expressions.aggregate.Min =>
                oneLeaf(m.child).map(MinK(_, m.child)).getOrElse(return None)
              case m: org.apache.spark.sql.catalyst.expressions.aggregate.Max =>
                oneLeaf(m.child).map(MaxK(_, m.child)).getOrElse(return None)
              case a: org.apache.spark.sql.catalyst.expressions.aggregate.Average
                  if integral(a.child) =>
                // AVG = exact integral SUM / non-null COUNT, divided once
                // in double — order-independent, so it matches any engine
                // bit-for-bit (a double-typed AVG would depend on summation
                // order). The denominator is a summed NULL-INDICATOR, not
                // the join-row count: SQL AVG divides by the count of
                // non-null values only
                oneLeaf(a.child).map(AvgK(_, a.child)).getOrElse(return None)
              case _ => return None
            }
          case _ => return None // aggregate inside arithmetic: generic path
        }
      }

      // derive one column per aggregated expression on its home relation
      // (a bare attr is the simplest case; this also frees SUM from the
      // shared-join-variable restriction — the derived copy lives in
      // exactly one relation by construction), and name one aggregate of
      // the message pass per kind (AVG: two) after its output column
      val derived = scala.collection.mutable.Map[Int, List[(String, Expression)]]()
        .withDefaultValue(Nil)
      def derive(l: Int, n: String, e: Expression): String = {
        derived(l) = (n, e) :: derived(l)
        n
      }
      val aggs = kinds.zipWithIndex.flatMap {
        case (CntK, _) => Seq(Agg.Sum("cnt", Nil))
        case (SumK(fs), i) =>
          Seq(Agg.Sum(s"__s$i", fs.toSeq.sortBy(_._1).map { case (l, e) =>
            derive(l, s"__sv${i}_$l", e)
          }))
        case (AvgK(l, e), i) =>
          // value sum + non-null indicator sum: AVG = Σv / Σ(v IS NOT NULL)
          Seq(Agg.Sum(s"__s$i", Seq(derive(l, s"__sv$i", e))),
            Agg.Sum(s"__nn$i", Seq(derive(l, s"__nnv$i", indicator(e)))))
        case (MinK(l, e), i) => Seq(Agg.Min(s"__s$i", derive(l, s"__mv$i", e)))
        case (MaxK(l, e), i) => Seq(Agg.Max(s"__s$i", derive(l, s"__mv$i", e)))
      }.distinct
      val rels2 = rels.zipWithIndex.map { case (r, i) =>
        // deRuntime first: a RuntimeReplaceable (NULLIF, ...) analyzes to
        // a With node whose defs break on attr renaming
        Rel(r.name, (derived(i) ++ derivedG(i)).foldLeft(r.df) { case (df, (n, e)) =>
          df.withColumn(n, GraftSqlBridge.column(toVarNames(deRuntime(e))))
        })
      }

      // ONE message pass for every aggregate: counts, sums, products and
      // extrema share the same per-edge aggregates (one shuffle per tree
      // edge, total). A CYCLIC body decomposes to certificate bags first
      // (after the derived columns, so aggregated expressions live in
      // exactly one member) — the bag-level semiring: the core stays at
      // the AGM bound and the aggregate still factorizes across the bag
      // tree.
      val agg = Ghd.aggOverJoin(rels2, gvars, aggs)
      trace("routing: factorized aggregate fast path (FAQ/AJAR message " +
        "passing; join never enumerated) — kinds: " +
        kinds.map(_.getClass.getSimpleName.stripSuffix("$")).mkString(", "))
      // global COUNT over an empty join is 0, not null
      def cnt = if (gvars.isEmpty)
        functions.coalesce(functions.col("cnt"), functions.lit(0L))
      else functions.col("cnt")
      // factorized intermediates may widen the type (decimal precision
      // grows under the semiring's exact multiply): cast each output back
      // to the STOCK aggregate's result type — values are exact, so the
      // cast is lossless and the schema matches stock
      val stockTypes = aggAliases.map { case (al, _) => unwrapCast(al.child)._1.dataType }
      val outCols = gvars.map(functions.col) ++
        kinds.zip(aggAliases).zipWithIndex.map { case ((k, (_, n)), i) =>
          (k match {
            case CntK => cnt
            case _: AvgK =>
              functions.col(s"__s$i").cast("double") / functions.col(s"__nn$i")
            case _ => functions.col(s"__s$i")
          }).pipe(_.cast(stockTypes(i)))
            .pipe(c0 => aggCasts(i).map(c0.cast).getOrElse(c0)).as(n)
        }
      Some(agg.select(outCols: _*))
    }

    // ---- ranked-join routing (the reference reaches convert/TopK from
    // its SQL door): `ORDER BY <sum of one rank attr per relation> DESC
    // [, <selected attr> ASC]* LIMIT k` over a plain inner chain routes
    // to [[graft.topk.RankJoin.topKChainExact]] — per-key-pruned
    // intermediates bounded near k·|keys| instead of the full
    // enumeration feeding a sort. Terms must appear in relation order
    // (one per relation, textual order = chain order), which also keeps
    // double addition in stock left-associative order.
    def tryRankedChain(): Option[DataFrame] = {
      val (sortOrders0, limitOpt, offsetN0) = sortLimit
      if (limitOpt.isEmpty || sortOrders0.isEmpty || aggInfo.isDefined || isDistinct ||
        windowDefs.nonEmpty || outerJoins.nonEmpty || semiJoins.nonEmpty ||
        cmps.nonEmpty || residual.nonEmpty || subqSpanFilters.nonEmpty ||
        postOuterConjuncts.nonEmpty || leaves.size < 2) return None
      // paging: prune deep enough to rank everything under offset+limit;
      // the tail re-applies ORDER BY / OFFSET / LIMIT on this frame
      val k = limitOpt.get + offsetN0
      import org.apache.spark.sql.catalyst.expressions.{Add, Ascending, Descending, NullsFirst, NullsLast}
      val head = sortOrders0.head
      if (head.direction != Descending || head.nullOrdering != NullsLast) return None
      if (sortOrders0.tail.exists(so =>
        so.direction != Ascending || so.nullOrdering != NullsFirst)) return None
      val rankAlias = head.child match {
        case a: AttributeReference =>
          projectList.collectFirst {
            case al: Alias if al.exprId == a.exprId => al
          }.getOrElse(return None)
        case _ => return None
      }
      def terms(e: Expression): Seq[Expression] = e match {
        case Add(l, r, _) => terms(l) ++ terms(r)
        case other => Seq(other)
      }
      val ts = terms(rankAlias.child).map { t =>
        val ls = t.references.map(a => leafOf(a.exprId.id)).toSet
        if (ls.size != 1) return None
        (ls.head, t)
      }
      // one term per relation, strictly in relation order, spanning >= 2
      if (ts.size < 2 || ts.map(_._1) != ts.map(_._1).distinct.sorted) return None
      val perLeaf = ts.toMap
      val tieVars = sortOrders0.tail.map { so =>
        so.child match {
          case a: AttributeReference =>
            projectList.collectFirst {
              case al @ Alias(c: AttributeReference, _) if al.exprId == a.exprId =>
                varName(c.exprId.id)
              case ar: AttributeReference if ar.exprId == a.exprId =>
                varName(ar.exprId.id)
            }.getOrElse(return None)
          case _ => return None
        }
      }
      val outCols = projectList.map {
        case al: Alias if al.exprId == rankAlias.exprId =>
          functions.col("total_rank").as(al.name)
        case al @ Alias(c: AttributeReference, name) =>
          functions.col(varName(c.exprId.id)).as(name)
        case a: AttributeReference => functions.col(varName(a.exprId.id)).as(a.name)
        case _ => return None
      }
      for (i <- 0 until rels.size - 1)
        if (rels(i).vars.intersect(rels(i + 1).vars).isEmpty) return None
      val rels3 = rels.zipWithIndex.map { case (r, i) =>
        val rk = perLeaf.get(i)
          .map(e => GraftSqlBridge.column(toVarNames(deRuntime(e))))
          .getOrElse(functions.lit(0L): Column)
        r.df.withColumn(s"__rk$i", rk)
      }
      val chained = graft.topk.RankJoin.topKChainExact(
        rels3, rels.indices.map(i => s"__rk$i"), k,
        tieVars.map(functions.col(_).asc))
      Some(chained.select(outCols: _*))
    }

    val rankedChain = tryRankedChain()
    if (rankedChain.isDefined)
      trace("routing: ranked chain top-k (per-key cum-rank prune; no full enumeration)")

    val (resBase, finalNamed): (DataFrame, Seq[NamedExpression]) = aggInfo match {
      case Some((groupExprs, aggExprs)) => try {
        // ---- GROUP BY / HAVING over the CQC join result. The aggregate
        // itself is a plain Catalyst hash aggregate (partial + final) on
        // top of the reduced, comparison-pruned enumeration.
        // COMPUTED group keys (GROUP BY src % 5) get a stable internal
        // name — the SELECT/HAVING cannot re-compute them on the
        // aggregated frame (the underlying columns are gone)
        val computedGroup = groupExprs.exists(!_.isInstanceOf[AttributeReference])
        def groupRef(e: Expression): Option[Column] =
          if (!computedGroup) None
          else groupExprs.zipWithIndex.find(_._1.semanticEquals(e))
            .map { case (_, i) => functions.col(s"__g$i") }
        val gcols = groupExprs.zipWithIndex.map { case (e, i) =>
          val c = GraftSqlBridge.column(toVarNames(e))
          // rename COMPUTED keys only: plain attribute keys keep their
          // variable names, which the SELECT resolution expects
          if (e.isInstanceOf[AttributeReference]) c else c.as(s"__g$i")
        }
        // internal sanitized names: the analyzer's helper aliases can be
        // named `count(1)`, which col()/UnresolvedAttribute cannot parse
        val aggAliases = aggExprs.zipWithIndex.collect {
          case (al: Alias, i) if al.exists(_.isInstanceOf[AggregateExpression]) =>
            (al, s"__agg$i")
        }
        require(aggAliases.nonEmpty,
          "GROUP BY without aggregate functions — use SELECT DISTINCT instead")
        var agg = tryFastAgg(groupExprs, aggAliases).getOrElse {
          trace(s"routing: $enumRouteLine + hash aggregate")
          val acols = aggAliases.map { case (al, n) =>
            GraftSqlBridge.column(toVarNames(al.child)).as(n)
          }
          enumerated.groupBy(gcols: _*).agg(acols.head, acols.tail: _*)
        }
        // agg outputs are addressable by internal name; group keys by var
        // name; grouping-column ALIASES (SELECT g1.src AS a ... GROUP BY
        // g1.src) resolve through to the underlying variable
        val aliasNames = aggAliases.map { case (al, n) => al.exprId.id -> n }.toMap ++
          aggExprs.collect {
            case al @ Alias(c: AttributeReference, _) => al.exprId.id -> varName(c.exprId.id)
          }.toMap ++
          // a HAVING/ORDER BY referencing a COMPUTED group key does so
          // through the Aggregate's output attribute — map it to the
          // derived __g$i column, not through the (absent) leaf vars
          (if (!computedGroup) Map.empty[Long, String]
          else aggExprs.collect {
            case al: Alias if groupExprs.exists(_.semanticEquals(al.child)) =>
              al.exprId.id -> s"__g${groupExprs.indexWhere(_.semanticEquals(al.child))}"
          }.toMap)
        def toOutNames(e: Expression): Expression = {
          // computed group subtrees first (they only exist as __g$i on
          // the aggregated frame), then attribute renames
          val pre = if (!computedGroup) e else e.transformDown {
            case x if groupExprs.exists(_.semanticEquals(x)) =>
              val i = groupExprs.indexWhere(_.semanticEquals(x))
              UnresolvedAttribute(s"__g$i")
          }
          pre.transform {
            case a: AttributeReference =>
              UnresolvedAttribute(aliasNames.getOrElse(a.exprId.id, varName(a.exprId.id)))
          }
        }
        havingConds.foreach(c => agg = agg.where(GraftSqlBridge.column(toOutNames(c))))
        val finalList = outerProj.getOrElse(aggExprs)
        val cols = finalList.map {
          case a: AttributeReference =>
            functions.col(aliasNames.getOrElse(a.exprId.id, varName(a.exprId.id))).as(a.name)
          case Alias(c: AttributeReference, name) =>
            functions.col(aliasNames.getOrElse(c.exprId.id, varName(c.exprId.id))).as(name)
          case al: Alias if groupRef(al.child).isDefined =>
            groupRef(al.child).get.as(al.name)
          case al: Alias if aliasNames.contains(al.exprId.id) =>
            functions.col(aliasNames(al.exprId.id)).as(al.name)
          case other => GraftSqlBridge.column(toOutNames(other))
        }
        (agg.select(cols: _*), finalList)
      } catch {
        // an aggregate whose expressions cannot be rebuilt over the
        // renamed frame (e.g. PIVOT's pivotfirst calls dataType on its
        // children DURING transform, so attr renaming itself throws) —
        // stock evaluation, never a crash
        case scala.util.control.NonFatal(e) =>
          trace(s"routing: stock fallback (aggregate rebuild failed: ${e.getClass.getSimpleName})")
          return GraftSqlBridge.dataFrame(spark, analyzed)
      }

      case None if rankedChain.isDefined =>
        (rankedChain.get, projectList)

      case None =>
        // ---- final projection with the SELECT's names; peeled window
        // expressions and helper aliases substitute in by exprId first
        val windowByld: Map[Long, Expression] = windowDefs.collect {
          case al: Alias => al.exprId.id -> al.child
        }.toMap
        def resolveTop(e: Expression): Expression = e.transformUp {
          case a: AttributeReference if windowByld.contains(a.exprId.id) =>
            resolveTop(windowByld(a.exprId.id))
          case a: AttributeReference if helperAliases.contains(a.exprId.id) =>
            resolveTop(helperAliases(a.exprId.id))
        }
        // a WindowExpression cannot be attr-renamed by transform (rank-
        // like functions eagerly call dataType on their injected order
        // children) — rebuild it through the Column DSL instead
        def windowColumn(
            we: org.apache.spark.sql.catalyst.expressions.WindowExpression): Column = {
          import org.apache.spark.sql.catalyst.expressions.{CumeDist, CurrentRow, DenseRank, NTile, PercentRank, Rank, RangeFrame, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression}
          import org.apache.spark.sql.expressions.{Window => WinDsl}
          val sd = we.windowSpec
          def c(e: Expression): Column =
            GraftSqlBridge.column(toVarNames(resolveTop(e)))
          var spec = WinDsl.partitionBy(sd.partitionSpec.map(c): _*)
          if (sd.orderSpec.nonEmpty) spec = spec.orderBy(sd.orderSpec.map { so =>
            // unwrap the SortOrder: orderBy wraps its Columns itself
            import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsFirst}
            val base = c(so.child)
            (so.direction == Ascending, so.nullOrdering == NullsFirst) match {
              case (true, true) => base.asc_nulls_first
              case (true, false) => base.asc_nulls_last
              case (false, true) => base.desc_nulls_first
              case (false, false) => base.desc_nulls_last
            }
          }: _*)
          // 'n PRECEDING' reaches the ANALYZED plan as UnaryMinus(Literal(n))
          // (constant folding is an optimizer rule) — any foldable numeric
          // bound evaluates here; a non-reproducible bound (e.g. a RANGE
          // interval) must NOT be silently dropped, or the aggregate runs
          // under the wrong frame — it aborts the door instead (see below)
          def boundVal(e: Expression): Option[Long] = e match {
            case UnboundedPreceding => Some(WinDsl.unboundedPreceding)
            case UnboundedFollowing => Some(WinDsl.unboundedFollowing)
            case CurrentRow => Some(WinDsl.currentRow)
            case _ if e.foldable =>
              // dataType check is load-bearing: an INTERVAL bound's
              // internal value is also a Long (micros) but means a RANGE
              // duration the DSL cannot express — only true integral
              // literals are row/range offsets
              e.dataType match {
                case org.apache.spark.sql.types.ByteType |
                    org.apache.spark.sql.types.ShortType |
                    org.apache.spark.sql.types.IntegerType |
                    org.apache.spark.sql.types.LongType =>
                  e.eval() match {
                    case i: Int => Some(i.toLong)
                    case l: Long => Some(l)
                    case s: Short => Some(s.toLong)
                    case b: Byte => Some(b.toLong)
                    case _ => None
                  }
                case _ => None
              }
            case _ => None
          }
          // frames only apply to aggregates (rank-likes reject explicit
          // frames; their analyzer-assigned frame IS the DSL default)
          if (we.windowFunction.isInstanceOf[AggregateExpression])
            sd.frameSpecification match {
              case f: SpecifiedWindowFrame =>
                (boundVal(f.lower), boundVal(f.upper)) match {
                  case (Some(lo), Some(hi)) if f.frameType == RowFrame =>
                    spec = spec.rowsBetween(lo, hi)
                  case (Some(lo), Some(hi)) if f.frameType == RangeFrame =>
                    spec = spec.rangeBetween(lo, hi)
                  case _ => throw new UnsupportedFrame
                }
              case _ => ()
            }
          val fn: Column = we.windowFunction match {
            case _: RowNumber => functions.row_number()
            case _: Rank => functions.rank()
            case _: DenseRank => functions.dense_rank()
            case _: PercentRank => functions.percent_rank()
            case _: CumeDist => functions.cume_dist()
            case nt: NTile => nt.buckets match {
              case Literal(b: Int, _) => functions.ntile(b)
              case _ => throw new IllegalArgumentException("non-literal ntile")
            }
            case other => c(other)
          }
          fn.over(spec)
        }
        // a window frame windowColumn cannot reproduce aborts the door:
        // stock evaluation of the whole query (correct, not accelerated)
        // beats a silently-wrong default frame
        val cols = try projectList.map { ne =>
          val (target, name) = ne match {
            case Alias(c, n) => (c, n)
            case other => (other: Expression, other.name)
          }
          resolveTop(target) match {
            case a: AttributeReference => functions.col(varName(a.exprId.id)).as(name)
            case we: org.apache.spark.sql.catalyst.expressions.WindowExpression =>
              windowColumn(we).as(name)
            case other => GraftSqlBridge.column(toVarNames(other)).as(name)
          }
        } catch {
          case _: UnsupportedFrame =>
            trace("routing: stock fallback (unsupported window frame)")
            return GraftSqlBridge.dataFrame(spark, analyzed)
          case scala.util.control.NonFatal(e)
              if windowDefs.nonEmpty =>
            // rank-like window functions eagerly call dataType while an
            // expression tree is being rebuilt (e.g. RANK() ordered by an
            // aggregate) — any window re-application failure must mean
            // stock evaluation of the whole query, never a crash
            trace(s"routing: stock fallback (window rebuild failed: ${e.getClass.getSimpleName})")
            return GraftSqlBridge.dataFrame(spark, analyzed)
        }
        trace(s"routing: $enumRouteLine")
        (enumerated.select(cols: _*), projectList)
    }

    // ---- re-apply DISTINCT / ORDER BY / LIMIT on the final frame.
    // An ORDER BY referencing a NON-selected column cannot be re-applied
    // on the projected frame — fall back to stock evaluation of the whole
    // query (correct, not CQC-accelerated) instead of failing.
    val (sortOrders, limitN, offsetN) = sortLimit
    if (sortOrders.exists(_.references.exists(a =>
      !finalNamed.exists(_.exprId == a.exprId)))) {
      trace("routing: stock fallback (ORDER BY references non-selected column)")
      return GraftSqlBridge.dataFrame(spark, analyzed)
    }
    var res = if (isDistinct) resBase.distinct() else resBase
    if (sortOrders.nonEmpty) {
      val finalNames = finalNamed.map(ne => ne.exprId.id -> ne.name).toMap
      val scols = sortOrders.map { so =>
        GraftSqlBridge.column(so.transform {
          case a: AttributeReference =>
            // quoted: an analyzer helper name like `sum(g2.dst)` contains
            // dots/parens — the parsing form would read it as a nested
            // multi-part identifier
            UnresolvedAttribute.quoted(finalNames.getOrElse(a.exprId.id,
              throw new IllegalArgumentException(
                "ORDER BY must reference selected columns")))
        })
      }
      res = res.orderBy(scols: _*)
    }
    if (offsetN > 0) res = res.offset(offsetN)
    limitN.foreach(n => res = res.limit(n))
    res
  }

  /** Re-apply the peeled DISTINCT / ORDER BY / LIMIT / OFFSET on a frame
    * whose columns carry `outAttrs`' names (set-op and grouping-set
    * routes). None = a sort reference is not among the output attrs —
    * the caller falls back to stock evaluation. */
  private def finishTop(
      combined: DataFrame,
      outAttrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      sortLimit: (Seq[SortOrder], Option[Int], Int),
      isDistinct: Boolean): Option[DataFrame] = {
    val (sortOrders, limitN, offsetN) = sortLimit
    val names = outAttrs.map(a => a.exprId.id -> a.name).toMap
    if (sortOrders.exists(_.references.exists(a => !names.contains(a.exprId.id))))
      return None
    var res = if (isDistinct) combined.distinct() else combined
    if (sortOrders.nonEmpty) {
      val scols = sortOrders.map { so =>
        GraftSqlBridge.column(so.transform {
          case a: AttributeReference => UnresolvedAttribute.quoted(names(a.exprId.id))
        })
      }
      res = res.orderBy(scols: _*)
    }
    if (offsetN > 0) res = res.offset(offsetN)
    limitN.foreach(n => res = res.limit(n))
    Some(res)
  }

  /** Grouping-sets fast path: compute the finest-granularity aggregate
    * through the door (factorized when the shape allows), then
    * re-aggregate the decomposable partials per grouping set. Exact for
    * COUNT / SUM (integral + decimal p≤18) / MIN / MAX / AVG (integral,
    * |sum| < 2^53 — the same double-integer-exactness stock Spark's own
    * average buffer relies on). None = shape not covered (DISTINCT /
    * FILTER aggregates, double sums, decimal averages, no full grouping
    * set in the Expand) — caller continues to the generic path. */
  private def tryRollupFast(
      spark: SparkSession,
      agg: Aggregate,
      exp: org.apache.spark.sql.catalyst.plans.logical.Expand): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Count, Max, Min, Sum}
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    val ge = agg.groupingExpressions
    val ae = agg.aggregateExpressions

    val gidAttr = ge.collectFirst {
      case a: AttributeReference if a.name == "spark_grouping_id" => a
    }.getOrElse(return None)
    if (!ge.forall(_.isInstanceOf[AttributeReference])) return None
    val keyAttrs = ge.collect {
      case a: AttributeReference if a.exprId != gidAttr.exprId => a
    }

    val outIds = exp.output.map(_.exprId)
    val keyPos = keyAttrs.map(a => outIds.indexOf(a.exprId))
    val gidPos = outIds.indexOf(gidAttr.exprId)
    if (keyPos.exists(_ < 0) || gidPos < 0) return None

    // grouping sets: (grouping id literal, which keys are kept)
    val sets: Seq[(Literal, Seq[Boolean])] = exp.projections.map { proj =>
      val gid = proj(gidPos) match {
        case l @ Literal(v, _) if v != null => l
        case _ => return None
      }
      (gid, keyPos.map(p => proj(p) match {
        case Literal(null, _) => false
        case _ => true
      }))
    }
    val fullProj = sets.indexWhere(_._2.forall(identity)) match {
      case -1 => return None // no finest set to decompose from
      case i => exp.projections(i)
    }

    // strip the helper Project the analyzer puts under Expand (child
    // cols pass through; grouping exprs are aliased) so the inner
    // aggregate sits directly on the join and the door can flatten it
    val (innerChild, substMap) = exp.child match {
      case Project(pl, c) =>
        (c, pl.collect { case al: Alias => al.exprId -> al.child }.toMap)
      case other =>
        (other, Map.empty[org.apache.spark.sql.catalyst.expressions.ExprId, Expression])
    }
    def subst(e: Expression): Expression = e.transform {
      case a: AttributeReference if substMap.contains(a.exprId) => substMap(a.exprId)
    }
    val srcKeyExprs = keyPos.map(p => subst(fullProj(p)))

    // distinct aggregate calls in SELECT order; each maps to partial
    // column(s) in the inner aggregate and one re-aggregated "__r" column
    val aggCalls = scala.collection.mutable.ArrayBuffer[AggregateExpression]()
    ae.foreach(_.foreach {
      case x: AggregateExpression =>
        if (!aggCalls.exists(_.canonicalized == x.canonicalized)) aggCalls += x
      case _ => ()
    })
    if (aggCalls.isEmpty ||
      aggCalls.exists(x => x.isDistinct || x.filter.isDefined)) return None
    val integral = Set[org.apache.spark.sql.types.DataType](ByteType, ShortType, IntegerType, LongType)

    val innerPartials = scala.collection.mutable.ArrayBuffer[NamedExpression]()
    // per aggregate call: re-agg Column over the per-set groupBy
    val reaggs = scala.collection.mutable.ArrayBuffer[Column]()
    aggCalls.zipWithIndex.foreach { case (x, j) =>
      // fresh resultIds — the avg case derives TWO partials from one call
      def partial(name: String,
          fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Unit =
        innerPartials += Alias(AggregateExpression(fn, x.mode, isDistinct = false, filter = None), name)()
      x.aggregateFunction match {
        case c: Count =>
          partial(s"__p$j", c)
          reaggs += functions.sum(functions.col(s"__p$j")).cast(x.dataType).as(s"__r$j")
        case s: Sum if integral.contains(s.child.dataType) ||
            (s.child.dataType match {
              case d: DecimalType => d.precision <= 18
              case _ => false
            }) =>
          partial(s"__p$j", s)
          reaggs += functions.sum(functions.col(s"__p$j")).cast(x.dataType).as(s"__r$j")
        case m: Min =>
          partial(s"__p$j", m)
          reaggs += functions.min(functions.col(s"__p$j")).as(s"__r$j")
        case m: Max =>
          partial(s"__p$j", m)
          reaggs += functions.max(functions.col(s"__p$j")).as(s"__r$j")
        case a: Average if integral.contains(a.child.dataType) =>
          // Spark's own integral average accumulates an integer-valued
          // double sum — exact below 2^53, so sum-of-longs ÷ count
          // reproduces it bit-for-bit in that range
          partial(s"__p${j}s", Sum(a.child))
          partial(s"__p${j}c", Count(Seq(a.child)))
          reaggs += (functions.sum(functions.col(s"__p${j}s")).cast("double") /
            functions.sum(functions.col(s"__p${j}c")).cast("double")).as(s"__r$j")
        case _ => return None
      }
    }

    trace("routing: grouping-sets rollup over pre-aggregated partials " +
      s"(${sets.size} sets; inner aggregate through the door)")
    val keyAliases = srcKeyExprs.zipWithIndex.map { case (e, i) => Alias(e, s"__k$i")() }
    val innerAgg = agg.copy(groupingExpressions = srcKeyExprs,
      aggregateExpressions = keyAliases ++ innerPartials, child = innerChild)
    val baseDf = solvePlan(spark, innerAgg)

    val perSet = sets.map { case (gid, kept) =>
      // __gid rides inside the groupBy so an EMPTY input yields zero
      // rows for every set — including the global one — exactly as the
      // keyed-by-gid stock aggregate does
      var df = baseDf.withColumn("__gid", GraftSqlBridge.column(gid))
      val keptCols = kept.zipWithIndex.collect { case (true, i) => functions.col(s"__k$i") }
      df = df.groupBy(keptCols :+ functions.col("__gid"): _*)
        .agg(reaggs.head, reaggs.tail.toSeq: _*)
      kept.zipWithIndex.foreach { case (k, i) =>
        if (!k) df = df.withColumn(s"__k$i", functions.lit(null).cast(keyAttrs(i).dataType))
      }
      df.select((keyAttrs.indices.map(i => functions.col(s"__k$i")) :+
        functions.col("__gid")) ++ reaggs.indices.map(j => functions.col(s"__r$j")): _*)
    }
    val combined = perSet.reduce(_ unionByName _)

    // final SELECT: aggregate calls → their re-aggregated columns, key /
    // grouping-id refs → the per-set columns (GROUPING()/GROUPING_ID()
    // are plain expressions over the gid attr and transform through)
    val keyName = keyAttrs.zipWithIndex.map { case (a, i) => a.exprId.id -> s"__k$i" }.toMap
    val outCols = ae.map { ne =>
      val e2 = ne.transformUp {
        case x: AggregateExpression =>
          val j = aggCalls.indexWhere(_.canonicalized == x.canonicalized)
          UnresolvedAttribute.quoted(s"__r$j")
        case a: AttributeReference if a.exprId == gidAttr.exprId =>
          UnresolvedAttribute.quoted("__gid")
        case a: AttributeReference if keyName.contains(a.exprId.id) =>
          UnresolvedAttribute.quoted(keyName(a.exprId.id))
      }
      GraftSqlBridge.column(e2).as(ne.name)
    }
    Some(combined.select(outCols: _*))
  }
}
