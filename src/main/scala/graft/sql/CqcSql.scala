package graft.sql

import org.apache.spark.sql.{functions, Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, BinaryComparison, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression, PlanExpression, PredicateHelper, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Expand, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Offset, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType}

import scala.util.chaining._
import scala.util.control.NonFatal

import graft.cqc.{Agg, Cmp, Hypergraph, JoinTree, Rel, Yannakakis}
import graft.wcoj.Ghd

/**
 * SQL-text front door to the CQC engine (the reference's main entry:
 * Calcite parse → LogicalPlanConverter → CQC compile, sqlplus-core
 * parser/ + convert/). graft reuses Spark's own parser/analyzer and
 * compiles the ANALYZED plan of `spark.sql(text)` in explicit stages:
 *
 *  1. [[DoorQuery.analyse]] peels the plan once: ORDER BY / LIMIT /
 *     OFFSET and DISTINCT off the top, then (for the first route that
 *     reads it) the main block — aggregate, window chain, peeled outer
 *     and semi joins, leaves, attribute-equivalence classes, [[Cmp]]
 *     comparisons, residuals, leaf filters, relations ([[JoinBlock]]).
 *  2. A fixed, ordered route table; each route builds the frame or
 *     declines with a [[Decline]]:
 *     - set operation — each UNION / INTERSECT / EXCEPT branch through
 *       the door;
 *     - grouping-sets rollup — ROLLUP / CUBE / GROUPING SETS rolled up
 *       from one finest-grouping aggregate through the door;
 *     - outer factorized aggregate — GROUP BY aggregated below peeled
 *       LEFT / RIGHT OUTER joins;
 *     - factorized aggregate — GROUP BY as one message pass over the
 *       join tree ([[graft.cqc.Yannakakis.aggOverJoin]]);
 *     - ranked chain — `ORDER BY <rank sum> DESC LIMIT k` over an inner
 *       chain ([[graft.topk.RankJoin.topKChainExact]]);
 *     - enumeration — [[graft.wcoj.Ghd]]/Yannakakis (semijoin reduction,
 *       fused comparison bounds, output-sensitive enumeration; GHD bags
 *       when cyclic) under a hash aggregate or the SELECT list with its
 *       window functions re-applied;
 *     - stock — Spark evaluates the whole analysed plan.
 *  3. One [[RouteRecord]] per block — the route taken, each decline, the
 *     rewrites, the body and its join tree, nested blocks' records — read
 *     by [[explain]] and every inspection surface.
 *
 * Single-relation predicates are pushed into their leaf; comparisons
 * whose sides each live in one relation (bare attrs OR computed
 * expressions — the reference q2/q10 shape) become [[Cmp]] annotations;
 * anything else (disjunctions, multi-relation sides) applies at the first
 * enumeration join where its variables are bound. LEFT OUTER joins are
 * peeled off the join root and re-applied to the CQC result (the
 * reference Q13 routing). ORDER BY+LIMIT plan as TakeOrderedAndProject.
 */
object CqcSql extends PredicateHelper {

  /** Signals a window frame the Column DSL cannot reproduce — the
    * enumeration route declines to stock. */
  private final class UnsupportedFrame extends RuntimeException

  /** Reserved name prefix for correlated-span interior rebinds (r17):
    * the routing gate declines any subquery whose own relations output
    * a column with this prefix, so inner-scope-first resolution of the
    * rebound names can never capture. */
  private[sql] val spanPrefix = "__sqspan_"

  def solve(spark: SparkSession, sql: String): DataFrame = route(spark, sql)._1

  /** [[solve]], with the [[RouteRecord]] of the run. The record also
    * rides the returned frame ([[recordOf]]). */
  def route(spark: SparkSession, sql: String): (DataFrame, RouteRecord) = {
    val (df, rec) = qualifySplit(sql) match {
      case Some((rewritten, qcol)) =>
        // QUALIFY: the window predicate rides the select list as a
        // boolean carrier (the door's window peel routes it), the frame
        // filters on it and drops it — see [[qualifySplit]]
        val (df, rec) = route(spark, rewritten)
        (df.drop(qcol), rec.copy(notes =
          "QUALIFY clause: predicate moved to select-list carrier + post-filter" +: rec.notes))
      case None =>
        val analyzed = spark.sql(sql).queryExecution.analyzed
        hintedRoot(sql, analyzed) match {
          case Some(r) if Hypergraph.activeRootHint.isEmpty =>
            Hypergraph.withRootHint(r)(solvePlan(spark, analyzed))
          case _ => solvePlan(spark, analyzed)
        }
    }
    df.queryExecution.analyzed.setTagValue(recordTag, rec)
    (df, rec)
  }

  private val recordTag = TreeNodeTag[RouteRecord]("graft.sql.route")

  /** The record of the door run that built `df`, when `df` is a frame
    * [[solve]] or [[route]] returned. */
  def recordOf(df: DataFrame): Option[RouteRecord] =
    df.queryExecution.analyzed.getTagValue(recordTag)

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

  private def hintedRoot(sql: String, analyzed: LogicalPlan): Option[String] =
    rootHintRe.findFirstMatchIn(sql).map { m =>
      val want = m.group(1)
      if (want.matches("(?i)r\\d+")) want.toLowerCase
      else {
        // FROM aliases resolve positionally: leaf SubqueryAliases in
        // left-to-right DFS order mirror flatten's r0, r1, … numbering.
        // A miss (or an offset from peeled outer shapes) degrades to the
        // cost pick / a different valid root — rerooting never changes
        // results (spec'd), so this is best-effort by design.
        val leafAliases = scala.collection.mutable.ArrayBuffer[String]()
        def walk(p: LogicalPlan): Unit = p match {
          case SubqueryAlias(id, child) =>
            if (!hasJoin(child)) leafAliases += id.name
            else walk(child)
          case other => other.children.foreach(walk)
        }
        walk(analyzed)
        val i = leafAliases.indexWhere(_.equalsIgnoreCase(want))
        if (i >= 0) s"r$i" else want
      }
    }

  // ---- dry-run surfaces (the reference's DryRunHandler/compile artifact
  // at the semantic level: what plan WOULD run, without running it). The
  // door only constructs lazy frames; [[inspect]] reads the record and
  // then releases every frame the run persisted.

  /** Run the door over `sql` as a dry run: `read` sees the record, then
    * the frames this run persisted (the keyed-aggregate fold, the reduced
    * relations) are released, so a dry run leaves no cache entry behind.
    * Honors QUALIFY and a `/*+ ROOT(x) */` comment like execution. */
  private[sql] def inspect[A](spark: SparkSession, sql: String)(read: RouteRecord => A): A = {
    val mark = graft.CacheRegistry.mark
    try read(route(spark, sql)._2)
    finally graft.CacheRegistry.releaseSince(mark)
  }

  /** Dry-run: the textual plan dump — the chosen join tree (root, edges,
    * shared variables, size estimates), comparison bound carriers, and
    * the routed execution path ([[RouteRecord.render]]). */
  def explain(spark: SparkSession, sql: String): String = inspect(spark, sql)(_.render)

  /** The decomposed conjunctive body (hyperedges) of the OUTERMOST query
    * block; empty when the text falls back to stock before decomposition. */
  def relations(spark: SparkSession, sql: String): Seq[Rel] = structure(spark, sql)._1

  /** The comparison predicates (bound carriers) of the OUTERMOST block —
    * the hyperedges of the reference's comparison hypergraph
    * (sqlplus-core graph/ComparisonHyperGraph.scala). */
  def comparisons(spark: SparkSession, sql: String): Seq[Cmp] = structure(spark, sql)._2

  /** Relations AND comparisons of the outermost block from ONE planning
    * run — variable names are exprId-derived and differ between runs,
    * so a comparison's side refs only resolve against the rels of the
    * SAME run ([[homeOf]]). */
  def structure(spark: SparkSession, sql: String): (Seq[Rel], Seq[Cmp]) =
    inspect(spark, sql)(body)

  private def body(rec: RouteRecord): (Seq[Rel], Seq[Cmp]) =
    rec.outermost.fold((Seq.empty[Rel], Seq.empty[Cmp]))(o => (o.rels, o.cmps))

  /** The relation of `rels` carrying every variable a comparison side
    * references (None for a residual-shaped side — by construction
    * [[comparisons]] only emits sides confined to one leaf, but the
    * fold may have merged that leaf away). */
  def homeOf(rels: Seq[Rel], sideRefs: Set[String]): Option[Rel] =
    rels.find(r => sideRefs.subsetOf(r.vars))

  /** Every candidate join tree for an acyclic body — (root name,
    * describe dump) per candidate; empty for cyclic bodies (GHD picks
    * bags by coverage, there is no rerooting choice to offer).
    * Reference: sqlplus-web's candidate list feeding its tree pick. */
  def candidates(spark: SparkSession, sql: String): Seq[(String, String)] =
    inspect(spark, sql) { rec =>
      val rels = body(rec)._1
      if (rels.size < 2) Seq.empty
      else Hypergraph.candidateTrees(rels).map(t => t.root -> t.describe)
    }

  /** [[solve]] with the enumeration join tree rooted at `root` (a name
    * from [[candidates]]) — the candidate-pick execution path. */
  def solveWithRoot(spark: SparkSession, sql: String, root: String): DataFrame =
    Hypergraph.withRootHint(root)(solve(spark, sql))

  /** Escape backslashes and double quotes for a double-quoted DOT string
    * (a comparison side can carry a bound like `c_name <> "x\"y"`). */
  private def dotq(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Graphviz DOT dump of the query hypergraph (box = relation
    * hyperedge, ellipse = variable), comparisons drawn as dashed labeled
    * edges between the relations carrying their sides — sqlplus-web's
    * hypergraph + comparison rendering (springboot dto/HyperGraph.java). */
  def hypergraphDot(spark: SparkSession, sql: String): String = inspect(spark, sql) { rec =>
    val (rels, cmps) = body(rec)
    val vars = rels.flatMap(_.vars).distinct.sorted
    val sb = new StringBuilder("graph hypergraph {\n")
    sb.append("  node [shape=box, style=filled, fillcolor=lightblue];\n")
    rels.foreach { r =>
      sb.append(s"""  "${dotq(r.name)}" [label="${dotq(r.name)}\\n~${Hypergraph.estSize(r)}B"];\n""")
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
  def explainScript(spark: SparkSession, text: String): String = explain(spark, runDdl(spark, text))

  /** Run every statement of a script but the last (its DDL: reference
    * CREATE TABLE or stock Spark SQL); returns the last statement. */
  def runDdl(spark: SparkSession, text: String): String = {
    val stmts = splitStatements(text)
    require(stmts.nonEmpty, "empty script")
    stmts.init.foreach(s => if (!tryRefCreateTable(spark, s)) spark.sql(s))
    stmts.last
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
  def script(spark: SparkSession, text: String): DataFrame = solve(spark, runDdl(spark, text))

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


  // ---- the plan-level door ------------------------------------------

  /** Inline WITH-clause (CTE) definitions so the join structure inside
    * them is visible to the decomposition — without this a CTE-bodied
    * join collapses into ONE opaque leaf and gets no semijoin reduction
    * or factorized aggregate. Spark's own `InlineCTE(alwaysInline)`
    * does the ref-site attribute remapping (multi-referenced defs
    * inline once per ref with fresh exprIds, exactly what a self-join
    * over a CTE needs). Guarded: non-deterministic defs keep their
    * WithCTE (inlining would re-evaluate e.g. rand() per reference —
    * stock fallback handles those), and any inliner failure keeps the
    * original plan. Some(inlined) when it inlined. */
  private[sql] def inlineCtes(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case w: org.apache.spark.sql.catalyst.plans.logical.WithCTE if w.cteDefs.forall(_.deterministic) =>
      try {
        val inlined =
          org.apache.spark.sql.catalyst.optimizer.InlineCTE(alwaysInline = true)(plan)
        val clean = inlined.collectFirst {
          case _: org.apache.spark.sql.catalyst.plans.logical.WithCTE => ()
          case _: org.apache.spark.sql.catalyst.plans.logical.CTERelationRef => ()
        }.isEmpty
        if (clean) Some(inlined) else None
      } catch { case NonFatal(_) => None }
    case _ => None
  }

  private[sql] def hasJoin(p: LogicalPlan): Boolean = p.collectFirst { case j: Join => j }.isDefined

  /** A route's frame: `detail` describes it in the rendered record,
    * `nested` holds the records of the blocks the route solved. */
  private[sql] final case class Routed(
      df: DataFrame, detail: String = "", nested: Seq[RouteRecord] = Nil)

  /** The route table, tried in order; the first frame wins. A decline
    * with `stock` set skips straight to the last route. */
  private val routes: Seq[(String, DoorQuery => Either[Decline, Routed])] = Seq(
    ("set operation", setOperation _),
    ("grouping-sets rollup", groupingSets _),
    ("outer factorized aggregate", onBlock(outerFactorized)),
    ("factorized aggregate", onBlock(factorized)),
    ("ranked chain", onBlock(rankedChain)),
    ("enumeration", onBlock(enumeration)),
    ("stock", q => Right(Routed(GraftSqlBridge.dataFrame(q.spark, q.analyzed)))))

  /** A main-block route: it declines as the block's analysis does. */
  private def onBlock(route: JoinBlock => Either[Decline, Routed]): DoorQuery => Either[Decline, Routed] =
    _.block.flatMap(route)

  /**
   * The plan-level door: evaluate an ANALYZED LogicalPlan through the
   * route table. Recursive — a join-tree leaf that itself contains a
   * join (a nested subquery block: derived tables, aggregate subqueries
   * — the reference's AggregatedRelation, convert/LogicalPlanConverter
   * subquery routing) is solved by the same machinery, so e.g. the full
   * two-level TPC-H Q13 text gets CQC treatment at BOTH levels instead
   * of evaluating the inner block as an opaque stock-Spark leaf.
   */
  def solvePlan(spark: SparkSession, plan: LogicalPlan): (DataFrame, RouteRecord) = {
    // read before any route: a malformed value must fail here, not be
    // swallowed by a route's stock fallback
    Yannakakis.directThreshold(spark)
    runRoutes(DoorQuery.analyse(spark, plan))
  }

  /** Try the route table on an analysed query; the frame of the first
    * route that takes it, and the block's record. */
  private[sql] def runRoutes(q: DoorQuery): (DataFrame, RouteRecord) = {
    @annotation.tailrec
    def run(rs: Seq[(String, DoorQuery => Either[Decline, Routed])],
        declines: Vector[(String, Decline)]): (String, Routed, Vector[(String, Decline)]) =
      rs.head._2(q) match {
        case Right(done) => (rs.head._1, done, declines)
        case Left(d) => run(if (d.stock) rs.takeRight(1) else rs.tail, declines :+ (rs.head._1 -> d))
      }
    val (name, done, declines) = run(routes, Vector.empty)
    val b = q.analysedBlock
    (done.df, RouteRecord(name, done.detail, declines,
      q.notes ++ b.toSeq.flatMap(_.notes), b.toSeq.flatMap(_.folded),
      b.toSeq.flatMap(_.foldedRels), b.toSeq.flatMap(_.cmps),
      b.toSeq.flatMap(_.leafRecords), done.nested, Hypergraph.activeRootHint))
  }

  /** The frame of a peeled side or nested block: solved through the door
    * when `nested` (with its record), wrapped as a stock leaf otherwise;
    * each output column is then renamed by `rename`. */
  private[sql] def blockFrame(spark: SparkSession, p: LogicalPlan, rename: Attribute => String,
      nested: Boolean): (DataFrame, Option[RouteRecord]) = {
    val (df, rec) =
      if (nested) solvePlan(spark, p).pipe { case (d, r) => (d, Some(r)) }
      else (GraftSqlBridge.dataFrame(spark, p), None)
    (p.output.foldLeft(df) { (acc, a) =>
      val n = rename(a)
      if (n == a.name) acc else acc.withColumnRenamed(a.name, n)
    }, rec)
  }

  // ---- route: set operations (UNION [ALL] / INTERSECT [ALL] / EXCEPT
  // [ALL]): each branch runs through the door INDEPENDENTLY (semijoin
  // reduction, fast aggregates, ranked chains — whatever each branch's
  // shape routes to), then the branches combine positionally with
  // Spark's own set-op operators. UNION's dedup is the DISTINCT peel
  // (the analyzer plans UNION as Distinct(Union)). by-name unions never
  // come from SQL text — they (and any other exotic variant) decline.
  private def setOperation(q: DoorQuery): Either[Decline, Routed] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Except, Intersect, Union}
    def both(l: LogicalPlan, r: LogicalPlan)(f: (DataFrame, DataFrame) => DataFrame) = {
      val (lf, lr) = solvePlan(q.spark, l)
      val (rf, rr) = solvePlan(q.spark, r)
      (f(lf, rf), Seq(lr, rr))
    }
    val all = (isAll: Boolean) => if (isAll) " ALL" else ""
    val (combined, branches, detail) = q.body match {
      case u: Union if !u.byName =>
        val bs = u.children.map(solvePlan(q.spark, _))
        (bs.map(_._1).reduce(_ union _), bs.map(_._2),
          s"UNION${all(!q.distinct)} — ${u.children.size} branches, each through the door")
      case Intersect(l, r, isAll) =>
        val (df, recs) = both(l, r)((a, b) => if (isAll) a intersectAll b else a intersect b)
        (df, recs, s"INTERSECT${all(isAll)} — both branches through the door")
      case Except(l, r, isAll) =>
        val (df, recs) = both(l, r)((a, b) => if (isAll) a exceptAll b else a except b)
        (df, recs, s"EXCEPT${all(isAll)} — both branches through the door")
      case _ => return Left(Decline("not a set operation"))
    }
    q.finish(combined, q.body.output).map(Routed(_, detail, branches))
      .toRight(Decline(Decline.SetOpOrder, stock = true))
  }

  // ---- route: ROLLUP / CUBE / GROUPING SETS over a join (the analyzer
  // plans them as Aggregate over Expand, which would otherwise swallow
  // the whole join into one stock-evaluated leaf — no CQC reduction, and
  // Expand MULTIPLIES the join output by the number of grouping sets
  // before aggregating): solve ONE inner aggregate at the finest grouping
  // through the door (it rides the factorized route when the shape
  // allows — the join never enumerates), then roll the decomposable
  // partials up per grouping set on the small pre-aggregated result.
  // HAVING plans as a Filter above the Aggregate (plus a helper Project
  // when it references a non-selected aggregate): both apply on the
  // rolled-up frame by output name, helper columns strip last.
  private def groupingSets(q: DoorQuery): Either[Decline, Routed] = {
    val (proj, conds, agg, exp) = q.body match {
      case Project(pl, Filter(cond, agg @ Aggregate(_, _, exp: Expand, _))) =>
        (Some(pl), splitConjunctivePredicates(cond), agg, exp)
      case Filter(cond, agg @ Aggregate(_, _, exp: Expand, _)) =>
        (None, splitConjunctivePredicates(cond), agg, exp)
      case agg @ Aggregate(_, _, exp: Expand, _) => (None, Seq.empty[Expression], agg, exp)
      case _ => return Left(Decline("no grouping sets"))
    }
    val names = agg.output.map(a => a.exprId.id -> a.name).toMap
    if (names.values.toSeq.distinct.size != names.size || // by-name rebinding needs unique names
      !conds.forall(_.references.forall(a => names.contains(a.exprId.id))) ||
      !proj.forall(_.forall(_.isInstanceOf[AttributeReference])))
      return Left(Decline("grouping-set outputs not rebindable by name"))
    rollup(q.spark, agg, exp).flatMap { case (rolled, sets, inner) =>
      val byName = (e: Expression) => GraftSqlBridge.column(e.transform {
        case a: AttributeReference => UnresolvedAttribute.quoted(names(a.exprId.id))
      })
      val filtered = conds.foldLeft(rolled)((df, c) => df.where(byName(c)))
      val out = proj.fold(filtered)(pl => filtered.select(pl.map(byName): _*))
      q.finish(out, q.body.output)
        .map(Routed(_, s"grouping-sets rollup over pre-aggregated partials " +
          s"($sets sets; inner aggregate through the door)", Seq(inner)))
        .toRight(Decline(Decline.GroupingSetsOrder, stock = true))
    }
  }

  /** Grouping-sets rollup: compute the finest-granularity aggregate
    * through the door (factorized when the shape allows), then
    * re-aggregate the decomposable partials per grouping set. Exact for
    * COUNT / SUM (integral + decimal p≤18) / MIN / MAX / AVG (integral,
    * |sum| < 2^53 — the same double-integer-exactness stock Spark's own
    * average buffer relies on). Declines DISTINCT / FILTER aggregates,
    * double sums, decimal averages and expansions with no full grouping
    * set. Right((rolled-up frame, number of sets, the inner record)). */
  private def rollup(spark: SparkSession, agg: Aggregate,
      exp: Expand): Either[Decline, (DataFrame, Int, RouteRecord)] = {
    val ge = agg.groupingExpressions
    val ae = agg.aggregateExpressions

    val gidAttr = ge.collectFirst {
      case a: AttributeReference if a.name == "spark_grouping_id" => a
    }.getOrElse(return Left(Decline("no grouping id")))
    if (!ge.forall(_.isInstanceOf[AttributeReference]))
      return Left(Decline("computed grouping expression"))
    val keyAttrs = ge.collect {
      case a: AttributeReference if a.exprId != gidAttr.exprId => a
    }

    val outIds = exp.output.map(_.exprId)
    val keyPos = keyAttrs.map(a => outIds.indexOf(a.exprId))
    val gidPos = outIds.indexOf(gidAttr.exprId)
    if (keyPos.exists(_ < 0) || gidPos < 0) return Left(Decline("grouping key not expanded"))

    // grouping sets: (grouping id literal, which keys are kept)
    val sets: Seq[(Literal, Seq[Boolean])] = exp.projections.map { proj =>
      val gid = proj(gidPos) match {
        case l @ Literal(v, _) if v != null => l
        case _ => return Left(Decline("non-literal grouping id"))
      }
      (gid, keyPos.map(p => proj(p) match {
        case Literal(null, _) => false
        case _ => true
      }))
    }
    val fullProj = sets.indexWhere(_._2.forall(identity)) match {
      case -1 => return Left(Decline("no finest grouping set to decompose from"))
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
    if (aggCalls.isEmpty || aggCalls.exists(x => x.isDistinct || x.filter.isDefined))
      return Left(Decline("no aggregate, or a DISTINCT / FILTER aggregate"))

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
        case s: Sum if integral(s.child) || (s.child.dataType match {
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
        case a: Average if integral(a.child) =>
          // Spark's own integral average accumulates an integer-valued
          // double sum — exact below 2^53, so sum-of-longs ÷ count
          // reproduces it bit-for-bit in that range
          partial(s"__p${j}s", Sum(a.child))
          partial(s"__p${j}c", Count(Seq(a.child)))
          reaggs += (functions.sum(functions.col(s"__p${j}s")).cast("double") /
            functions.sum(functions.col(s"__p${j}c")).cast("double")).as(s"__r$j")
        case _ => return Left(Decline("aggregate without exact partials"))
      }
    }

    val keyAliases = srcKeyExprs.zipWithIndex.map { case (e, i) => Alias(e, s"__k$i")() }
    val innerAgg = agg.copy(groupingExpressions = srcKeyExprs,
      aggregateExpressions = keyAliases ++ innerPartials, child = innerChild)
    val (baseDf, innerRec) = solvePlan(spark, innerAgg)

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
    Right((combined.select(outCols: _*), sets.size, innerRec))
  }

  // ---- aggregate classification, shared by both factorized routes ----

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** EXACT types only: integrals and decimals. The factorized routes
    * multiply row values by per-key multiplicities, which reassociates
    * addition — exact for integers and decimals (scaled-integer
    * arithmetic; decimal weighting runs on graft.functions.DecimalExact
    * at DECIMAL(38, s), so the scale never shrinks and magnitude
    * overflow nulls like a stock capped accumulator). A double SUM
    * through these routes could differ from stock/DuckDB by an ULP — a
    * silent cross-engine hash mismatch — so doubles stay on the
    * stock-ordered hash aggregate; the programmatic
    * Yannakakis.aggOverJoin API remains the documented opt-in where the
    * caller owns that tradeoff. */
  private def exactType(e: Expression): Boolean =
    integral(e) || e.dataType.isInstanceOf[DecimalType]

  /** 1 where `e` is non-null, else 0: COUNT(e) and AVG's denominator as
    * a sum. */
  private def indicator(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.If(
      org.apache.spark.sql.catalyst.expressions.IsNull(e), Literal(0L), Literal(1L))

  /** A GROUP BY aggregate the factorized routes can compute. */
  private sealed trait AggFn
  private case object CountStar extends AggFn
  private final case class CountOf(e: Expression) extends AggFn
  /** exact-typed argument ([[exactType]]) */
  private final case class SumOf(e: Expression) extends AggFn
  private final case class MinOf(e: Expression) extends AggFn
  private final case class MaxOf(e: Expression) extends AggFn
  /** integral argument only: AVG = exact SUM / non-null COUNT, divided
    * once in double — order-independent, so it matches any engine
    * bit-for-bit (a double or decimal AVG depends on summation order or
    * engine-specific division rounding) */
  private final case class AvgOf(e: Expression) extends AggFn

  /** One aggregate alias, classified: its function, the stock result
    * type of the aggregate, and a CAST around it. A CAST directly around
    * an aggregate (CAST(COUNT(..) AS BIGINT)) commutes with the
    * factorized routes: the inner aggregate matches, the output casts
    * afterwards. */
  private final case class AggCall(fn: AggFn, stockType: DataType, cast: Option[DataType]) {
    /** The route's factorized intermediate may widen the type (decimal
      * precision grows under the semiring's exact multiply): cast back to
      * the STOCK aggregate type — values are exact, so the cast is
      * lossless and the schema matches stock — then apply the CAST. */
    def output(c: Column, name: String): Column =
      c.cast(stockType).pipe(c0 => cast.map(c0.cast).getOrElse(c0)).as(name)
  }

  /** The one aggregate classifier: COUNT(*) / COUNT(e) / SUM(exact) /
    * MIN / MAX / AVG(integral), no DISTINCT, no FILTER. None = a hash
    * aggregate over the enumeration (an aggregate inside arithmetic, a
    * double SUM, ...). */
  private def classifyAggs(aggAliases: Seq[(Alias, String)]): Option[Seq[AggCall]] = {
    val calls = aggAliases.map { case (al, _) =>
      val (inner, cast) = al.child match {
        case c: org.apache.spark.sql.catalyst.expressions.Cast => (c.child, Some(c.dataType))
        case other => (other, None)
      }
      val fn = inner match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            // foldable AND non-null: COUNT(NULL) is 0, not COUNT(*)
            case c: Count if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
              Some(CountStar)
            case c: Count if c.children.size == 1 => Some(CountOf(c.children.head))
            case s: Sum if exactType(s.child) => Some(SumOf(s.child))
            case m: Min => Some(MinOf(m.child))
            case m: Max => Some(MaxOf(m.child))
            case a: Average if integral(a.child) => Some(AvgOf(a.child))
            case _ => None
          }
        case _ => None
      }
      fn.map(AggCall(_, inner.dataType, cast))
    }
    if (calls.forall(_.isDefined)) Some(calls.flatten) else None
  }

  /** The GROUP BY block around an aggregate route: the route builds the
    * aggregated frame from the block's prelude ([[AggBlock]]), then
    * HAVING, the SELECT list and the top finish apply. A failure to
    * rebuild the aggregate over the renamed frame (e.g. PIVOT's
    * pivotfirst calls dataType on its children DURING transform, so attr
    * renaming itself throws) declines to stock, never a crash. */
  private def aggregateRoute(b: JoinBlock)(
      build: AggBlock => Either[Decline, Routed]): Either[Decline, Routed] =
    if (b.shape.aggInfo.isEmpty) Left(Decline("no GROUP BY"))
    else (try build(b.aggregate).map { r =>
      val (df, named) = b.aggregate.finish(r.df)
      (r.copy(df = df), named)
    } catch {
      case NonFatal(e) =>
        Left(Decline(Decline.AggregateRebuild, stock = true, e.getClass.getSimpleName))
    }).flatMap { case (r, named) =>
      b.q.finish(r.df, named).map(df => r.copy(df = df)).toRight(Decline(Decline.OrderBy, stock = true))
    }


  // ---- route: aggregate pushdown UNDER peeled outer joins (eager
  // aggregation — the Q13 inner block): when the aggregates are
  // COUNT(*) / COUNT / SUM / MIN / MAX / AVG over one outer side or one
  // inner relation and the group+join keys live in one inner relation,
  // the outer join never materializes. Each outer side pre-aggregates per
  // join key into (multiplicity __m, per-key sums / extrema); the inner
  // cluster aggregates per (group, join key) via message passing; left
  // joins of the tiny aggregates weight them together: COUNT(*) =
  // Σ cnt·Π coalesce(__m, 1) (an unmatched inner row is exactly one
  // null-extended row), COUNT/SUM over a side = Σ cnt·coalesce(sum, 0).
  private def outerFactorized(b: JoinBlock): Either[Decline, Routed] = aggregateRoute(b) { a =>
    if (b.shape.outerJoins.isEmpty) Left(Decline("no peeled outer join"))
    // a peeled semi/anti filters ROWS of the join result, which the
    // factorized message-passing aggregates never materialize — they
    // would aggregate pre-filter multiplicities (r14)
    else if (b.shape.semiJoins.nonEmpty) Left(Decline("peeled semi/anti join"))
    else rowFilters(b).toLeft(()).flatMap(_ => outerAgg(b, a.groupExprs, a.aggAliases))
  }

  private def outerAgg(b: JoinBlock, groupExprs: Seq[Expression],
      aggAliases: Seq[(Alias, String)]): Either[Decline, Routed] = {
    import b.{varColumn, varName}
    import b.shape.{leafOf, outerJoins, outerNames}
    val allOuterIds = outerJoins.flatMap(_._1.output.map(_.exprId.id)).toSet

    // per outer side: equi-key pairs (inner var, outer col) + own filters.
    // An ON conjunct referencing ANOTHER outer side (chained outer
    // joins with cross-side conditions) defeats the factorization.
    case class Side(
        plan: LogicalPlan,
        keyPairs: Seq[(String, String)],
        filters: Seq[Expression],
        ids: Set[Long])
    val sides = outerJoins.map { case (rplan, condOpt) =>
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
        case _ => return Left(Decline("ON condition spans outer sides"))
      }
      if (kp.isEmpty) return Left(Decline("outer side without an equi-key"))
      Side(rplan, kp.toSeq, fs.toSeq, ids)
    }

    val gvars = groupExprs.map {
      case a: AttributeReference if !allOuterIds.contains(a.exprId.id) => varName(a.exprId.id)
      case _ => return Left(Decline("group key on an outer side or computed"))
    }
    val innerKeys = sides.flatMap(_.keyPairs.map(_._1)).distinct
    val groupKeys = (gvars ++ innerKeys).distinct
    if (!b.rels.exists(r => groupKeys.toSet.subsetOf(r.vars)))
      return Left(Decline("group and join keys span relations"))

    def sideOf(e: Expression): Option[Int] = {
      val js = e.references.map(a => sides.indexWhere(_.ids.contains(a.exprId.id))).toSet
      if (js.size == 1 && js.head >= 0) Some(js.head) else None
    }
    def innerLeaf(e: Expression): Option[Int] =
      if (e.references.isEmpty || e.references.exists(a => allOuterIds.contains(a.exprId.id))) None
      else {
        val ls = e.references.map(a => leafOf(a.exprId.id)).toSet
        if (ls.size == 1 && !ls.contains(-1)) Some(ls.head) else None
      }
    // CntStar = COUNT(*); OSum(e, j, isCount) = Σ of e over side j
    // (isCount: an empty group is 0; a plain SUM of an empty group is
    // NULL — the null-extended row's product stays null and Spark's
    // sum skips it); OMin/OMax(e, j): extrema are idempotent, so the
    // other sides' multiplicities never matter; OAvg(e, j) = weighted
    // value sum / weighted non-null count (a null-extended row
    // contributes to neither, exactly the SQL AVG null rule).
    // INNER-cluster aggregates (the preserved side of every peeled
    // outer join, so each inner row survives >= 1 time): ISum/IAvg
    // factorize as per-cell sums times the outer match counts;
    // IMin/IMax are multiplicity-free (idempotent over the preserved
    // rows — outer joins replicate but never drop them)
    sealed trait OK
    case object CntStar extends OK
    case class OSum(e: Expression, j: Int, isCount: Boolean) extends OK
    case class OMin(e: Expression, j: Int) extends OK
    case class OMax(e: Expression, j: Int) extends OK
    case class OAvg(e: Expression, j: Int) extends OK
    case class ISum(leaf: Int, e: Expression, isCount: Boolean) extends OK
    case class IMin(leaf: Int, e: Expression) extends OK
    case class IMax(leaf: Int, e: Expression) extends OK
    case class IAvg(leaf: Int, e: Expression) extends OK
    val calls = classifyAggs(aggAliases).getOrElse(return Left(Decline("unsupported aggregate")))
    def at(e: Expression)(side: Int => OK, inner: Int => OK): Option[OK] =
      sideOf(e).map(side).orElse(innerLeaf(e).map(inner))
    val kinds: Seq[OK] = calls.map(c => (c.fn match {
      case CountStar => Some(CntStar)
      case CountOf(e) => at(e)(OSum(indicator(e), _, isCount = true), ISum(_, indicator(e), isCount = true))
      case SumOf(e) => at(e)(OSum(e, _, isCount = false), ISum(_, e, isCount = false))
      case MinOf(e) => at(e)(OMin(e, _), IMin(_, e))
      case MaxOf(e) => at(e)(OMax(e, _), IMax(_, e))
      case AvgOf(e) => at(e)(OAvg(e, _), IAvg(_, e))
    }).getOrElse(return Left(Decline("aggregate spans relations"))))

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
    val relsI = b.rels.zipWithIndex.map { case (r, i) =>
      Rel(r.name, derivedI(i).foldLeft(r.df) { case (df, (n, e)) => df.withColumn(n, varColumn(e)) })
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
    var joined = Ghd.aggOverJoin(relsI, groupKeys, innerAggs)
    // each outer side: per-join-key multiplicity + sums/extrema
    // (join-bearing sides recurse through the door like nested blocks)
    val nested = sides.zipWithIndex.flatMap { case (side, j) =>
      val (sdf, rec) = blockFrame(b.q.spark, side.plan, a => outerNames(a.exprId.id), hasJoin(side.plan))
      val rdf = side.filters.foldLeft(sdf)((df, f) => df.where(varColumn(f)))
      val extras = kinds.zipWithIndex.flatMap {
        case (OSum(e, `j`, _), i) => Seq(functions.sum(varColumn(e)).as(s"__os$i"))
        case (OMin(e, `j`), i) => Seq(functions.min(varColumn(e)).as(s"__os$i"))
        case (OMax(e, `j`), i) => Seq(functions.max(varColumn(e)).as(s"__os$i"))
        case (OAvg(e, `j`), i) =>
          val v = varColumn(e)
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
      rec
    }
    // weight the messages together: each aggregate multiplies the inner
    // multiplicity by ITS side's term and every OTHER side's match
    // count (max 1 — an unmatched side contributes one null-extended
    // row), through the semiring's typed multiply: a decimal weight
    // stays exact at DECIMAL(38, s). Every other factor is a long
    // count, so the summed column's type `bt` types every step.
    def typeOf(c: String): DataType = joined.schema(c).dataType
    def multOthers(base: Column, bt: DataType, j: Int): Column =
      sides.indices.filter(_ != j).foldLeft(base) { (c, k) =>
        Yannakakis.exactTimes(c, bt,
          functions.coalesce(functions.col(s"__m$k"), functions.lit(1L)), LongType)
      }
    def orZero(c: String, isCount: Boolean): Column =
      if (isCount) functions.coalesce(functions.col(c), functions.lit(0L))
      else functions.col(c)
    val aggCols = kinds.zip(calls).zip(aggAliases).zipWithIndex.map { case (((k, call), (_, n)), i) =>
      call.output(k match {
        case CntStar =>
          functions.sum(multOthers(functions.col("cnt"), LongType, -1))
        case OSum(_, j, isCount) =>
          val bt = typeOf(s"__os$i")
          functions.sum(multOthers(Yannakakis.exactTimes(
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
      }, n)
    }
    Right(Routed(joined.groupBy(gvars.map(functions.col): _*).agg(aggCols.head, aggCols.tail: _*),
      "eager aggregation under peeled outer join(s) — aggregates below the join, never materialized",
      nested))
  }

  // ---- route: aggregate FAST PATH (FAQ/AJAR routing): a GROUP BY whose
  // keys live in one relation and whose aggregates are COUNT / SUM / MIN /
  // MAX / AVG over single-relation expressions (or a SUM of a
  // cross-relation product) — with no comparison machinery, outer joins,
  // or residuals — factorizes over the join tree: ONE pass of
  // [[graft.cqc.Yannakakis.aggOverJoin]] (product-weight semiring for
  // COUNT/SUM/product SUMs; extrema ride the same messages), so the join
  // result is NEVER enumerated (a 4-hop count of ~10^9 paths from SQL
  // text costs four per-key message aggregates). The frame has the group
  // vars + one __agg$i column per aggregate alias — the layout the hash
  // aggregate builds — so HAVING / projection / ORDER BY are
  // route-agnostic.
  private def factorized(b: JoinBlock): Either[Decline, Routed] = aggregateRoute(b) { a =>
    if (b.shape.semiJoins.nonEmpty) Left(Decline("peeled semi/anti join"))
    else if (b.shape.outerJoins.nonEmpty) Left(Decline("peeled outer join"))
    else rowFilters(b).toLeft(()).flatMap(_ => factorizedAgg(b, a.groupExprs, a.aggAliases))
  }

  /** The factorized routes aggregate the join's multiplicities without
    * building its rows: anything that filters or compares rows across
    * relations (or dedups them) declines them. */
  private def rowFilters(b: JoinBlock): Option[Decline] =
    if (b.cmps.nonEmpty || b.residual.nonEmpty || b.subqSpanFilters.nonEmpty ||
      b.shape.postOuterConjuncts.nonEmpty || b.q.distinct)
      Some(Decline("comparisons, residuals, post-join filters or DISTINCT"))
    else None

  private def factorizedAgg(b: JoinBlock, groupExprs: Seq[Expression],
      aggAliases: Seq[(Alias, String)]): Either[Decline, Routed] = {
    import b.{varColumn, varName}
    import b.shape.leafOf
    val derivedG = scala.collection.mutable.Map[Int, List[(String, Expression)]]()
      .withDefaultValue(Nil)
    val gvars = groupExprs.zipWithIndex.map {
      case (a: AttributeReference, _) => varName(a.exprId.id)
      case (e, i) =>
        // COMPUTED key living in ONE relation: derive it there and
        // group by the derived column — named __g$i, the same name the
        // hash aggregate and the SELECT/HAVING resolution use
        val ls = e.references.map(a => leafOf(a.exprId.id)).toSet
        if (ls.size != 1 || ls.contains(-1)) return Left(Decline("computed group key spans relations"))
        derivedG(ls.head) = (s"__g$i", e) :: derivedG(ls.head)
        s"__g$i"
    }
    val plainG = groupExprs.collect { case a: AttributeReference => varName(a.exprId.id) }.toSet
    // all group keys (plain + derived homes) must sit on ONE relation
    if (!b.rels.zipWithIndex.exists { case (r, i) =>
      plainG.subsetOf(r.vars) && derivedG.keys.forall(_ == i)
    }) return Left(Decline("group keys span relations"))

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
    // a cross-relation product: split multiplications into single-leaf
    // factors (each exact-typed); overlapping leaves across a split
    // can't merge
    def factorLeaves(e: Expression): Option[Map[Int, Expression]] = oneLeaf(e) match {
      case Some(l) if exactType(e) => Some(Map(l -> e))
      case _ => e match {
        case m: org.apache.spark.sql.catalyst.expressions.Multiply =>
          (factorLeaves(m.left), factorLeaves(m.right)) match {
            case (Some(x), Some(y)) if x.keySet.intersect(y.keySet).isEmpty => Some(x ++ y)
            case _ => None
          }
        case _ => None
      }
    }
    // the message products replay the ROW-LEVEL multiply in exact
    // arithmetic, so stock's own multiply must have been unadjusted: a
    // scale below the factor-scale sum means stock ROUNDED per row
    // (precision cap) and the exact semiring would diverge
    def unadjusted(sum: Expression, fs: Map[Int, Expression]): Boolean = sum.dataType match {
      case d: DecimalType =>
        d.scale == fs.values.map(_.dataType match {
          case dd: DecimalType => dd.scale
          case _ => 0
        }).sum
      case _ => true
    }
    val calls = classifyAggs(aggAliases).getOrElse(return Left(Decline("unsupported aggregate")))
    val kinds: Seq[Kind] = calls.map(c => ((c.fn match {
      case CountStar => Some(CntK)
      // COUNT(expr) = Σ of a null indicator — rides the sum machinery
      // (exact long, same result type as COUNT)
      case CountOf(e) => oneLeaf(e).map(l => SumK(Map(l -> indicator(e))))
      case SumOf(e) => oneLeaf(e).map(l => SumK(Map(l -> e)))
        .orElse(factorLeaves(e).filter(unadjusted(e, _)).map(SumK(_)))
      case MinOf(e) => oneLeaf(e).map(MinK(_, e))
      case MaxOf(e) => oneLeaf(e).map(MaxK(_, e))
      // the denominator is a summed NULL-INDICATOR, not the join-row
      // count: SQL AVG divides by the count of non-null values only
      case AvgOf(e) => oneLeaf(e).map(AvgK(_, e))
    }): Option[Kind]).getOrElse(return Left(Decline("aggregate spans relations"))))

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
    val rels2 = b.rels.zipWithIndex.map { case (r, i) =>
      Rel(r.name, (derived(i) ++ derivedG(i)).foldLeft(r.df) { case (df, (n, e)) =>
        df.withColumn(n, varColumn(e))
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
    // global COUNT over an empty join is 0, not null
    def cnt = if (gvars.isEmpty)
      functions.coalesce(functions.col("cnt"), functions.lit(0L))
    else functions.col("cnt")
    val outCols = gvars.map(functions.col) ++
      kinds.zip(calls).zip(aggAliases).zipWithIndex.map { case (((k, call), (_, n)), i) =>
        call.output(k match {
          case CntK => cnt
          case _: AvgK => functions.col(s"__s$i").cast("double") / functions.col(s"__nn$i")
          case _ => functions.col(s"__s$i")
        }, n)
      }
    Right(Routed(agg.select(outCols: _*),
      "factorized aggregate fast path (FAQ/AJAR message passing; join never enumerated) — kinds: " +
        kinds.map(_.getClass.getSimpleName.stripSuffix("$")).mkString(", ")))
  }


  // ---- route: ranked-join routing (the reference reaches convert/TopK
  // from its SQL door): `ORDER BY <sum of one rank attr per relation>
  // DESC [, <selected attr> ASC]* LIMIT k` over a plain inner chain routes
  // to [[graft.topk.RankJoin.topKChainExact]] — per-key-pruned
  // intermediates bounded near k·|keys| instead of the full enumeration
  // feeding a sort. Terms must appear in relation order (one per
  // relation, textual order = chain order), which also keeps double
  // addition in stock left-associative order.
  private def rankedChain(b: JoinBlock): Either[Decline, Routed] = {
    import b.{rels, varColumn, varName}
    import b.shape._
    val q = b.q
    if (q.limit.isEmpty || q.order.isEmpty || aggInfo.isDefined || windowDefs.nonEmpty ||
      outerJoins.nonEmpty || semiJoins.nonEmpty || rowFilters(b).isDefined || leaves.size < 2)
      return Left(Decline("not ORDER BY ... LIMIT over a plain inner join"))
    val no = Left(Decline("ORDER BY is not a per-relation rank sum"))
    // paging: prune deep enough to rank everything under offset+limit;
    // the finish re-applies ORDER BY / OFFSET / LIMIT on this frame
    val k = q.limit.get + q.offset
    import org.apache.spark.sql.catalyst.expressions.{Add, Ascending, Descending, NullsFirst, NullsLast}
    val head = q.order.head
    if (head.direction != Descending || head.nullOrdering != NullsLast) return no
    if (q.order.tail.exists(so => so.direction != Ascending || so.nullOrdering != NullsFirst)) return no
    val rankAlias = head.child match {
      case a: AttributeReference =>
        projectList.collectFirst {
          case al: Alias if al.exprId == a.exprId => al
        }.getOrElse(return no)
      case _ => return no
    }
    def terms(e: Expression): Seq[Expression] = e match {
      case Add(l, r, _) => terms(l) ++ terms(r)
      case other => Seq(other)
    }
    val ts = terms(rankAlias.child).map { t =>
      val ls = t.references.map(a => leafOf(a.exprId.id)).toSet
      if (ls.size != 1) return no
      (ls.head, t)
    }
    // one term per relation, strictly in relation order, spanning >= 2
    if (ts.size < 2 || ts.map(_._1) != ts.map(_._1).distinct.sorted) return no
    val perLeaf = ts.toMap
    val tieVars = q.order.tail.map { so =>
      so.child match {
        case a: AttributeReference =>
          projectList.collectFirst {
            case al @ Alias(c: AttributeReference, _) if al.exprId == a.exprId =>
              varName(c.exprId.id)
            case ar: AttributeReference if ar.exprId == a.exprId =>
              varName(ar.exprId.id)
          }.getOrElse(return no)
        case _ => return no
      }
    }
    val outCols = projectList.map {
      case al: Alias if al.exprId == rankAlias.exprId =>
        functions.col("total_rank").as(al.name)
      case al @ Alias(c: AttributeReference, name) =>
        functions.col(varName(c.exprId.id)).as(name)
      case a: AttributeReference => functions.col(varName(a.exprId.id)).as(a.name)
      case _ => return Left(Decline("computed output column"))
    }
    for (i <- 0 until rels.size - 1)
      if (rels(i).vars.intersect(rels(i + 1).vars).isEmpty) return Left(Decline("not a chain"))
    val rels3 = rels.zipWithIndex.map { case (r, i) =>
      r.df.withColumn(s"__rk$i", perLeaf.get(i).map(varColumn).getOrElse(functions.lit(0L): Column))
    }
    val chained = graft.topk.RankJoin.topKChainExact(
      rels3, rels.indices.map(i => s"__rk$i"), k,
      tieVars.map(functions.col(_).asc))
    q.finish(chained.select(outCols: _*), projectList)
      .map(Routed(_, "ranked chain top-k (per-key cum-rank prune; no full enumeration)"))
      .toRight(Decline(Decline.OrderBy, stock = true))
  }

  // ---- route: enumeration. The CQC-evaluated join ([[JoinBlock.enumerated]])
  // under either a GROUP BY — a plain Catalyst hash aggregate (partial +
  // final) on top of the reduced, comparison-pruned enumeration — or the
  // SELECT list, with peeled window expressions and helper aliases
  // substituted in by exprId.
  private def enumeration(b: JoinBlock): Either[Decline, Routed] =
    if (b.shape.aggInfo.isDefined) aggregateRoute(b) { a =>
      val acols = a.aggAliases.map { case (al, n) =>
        GraftSqlBridge.column(b.toVarNames(al.child)).as(n)
      }
      val (enumerated, sides) = b.enumerated
      Right(Routed(enumerated.groupBy(a.gcols: _*).agg(acols.head, acols.tail: _*),
        " + hash aggregate", sides))
    } else {
      val windowById: Map[Long, Expression] = b.shape.windowDefs.collect {
        case al: Alias => al.exprId.id -> al.child
      }.toMap
      def resolveTop(e: Expression): Expression = e.transformUp {
        case a: AttributeReference if windowById.contains(a.exprId.id) =>
          resolveTop(windowById(a.exprId.id))
        case a: AttributeReference if b.shape.helperAliases.contains(a.exprId.id) =>
          resolveTop(b.shape.helperAliases(a.exprId.id))
      }
      // a window frame windowColumn cannot reproduce declines to stock
      // (correct, not accelerated) — better than a silently-wrong
      // default frame
      val cols = try b.shape.projectList.map { ne =>
        val (target, name) = ne match {
          case Alias(c, n) => (c, n)
          case other => (other: Expression, other.name)
        }
        resolveTop(target) match {
          case a: AttributeReference => functions.col(b.varName(a.exprId.id)).as(name)
          case we: org.apache.spark.sql.catalyst.expressions.WindowExpression =>
            windowColumn(we, e => GraftSqlBridge.column(b.toVarNames(resolveTop(e)))).as(name)
          case other => GraftSqlBridge.column(b.toVarNames(other)).as(name)
        }
      } catch {
        case _: UnsupportedFrame => return Left(Decline(Decline.WindowFrame, stock = true))
        // rank-like window functions eagerly call dataType while an
        // expression tree is being rebuilt (e.g. RANK() ordered by an
        // aggregate) — any window re-application failure means stock
        // evaluation of the whole query, never a crash
        case NonFatal(e) if b.shape.windowDefs.nonEmpty =>
          return Left(Decline(Decline.WindowRebuild, stock = true, e.getClass.getSimpleName))
      }
      val (enumerated, sides) = b.enumerated
      b.q.finish(enumerated.select(cols: _*), b.shape.projectList).map(Routed(_, "", sides))
        .toRight(Decline(Decline.OrderBy, stock = true))
    }

  /** A WindowExpression cannot be attr-renamed by transform (rank-like
    * functions eagerly call dataType on their injected order children) —
    * rebuild it through the Column DSL, `c` binding its expressions to
    * variable columns. */
  private def windowColumn(
      we: org.apache.spark.sql.catalyst.expressions.WindowExpression,
      c: Expression => Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, CumeDist, CurrentRow, DenseRank, NTile, NullsFirst, PercentRank, Rank, RangeFrame, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}
    import org.apache.spark.sql.expressions.{Window => WinDsl}
    val sd = we.windowSpec
    var spec = WinDsl.partitionBy(sd.partitionSpec.map(c): _*)
    if (sd.orderSpec.nonEmpty) spec = spec.orderBy(sd.orderSpec.map { so =>
      // unwrap the SortOrder: orderBy wraps its Columns itself
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
    // under the wrong frame — it aborts the route instead
    def boundVal(e: Expression): Option[Long] = e match {
      case UnboundedPreceding => Some(WinDsl.unboundedPreceding)
      case UnboundedFollowing => Some(WinDsl.unboundedFollowing)
      case CurrentRow => Some(WinDsl.currentRow)
      // the integral check is load-bearing: an INTERVAL bound's internal
      // value is also a Long (micros) but means a RANGE duration the DSL
      // cannot express — only true integral literals are offsets
      case _ if e.foldable && integral(e) =>
        e.eval() match {
          case i: Int => Some(i.toLong)
          case l: Long => Some(l)
          case s: Short => Some(s.toLong)
          case b: Byte => Some(b.toLong)
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
            case (Some(lo), Some(hi)) if f.frameType == RowFrame => spec = spec.rowsBetween(lo, hi)
            case (Some(lo), Some(hi)) if f.frameType == RangeFrame => spec = spec.rangeBetween(lo, hi)
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
}

/** Why a route of the door passed on a query block. `stock`: the block
  * falls back to stock evaluation of its whole analysed plan and no later
  * route is tried; `cause` names the exception behind a failed rebuild. */
final case class Decline(reason: String, stock: Boolean = false, cause: String = "") {
  private[sql] def line: String = {
    val why = if (cause.isEmpty) reason else s"$reason: $cause"
    if (reason == Decline.CorrelatedOutput) s"stock fallback: $why"
    else s"routing: stock fallback ($why)"
  }
}

/** The reasons that send a whole block to stock evaluation. */
object Decline {
  val CorrelatedOutput = "correlated subquery in the SELECT list"
  val DuplicateLeafNames = "leaf with duplicate output column names"
  val SubqueryPredicate = "cross-leaf, nested-leaf, or peel-correlated subquery predicate"
  val AggregateRebuild = "aggregate rebuild failed"
  val WindowFrame = "unsupported window frame"
  val WindowRebuild = "window rebuild failed"
  val SetOpOrder = "ORDER BY over a set operation references a non-output column"
  val GroupingSetsOrder = "ORDER BY over grouping sets references a non-output column"
  val OrderBy = "ORDER BY references non-selected column"
}

/**
 * What the door did with one query block: the route that built its
 * frame, each route that declined before it (in table order, with the
 * reason), the rewrites applied (`notes`: QUALIFY, CTE inlining, lifted
 * subquery predicates and join keys), the keyed aggregate leaves folded
 * into a host, the decomposed body (`rels`, `cmps`; empty when the block
 * never reached the main-block routes) and the records of the nested
 * blocks — those solved to build the leaves (`leaves`) and those the
 * route solved (`nested`: set-op branches, the grouping-sets inner
 * aggregate, join-bearing outer sides).
 */
final case class RouteRecord(
    route: String,
    detail: String,
    declines: Seq[(String, Decline)],
    notes: Seq[String],
    folded: Seq[String],
    rels: Seq[Rel],
    cmps: Seq[Cmp],
    leaves: Seq[RouteRecord],
    nested: Seq[RouteRecord],
    rootHint: Option[String]) {

  /** The cost-picked join tree of the body (rooted at a `/*+ ROOT(x) */`
    * or API pin active during the run), or Left(the cyclic core). One GYO,
    * run only when read: an execution never pays for it. */
  lazy val tree: Either[Seq[String], JoinTree] =
    rootHint.fold(Hypergraph.tryJoinTree(rels))(h => Hypergraph.withRootHint(h)(Hypergraph.tryJoinTree(rels)))

  /** The outermost decomposed block: this one, or for a set operation /
    * grouping-sets block the last nested block that decomposed. */
  def outermost: Option[RouteRecord] =
    if (rels.nonEmpty) Some(this) else nested.reverseIterator.flatMap(_.outermost).nextOption()

  /** The dry-run dump: rewrites, nested blocks, the join tree with its
    * bound carriers, and the routed execution path, one line each. */
  def render: String = {
    val sb = new StringBuilder
    renderTo(sb)
    sb.toString
  }

  private def renderTo(sb: StringBuilder): Unit = {
    def line(s: String): Unit = sb.append(s).append('\n')
    notes.foreach(line)
    leaves.foreach(_.renderTo(sb))
    if (folded.nonEmpty) line(s"folded keyed aggregate leaves: ${folded.mkString(", ")}")
    if (rels.nonEmpty) {
      val desc = tree.fold(_ =>
        rels.map(r => s"${r.name} [${r.vars.toSeq.sorted.mkString(",")}]")
          .mkString("(cyclic body -> GHD certificate bags over: ", "; ", ")"), _.describe)
      line(s"join tree (cost-picked):\n$desc" +
        (if (cmps.isEmpty) "" else "\nbound carriers:\n" + cmps.map(c => s"  $c").mkString("\n")))
    }
    route match {
      case "stock" => declines.lastOption.foreach(d => line(d._2.line))
      // the enumeration route the evaluator will take: cost-gated in
      // Yannakakis.solveWithTree — tiny bodies skip the reducer and
      // annotation scheduling breadth, everything else gets the full
      // output-sensitive discipline
      case "enumeration" =>
        val how =
          if (tree.isRight && Yannakakis.routesDirect(rels))
            "direct broadcast enumeration (all leaves under spark.graft.direct.threshold; " +
              "comparisons applied at earliest binding)"
          else "semijoin-reduced enumeration (Yannakakis pass 1 + output-sensitive pass 2)"
        line(s"routing: $how$detail")
      case _ => line(s"routing: $detail")
    }
    nested.foreach(_.renderTo(sb))
  }
}

/** A query block, analysed once: ORDER BY / LIMIT / OFFSET and DISTINCT
  * peeled off the top (`body` is what is left), and — run by the first
  * route that reads it — the main block's analysis ([[block]]). */
private[sql] final class DoorQuery(
    val spark: SparkSession,
    val analyzed: LogicalPlan,
    val notes: Seq[String],
    val order: Seq[SortOrder],
    val limit: Option[Int],
    val offset: Int,
    val distinct: Boolean,
    val body: LogicalPlan) {

  private var analysed: Either[Decline, JoinBlock] = _

  def block: Either[Decline, JoinBlock] = {
    if (analysed == null) analysed = JoinBlock.analyse(this)
    analysed
  }

  /** The main block, when a route analysed it. */
  def analysedBlock: Option[JoinBlock] = Option(analysed).flatMap(_.toOption)

  /** The one DISTINCT / ORDER BY / OFFSET / LIMIT finish, on a frame whose
    * columns carry the names of `out`. None = a sort key is not among the
    * outputs (it cannot be re-applied on the projected frame). */
  def finish(frame: DataFrame, out: Seq[NamedExpression]): Option[DataFrame] = {
    val names = out.map(a => a.exprId.id -> a.name).toMap
    if (order.exists(_.references.exists(a => !names.contains(a.exprId.id)))) return None
    var res = if (distinct) frame.distinct() else frame
    if (order.nonEmpty)
      res = res.orderBy(order.map(so => GraftSqlBridge.column(so.transform {
        // quoted: an analyzer helper name like `sum(g2.dst)` contains
        // dots/parens — the parsing form would read a multi-part name
        case a: AttributeReference => UnresolvedAttribute.quoted(names(a.exprId.id))
      })): _*)
    if (offset > 0) res = res.offset(offset)
    limit.foreach(n => res = res.limit(n))
    Some(res)
  }
}

private[sql] object DoorQuery {
  def analyse(spark: SparkSession, plan: LogicalPlan): DoorQuery = {
    val inlined = CqcSql.inlineCtes(plan)
    val analyzed = inlined.getOrElse(plan)
    // ORDER BY / LIMIT / OFFSET (the reference's ranked SQL form): sort
    // refs must point at SELECTed output columns; they re-apply by output
    // name on the final frame, so the CQC pipeline under them is
    // unchanged. TakeOrderedAndProject picks up the sort+limit pair
    // physically — the full sort never materializes.
    val (order, limit, offset, afterSort) = analyzed match {
      // LIMIT k OFFSET j (any-k paging): GlobalLimit(k, LocalLimit(k, Offset(j, ...)))
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_,
          Offset(Literal(j: Int, _), Sort(order, true, child, _)))) => (order, Some(n), j, child)
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, Offset(Literal(j: Int, _), child))) =>
        (Nil, Some(n), j, child)
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, Sort(order, true, child, _))) =>
        (order, Some(n), 0, child)
      case GlobalLimit(Literal(n: Int, _), LocalLimit(_, child)) => (Nil, Some(n), 0, child)
      case Sort(order, true, child, _) => (order, None, 0, child)
      case other => (Nil, None, 0, other)
    }
    // SELECT DISTINCT: evaluate through the routes, dedup the final frame
    val (distinct, body) = afterSort match {
      case Distinct(child) => (true, child)
      case other => (false, other)
    }
    new DoorQuery(spark, analyzed, inlined.map(_ => "inlined WITH-clause (CTE) definitions").toSeq,
      order, limit, offset, distinct, body)
  }
}

/** The main block's peeled shape — plan walks only, no frame built. */
private[sql] final case class Shape(
    outerProj: Option[Seq[NamedExpression]],
    havingConds: Seq[Expression],
    aggInfo: Option[(Seq[Expression], Seq[NamedExpression])],
    projectList: Seq[NamedExpression],
    windowDefs: Seq[NamedExpression],
    helperAliases: Map[Long, Expression],
    outerJoins: Seq[(LogicalPlan, Option[Expression])],
    semiJoins: Seq[(LogicalPlan, Option[Expression], String)],
    outerNames: Map[Long, String],
    leaves: Seq[LogicalPlan],
    conjuncts: Seq[Expression],
    postOuterConjuncts: Seq[Expression]) {
  val leafAttrIds: Seq[Set[Long]] = leaves.map(_.output.map(_.exprId.id).toSet)
  /** The leaf carrying an attribute; -1 for a peeled side's attribute. */
  def leafOf(id: Long): Int = leafAttrIds.indexWhere(_.contains(id))
  def leavesOf(e: Expression): Set[Int] = e.references.map(a => leafOf(a.exprId.id)).toSet
}

/** The main block of a query: its peeled [[Shape]], the attribute
  * classes that name its join variables, its classified predicates and
  * its leaf relations — built once, read by every main-block route. */
private[sql] final class JoinBlock private (
    val q: DoorQuery,
    val shape: Shape,
    val subqSpanFilters: Seq[Expression],
    innerConjuncts: Seq[Expression],
    spanNote: Seq[String]) {
  import JoinBlock._
  import shape._

  // ---- equality classes over ExprIds. Only CROSS-leaf equalities are
  // join variables: a same-leaf equality like `g1.src = g1.dst` must be
  // applied as a leaf filter (it falls through to the single-leaf
  // classification below) — feeding it to the union-find would silently
  // drop it, since a class confined to one leaf never gets a shared name.
  private val (equalities, others) = innerConjuncts.partition {
    case EqualTo(a: AttributeReference, b: AttributeReference) =>
      leafOf(a.exprId.id) != leafOf(b.exprId.id)
    case _ => false
  }
  private val classOf: Long => Long = Hypergraph.equalityClasses(equalities.collect {
    case EqualTo(a: AttributeReference, b: AttributeReference) => (a.exprId.id, b.exprId.id)
  })

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
  private def liftedKey(e: Expression): Option[(Int, Int, Expression, Expression, Boolean)] = {
    def sides(l: Expression, r: Expression, nullSafe: Boolean) = {
      val (ll, rl) = (shape.leavesOf(l), shape.leavesOf(r))
      if (ll.size == 1 && rl.size == 1 && ll != rl) Some((ll.head, rl.head, l, r, nullSafe)) else None
    }
    e match {
      case _ if hasSubquery(e) || !e.deterministic => None
      case EqualTo(l, r) => sides(l, r, nullSafe = false) // attr=attr cross-leaf pairs are equalities
      case EqualNullSafe(l, r) => sides(l, r, nullSafe = true)
      case _ => None
    }
  }
  private val (liftedKeys, othersKept) = others.partitionMap(e => liftedKey(e).toLeft(e))
  private val derivedJ: Map[Int, List[(String, Expression, Boolean)]] =
    liftedKeys.zipWithIndex.foldLeft(Map.empty[Int, List[(String, Expression, Boolean)]]) {
      case (m, ((li, ri, l, r, ns), i)) =>
        val m1 = m.updated(li, (s"__vj$i", l, ns) :: m.getOrElse(li, Nil))
        m1.updated(ri, (s"__vj$i", r, ns) :: m1.getOrElse(ri, Nil))
    }

  // ---- variable naming: join classes share a name, the rest stay unique
  private val classMembers = shape.leafAttrIds.flatten.map(id => classOf(id) -> id)
    .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  private def isJoinVar(rep: Long): Boolean = classMembers(rep).map(leafOf).size > 1

  def varName(id: Long): String = outerNames.getOrElse(id, {
    val rep = classOf(id)
    if (isJoinVar(rep)) s"v$rep" else s"c$id"
  })
  def toVarNames(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute(varName(a.exprId.id))
  }
  /** `e` over variable columns, RuntimeReplaceable nodes expanded first. */
  def varColumn(e: Expression): Column = GraftSqlBridge.column(toVarNames(deRuntime(e)))
  def varSql(e: Expression): String = toVarNames(deRuntime(e)).sql

  // ---- classify the remaining predicates: single-leaf filters, Cmp
  // bound carriers, residuals
  val (leafFilters, cmps, residual) = {
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
    othersKept.foreach { e =>
      val refLeaves = shape.leavesOf(e)
      e match {
        case _ if refLeaves.size == 1 =>
          leafFilters(refLeaves.head) = e :: leafFilters(refLeaves.head)
        case bc: BinaryComparison if opOf(bc).isDefined =>
          // each side confined to ONE leaf (different leaves) becomes a
          // Cmp — bare attributes AND computed expressions alike (the
          // reference q2/q10 sum-comparison shape): Yannakakis gives both
          // the per-key bound-annotation pruning. A side spanning two
          // leaves can't be annotated; it stays a residual filter.
          val (lLeaves, rLeaves) = (shape.leavesOf(bc.left), shape.leavesOf(bc.right))
          if (lLeaves.size == 1 && rLeaves.size == 1 && lLeaves != rLeaves)
            cmps += Cmp(varSql(bc.left), opOf(bc).get, varSql(bc.right))
          else residual += e
        case _ => residual += e
      }
    }
    (leafFilters.toMap.withDefaultValue(Nil), cmps.toSeq, residual.toSeq)
  }

  // ---- the leaf relations: each leaf filtered, renamed to variables
  val (rels, leafRecords) = buildRels()
  val (foldedRels, folded) = fold()

  val notes: Seq[String] = spanNote ++ (if (liftedKeys.isEmpty) Nil else Seq(
    s"lifted ${liftedKeys.size} computed/null-safe equalit" +
      s"${if (liftedKeys.size == 1) "y" else "ies"} to derived join keys (__vj)"))

  // ---- FULL OUTER join leaf: neither side is preserved, so it cannot
  // peel — but BOTH sides can still be CQC-evaluated independently and
  // full-outer joined at the end. Sides are tagged with exprId-derived
  // column names so the ON condition rebinds unambiguously, then the
  // original names are restored (requires distinct output names —
  // ambiguous outputs fall through to a stock-evaluated leaf).
  private def fullOuterFrame(p: LogicalPlan): Option[(DataFrame, Seq[RouteRecord])] = p match {
    case SubqueryAlias(_, c) => fullOuterFrame(c)
    case j @ Join(l, r, FullOuter, cond, _) if j.output.map(_.name).distinct.size == j.output.size =>
      def tag(a: Attribute) = s"__fo${a.exprId.id}"
      val joinCond = cond.map(c0 => GraftSqlBridge.column(c0.transform {
        case a: AttributeReference => UnresolvedAttribute(tag(a))
      })).getOrElse(functions.lit(true))
      val (lf, lr) = CqcSql.blockFrame(q.spark, l, tag, CqcSql.hasJoin(l))
      val (rf, rr) = CqcSql.blockFrame(q.spark, r, tag, CqcSql.hasJoin(r))
      Some((j.output.foldLeft(lf.join(rf, joinCond, "full_outer")) { (df, a) =>
        df.withColumnRenamed(tag(a), a.name)
      }, lr.toSeq ++ rr))
    case _ => None
  }

  private def buildRels(): (Seq[Rel], Seq[RouteRecord]) = {
    val built = leaves.zipWithIndex.map { case (leaf, i) =>
      // a leaf with a join beneath is a nested subquery block: recurse
      // (its frame loses the analyzer's exprIds, so predicates against it
      // are rebound by NAME — unique within a block's output). A leaf
      // that IS the whole input plan means no peel made progress (an
      // unsupported shape above the join) — evaluate it stock rather
      // than recurse forever; each recursion otherwise descends a strict
      // subtree, so termination is by depth.
      val fullOuter = fullOuterFrame(leaf)
      val nested = fullOuter.isDefined || (CqcSql.hasJoin(leaf) && !(leaf fastEquals q.analyzed))
      val (df0, recs) = fullOuter.getOrElse {
        val (df, rec) = CqcSql.blockFrame(q.spark, leaf, _.name, nested)
        (df, rec.toSeq)
      }
      def byName(f: Expression): Expression = f.transform {
        case a: AttributeReference => UnresolvedAttribute(a.name)
      }
      var df = leafFilters(i).foldLeft(df0)((d, f) =>
        d.where(GraftSqlBridge.column(if (nested) byName(f) else f)))
      // Rename attrs to variable names. TRANSITIVE equalities can place
      // two attrs of the same leaf in one class (r.a = s.x AND s.x = r.b
      // implies r.a = r.b): keep the first column under the class name,
      // filter the leaf on the implied equality, drop the duplicate.
      val seen = scala.collection.mutable.Set[String]()
      leaf.output.foreach { a =>
        val vn = varName(a.exprId.id)
        if (seen(vn)) df = df.where(functions.col(a.name) === functions.col(vn)).drop(a.name)
        else {
          seen += vn
          df = df.withColumnRenamed(a.name, vn)
        }
      }
      // derived join keys from lifted computed/null-safe equalities:
      // the expression is rebound to variable names (resolves by name on
      // both plain and nested frames); the <=> struct wrap names its
      // field "k" on both sides so the struct types match exactly
      derivedJ.getOrElse(i, Nil).foreach { case (n, e, ns) =>
        val c = varColumn(e)
        df = df.withColumn(n, if (ns) functions.struct(c.as("k")) else c)
      }
      (Rel(s"r$i", df), recs)
    }
    (built.map(_._1), built.flatMap(_._2))
  }

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
  // materialization serves every host. Used by the ENUMERATION route
  // only (the factorized routes index rels positionally); skipped
  // under an explicit root pin so the pinned name can't vanish.
  private def fold(): (Seq[Rel], Seq[String]) = {
    val keyOf: Map[Int, Set[String]] =
      if (Hypergraph.activeRootHint.isDefined) Map.empty
      else leaves.zipWithIndex.flatMap { case (leaf0, i) =>
        @annotation.tailrec
        def strip(p: LogicalPlan): LogicalPlan = p match {
          case SubqueryAlias(_, c) => strip(c)
          case c => c
        }
        strip(leaf0) match {
          case Aggregate(ge, _, _, _) if ge.nonEmpty && ge.forall {
                case g: AttributeReference => shape.leafAttrIds(i).contains(g.exprId.id)
                case _ => false
              } =>
            Some(i -> ge.map(g => varName(g.asInstanceOf[AttributeReference].exprId.id)).toSet)
          case _ => None
        }
      }.toMap
    val arr = rels.toArray
    val gone = scala.collection.mutable.Set[Int]()
    def shared(i: Int): Set[String] =
      arr(i).vars.filter(v => arr.indices.exists(j => j != i && !gone(j) && arr(j).vars(v)))
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
            Some(Hypergraph.estSize(arr(j))))
          gone += i
        }
    }
    (arr.indices.filterNot(gone).map(arr(_)).toSeq, gone.toSeq.sorted.map(i => s"r$i"))
  }

  /** The CQC-evaluated join (GHD decomposes if cyclic; no-op when
    * acyclic), with the records of the join-bearing peeled sides it
    * solved. Residuals ride along so they filter at the FIRST join where
    * their variables are bound (a cross-relation OR never waits for the
    * full enumeration). Lazy: the factorized routes never build it. */
  lazy val enumerated: (DataFrame, Seq[RouteRecord]) = {
    var out = Ghd.solve(foldedRels, cmps, residual.map(varSql))
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
      case s: SubqueryExpression if s.isCorrelated =>
        s.withNewPlan(s.plan.transformAllExpressions {
          case org.apache.spark.sql.catalyst.expressions.OuterReference(a: AttributeReference) =>
            val v = varName(a.exprId.id)
            corrNames += v
            UnresolvedAttribute(CqcSql.spanPrefix + v)
        })
      case a: AttributeReference => UnresolvedAttribute(varName(a.exprId.id))
    }
    val spanExprs = subqSpanFilters.map(toVarNamesSubq) // populates corrNames
    corrNames.foreach(v => out = out.withColumn(CqcSql.spanPrefix + v, functions.col(v)))
    spanExprs.foreach(e => out = out.where(GraftSqlBridge.column(e)))
    if (corrNames.nonEmpty) out = out.drop(corrNames.toSeq.map(CqcSql.spanPrefix + _): _*)

    // ---- re-apply the peeled outer joins on the CQC result (a
    // join-bearing peeled side is itself a nested block: recurse), then
    // the peeled semi/anti joins (pure filters — after the outers so a
    // condition referencing an o-column binds)
    val sides = (outerJoins.map { case (p, c) => (p, c, "left_outer") } ++ semiJoins).flatMap {
      case (rplan, cond, typ) =>
        val (rdf, rec) = CqcSql.blockFrame(q.spark, rplan, a => outerNames(a.exprId.id), CqcSql.hasJoin(rplan))
        val joinCond = cond.map(c => GraftSqlBridge.column(toVarNames(c))).getOrElse(functions.lit(true))
        out = out.join(rdf, joinCond, typ)
        rec
    }
    postOuterConjuncts.foreach(e => out = out.where(GraftSqlBridge.column(toVarNames(e))))
    (out, sides)
  }

  /** The GROUP BY prelude, built once by the first aggregate route. */
  lazy val aggregate: AggBlock = new AggBlock(this, aggInfo.get._1, aggInfo.get._2)
}

private[sql] object JoinBlock extends PredicateHelper {

  def hasSubquery(e: Expression): Boolean = e.exists(_.isInstanceOf[PlanExpression[_]])

  def isCorrelated(e: Expression): Boolean = e.exists {
    case s: SubqueryExpression => s.isCorrelated
    case _ => false
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

  /** Analyse the main block of `q`, or decline it to stock: a correlated
    * subquery in the output, a leaf with duplicate column names, or a
    * subquery predicate that cannot ride the variable renaming. */
  def analyse(q: DoorQuery): Either[Decline, JoinBlock] = {
    val s = peel(q.body)
    // CORRELATED subqueries in the output surface (SELECT list,
    // aggregate expressions, window definitions) reference the join body
    // from inside their own subplan; after CQC variable renaming those
    // outer refs cannot re-resolve (probed: INTERNAL_ERROR_ATTRIBUTE_NOT_
    // FOUND at execution). UNcorrelated scalar subqueries are
    // independently evaluable and ride every route unchanged; correlated
    // subqueries in WHERE stay handled as leaf filters.
    val outputExprs: Seq[Expression] =
      s.projectList ++ s.aggInfo.map(_._2).getOrElse(Nil) ++ s.windowDefs ++
        s.outerProj.getOrElse(Nil) ++ s.havingConds
    if (outputExprs.exists(SubqueryExpression.hasCorrelatedSubquery))
      return Left(Decline(Decline.CorrelatedOutput, stock = true))
    // a leaf whose plan outputs DUPLICATE column names (e.g. a Generate
    // node spanning a self-join: LATERAL VIEW explode over g1, g2) cannot
    // be variable-renamed by name
    if (s.leaves.exists(l => l.output.map(_.name).distinct.size != l.output.size))
      return Left(Decline(Decline.DuplicateLeafNames, stock = true))

    // ---- subquery predicates (scalar / EXISTS / IN): a conjunct whose
    // references live in ONE leaf applies as that leaf's filter with the
    // subquery embedded — Spark evaluates it there, correlated or not
    // (reference q17/q22 shapes as SQL text).
    // A NESTED leaf (join beneath: derived-table view) is re-evaluated
    // recursively, so its frame loses the analyzer's exprIds and leaf
    // filters are rebound by NAME — but a subquery predicate's plan
    // INTERIOR (the correlated OuterReference nodes) is not reachable by
    // the expression transform and keeps stale ids, which fails binding
    // at execution (r11 battery find).
    def leafIsNested(i: Int): Boolean =
      CqcSql.hasJoin(s.leaves(i)) && !(s.leaves(i) fastEquals q.analyzed)
    // r16 lift: an UNCORRELATED subquery conjunct whose outer references
    // span >= 2 non-nested leaves rides a post-enumeration filter — its
    // subquery PLAN rides inside the Column unchanged, its outer attrs
    // rename like any residual. r17: CORRELATED spans lift too — each
    // OuterReference(attr) inside the subquery plan is rewritten to an
    // UnresolvedAttribute of its variable and the plan handed back
    // unresolved, so applying the Column on the enumerated frame re-runs
    // ResolveSubquery against the enumeration output (where every leaf
    // variable is bound) and rebuilds the outer-attribute metadata — no
    // stale exprId survives. Spark admits one correlation level, so the
    // top plan's OuterReferences are exactly ours. Capture guard (r17
    // review find): the rebound interior names carry the reserved
    // `__sqspan_` prefix, so a subquery whose own relations output a
    // `__sqspan_`-prefixed column is not lifted.
    def subqPlanCarriesPrefix(e: Expression): Boolean = e.exists {
      case sq: SubqueryExpression if sq.isCorrelated =>
        sq.plan.collect { case n => n.output }.flatten.exists(_.name.startsWith(CqcSql.spanPrefix))
      case _ => false
    }
    def liftableSpan(e: Expression): Boolean = {
      val ls = s.leavesOf(e)
      ls.size >= 2 && ls.forall(l => l >= 0 && !leafIsNested(l)) && !subqPlanCarriesPrefix(e)
    }
    val (spans, conjuncts) = s.conjuncts.partition(e => hasSubquery(e) && liftableSpan(e))
    // a subquery predicate whose outer references SPAN leaves otherwise
    // cannot ride the variable renaming (PlanExpression.sql does not
    // round-trip); -1 = the attr lives on a PEELED outer-join side, not a
    // leaf (applied after the peel re-join) — routable UNLESS correlated
    // (the peel re-join renames its frame, so interior outer refs go
    // stale)
    if ((conjuncts ++ s.postOuterConjuncts).exists { e =>
      hasSubquery(e) && {
        val ls = s.leavesOf(e)
        ls.size != 1 || (ls.head >= 0 && leafIsNested(ls.head)) || (ls.head < 0 && isCorrelated(e))
      }
    }) return Left(Decline(Decline.SubqueryPredicate, stock = true))
    val spanNote = if (spans.isEmpty) Nil else {
      val nCorr = spans.count(isCorrelated)
      Seq(s"lifted ${spans.size} cross-leaf subquery predicate(s) to post-enumeration filters" +
        (if (nCorr > 0) s" ($nCorr correlated, interior outer refs rebound)" else ""))
    }
    Right(new JoinBlock(q, s, spans, conjuncts, spanNote))
  }

  /** Peel the main block: HAVING / Aggregate, the SELECT Project, the
    * window chain, the WHERE Filter and the peeled outer / semi joins off
    * the top, then flatten the inner-join cluster into leaves + join
    * conditions. */
  private def peel(body: LogicalPlan): Shape = {
    // GROUP BY over the CQC join result (reference TpchQueriesTest
    // shapes; the analyzer turns HAVING into Filter(cond, Aggregate(...)),
    // and widens the Aggregate with a helper column stripped by a Project
    // when HAVING references a non-selected aggregate)
    val (outerProj, havingConds, aggInfo, afterAgg) = body match {
      case Project(pl, Filter(cond, Aggregate(ge, ae, child, _))) =>
        (Some(pl), splitConjunctivePredicates(cond), Some((ge, ae)), child)
      case Filter(cond, Aggregate(ge, ae, child, _)) =>
        (None, splitConjunctivePredicates(cond), Some((ge, ae)), child)
      case Aggregate(ge, ae, child, _) =>
        (None, Seq.empty[Expression], Some((ge, ae)), child)
      case other =>
        (None, Seq.empty[Expression], None, other)
    }
    val (projectList, afterProject) = afterAgg match {
      case _ if aggInfo.isDefined => (Nil, afterAgg)
      case Project(pl, child) => (pl, child)
      case other => (other.output.map(a => a: NamedExpression), other)
    }
    // ---- window functions (SELECT ... agg OVER (...) FROM joins): the
    // analyzer builds a CHAIN of Window nodes (one per distinct spec)
    // interleaved with helper Projects (which may alias attrs and repeat
    // them). Walk the whole chain, collecting window expressions and
    // helper aliases; the window expressions re-apply on the CQC result
    // as Columns (renamed to variable names), so the join under them
    // still gets semijoin reduction — the window itself is Catalyst's
    // standard partitioned sort, unchanged. The chain always ends on the
    // helper Project the analyzer put UNDER the lowest Window (it
    // aliases/repeats attrs for the window specs); consume it too, or it
    // becomes a leaf with duplicate column names.
    import org.apache.spark.sql.catalyst.plans.logical.Window
    def winChain(p: LogicalPlan): Boolean = p match {
      case _: Window => true
      case Project(_, c) => winChain(c)
      case _ => false
    }
    val windowDefs = scala.collection.mutable.ArrayBuffer[NamedExpression]()
    val helperAliases = scala.collection.mutable.Map[Long, Expression]()
    def helpers(pl: Seq[NamedExpression]): Unit = pl.foreach {
      case al: Alias => helperAliases(al.exprId.id) = al.child
      case _ => ()
    }
    var afterWindow = afterProject
    while (winChain(afterWindow)) afterWindow match {
      case w: Window =>
        windowDefs ++= w.windowExpressions
        afterWindow = w.child
      case Project(pl, c) =>
        helpers(pl)
        afterWindow = c
    }
    if (windowDefs.nonEmpty) afterWindow match {
      case Project(pl, c) =>
        helpers(pl)
        afterWindow = c
      case _ => ()
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
    // OUTER preserves both sides, so it cannot peel — it becomes a leaf
    // of its own ([[JoinBlock.fullOuterFrame]]). WHERE conjuncts that
    // touch only inner attrs commute with the outer join (the preserved
    // side is never null-extended) and stay in the CQC pipeline;
    // conjuncts touching outer attrs apply after the join.
    // Explicit LEFT SEMI / LEFT ANTI JOIN text syntax peels the same way
    // (r14): the probed side never contributes output columns, so a
    // peeled semi/anti is a pure row FILTER on the preserved cluster — it
    // commutes with the inner joins and with the left-outer
    // re-applications, so re-applying it on the CQC result AFTER the
    // peeled outers is the original semantics.
    val outerJoins = scala.collection.mutable.ArrayBuffer[(LogicalPlan, Option[Expression])]()
    val semiJoins = scala.collection.mutable.ArrayBuffer[(LogicalPlan, Option[Expression], String)]()
    def peelOuter(p: LogicalPlan): LogicalPlan = p match {
      case Join(l, r, LeftOuter, cond, _) =>
        val inner = peelOuter(l)
        outerJoins += ((r, cond))
        inner
      case Join(l, r, RightOuter, cond, _) =>
        val inner = peelOuter(r)
        outerJoins += ((l, cond))
        inner
      case Join(l, r, LeftSemi, cond, _) =>
        val inner = peelOuter(l)
        semiJoins += ((r, cond, "left_semi"))
        inner
      case Join(l, r, LeftAnti, cond, _) =>
        val inner = peelOuter(l)
        semiJoins += ((r, cond, "left_anti"))
        inner
      case SubqueryAlias(_, child) => peelOuter(child)
      case other => other
    }
    val innerRoot = peelOuter(joinRoot)
    // semi/anti sides share the o-name space: their attrs appear ONLY in
    // their own join condition (SQL scoping hides them above the join)
    val outerNames: Map[Long, String] =
      (outerJoins.flatMap(_._1.output) ++ semiJoins.flatMap(_._1.output))
        .map(a => a.exprId.id -> s"o${a.exprId.id}").toMap

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
    val (postOuterConjuncts, conjuncts) = (topConjuncts ++ joinConds).partition(
      _.references.exists(a => outerNames.contains(a.exprId.id)))
    Shape(outerProj, havingConds, aggInfo, projectList, windowDefs.toSeq, helperAliases.toMap,
      outerJoins.toSeq, semiJoins.toSeq, outerNames, leaves.toSeq, conjuncts, postOuterConjuncts)
  }
}

/** The GROUP BY prelude shared by the aggregate routes (group columns
  * and aggregate aliases over the block's variables) and the finish
  * they share (HAVING and the SELECT list over the aggregated frame). */
private[sql] final class AggBlock(
    b: JoinBlock, val groupExprs: Seq[Expression], aggExprs: Seq[NamedExpression]) {
  import b.{toVarNames, varName}

  // COMPUTED group keys (GROUP BY src % 5) get a stable internal name —
  // the SELECT/HAVING cannot re-compute them on the aggregated frame
  // (the underlying columns are gone)
  private val computedGroup = groupExprs.exists(!_.isInstanceOf[AttributeReference])
  private def groupIndex(e: Expression): Option[Int] =
    if (!computedGroup) None else groupExprs.indexWhere(_.semanticEquals(e)) match {
      case -1 => None
      case i => Some(i)
    }

  val gcols: Seq[Column] = groupExprs.zipWithIndex.map { case (e, i) =>
    val c = GraftSqlBridge.column(toVarNames(e))
    // rename COMPUTED keys only: plain attribute keys keep their
    // variable names, which the SELECT resolution expects
    if (e.isInstanceOf[AttributeReference]) c else c.as(s"__g$i")
  }
  // internal sanitized names: the analyzer's helper aliases can be
  // named `count(1)`, which col()/UnresolvedAttribute cannot parse
  val aggAliases: Seq[(Alias, String)] = aggExprs.zipWithIndex.collect {
    case (al: Alias, i) if al.exists(_.isInstanceOf[AggregateExpression]) => (al, s"__agg$i")
  }
  require(aggAliases.nonEmpty, "GROUP BY without aggregate functions — use SELECT DISTINCT instead")

  /** HAVING and the SELECT list over an aggregated frame (group vars,
    * `__g$i` computed keys, `__agg$i` aggregates); returns the frame and
    * the output list the top finish resolves ORDER BY against. */
  def finish(agg: DataFrame): (DataFrame, Seq[NamedExpression]) = {
    // agg outputs are addressable by internal name; group keys by var
    // name; grouping-column ALIASES (SELECT g1.src AS a ... GROUP BY
    // g1.src) resolve through to the underlying variable; a HAVING/ORDER
    // BY referencing a COMPUTED group key does so through the Aggregate's
    // output attribute — map it to the derived __g$i column
    val aliasNames = aggAliases.map { case (al, n) => al.exprId.id -> n }.toMap ++
      aggExprs.collect {
        case al @ Alias(c: AttributeReference, _) => al.exprId.id -> varName(c.exprId.id)
      }.toMap ++
      aggExprs.flatMap {
        case al: Alias => groupIndex(al.child).map(i => al.exprId.id -> s"__g$i")
        case _ => None
      }.toMap
    def outName(a: AttributeReference) = aliasNames.getOrElse(a.exprId.id, varName(a.exprId.id))
    def toOutNames(e: Expression): Expression = {
      // computed group subtrees first (they only exist as __g$i on the
      // aggregated frame), then attribute renames
      val pre = if (!computedGroup) e else e.transformDown {
        case x if groupIndex(x).isDefined => UnresolvedAttribute(s"__g${groupIndex(x).get}")
      }
      pre.transform { case a: AttributeReference => UnresolvedAttribute(outName(a)) }
    }
    val having = b.shape.havingConds.foldLeft(agg)((df, c) => df.where(GraftSqlBridge.column(toOutNames(c))))
    val finalList = b.shape.outerProj.getOrElse(aggExprs)
    val cols = finalList.map {
      case a: AttributeReference => functions.col(outName(a)).as(a.name)
      case Alias(c: AttributeReference, name) => functions.col(outName(c)).as(name)
      case al: Alias if groupIndex(al.child).isDefined =>
        functions.col(s"__g${groupIndex(al.child).get}").as(al.name)
      case al: Alias if aliasNames.contains(al.exprId.id) =>
        functions.col(aliasNames(al.exprId.id)).as(al.name)
      case other => GraftSqlBridge.column(toOutNames(other))
    }
    (having.select(cols: _*), finalList)
  }
}
