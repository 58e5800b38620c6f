package graft.cqc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType}

import graft.functions.DecimalExact

/**
 * Yannakakis-style evaluation of acyclic conjunctive queries with
 * comparisons (CQC), expressed entirely in DataFrame operations so that
 * Catalyst/Tungsten/AQE pick the physical strategy (hash vs broadcast
 * semijoin, skew handling, codegen).
 *
 * Mapping from the reference's RDD runtime (sqlplus-lib
 * helper/ImplicitConversions.scala) to Spark-first constructs:
 *
 *  - `semiJoin` (:178)                  -> `join(..., "left_semi")`
 *  - `appendExtraColumn`+`extractFieldInHeadElement` (:125,:73) —
 *    per-join-key min/max annotation    -> `groupBy(keys).agg(min/max)`
 *    + inner join + filter (partial aggregation is map-side; the
 *    annotation payload is key+1 value, broadcastable when small)
 *  - `sortValuesWith`+`takeWhile` enumeration (:61,:229) -> equi-join on
 *    fully-reduced inputs + comparison filter applied at the first join
 *    where both sides are bound (Catalyst evaluates it inside the join)
 *  - TreeLikeArray two-comparison pruning (cqc/TreeLikeArray.scala) ->
 *    both bounds annotated per key (min of one column, max of the other),
 *    exact residual filter at enumeration.
 *
 * The full reducer guarantees dangling-free inputs, so intermediate join
 * results of a full CQ are bounded by the output size; comparison
 * annotations additionally prune rows that cannot satisfy any comparison
 * partner, which is what makes CQC output-sensitive.
 */
object Yannakakis {

  /** The direct-route size gate (see [[solveWithTree]]): true when every
    * relation's driver-side estimate ([[Hypergraph.estSize]] — stats, or
    * the fold's multiplicity-neutral hint) is at or under
    * `spark.graft.direct.threshold` bytes. 0 or negative disables the
    * route (every query takes the full reducer — the scale path). The
    * default is deliberately far below `autoBroadcastJoinThreshold`:
    * direct enumeration forfeits the output-sensitive intermediate bound,
    * so it is only taken where the measured reducer overhead exceeds any
    * possible pruning payoff (fixed-size dimension-like inputs), never at
    * "merely broadcastable" sizes where reduction already wins (see the
    * measured crossover in the solveWithTree note).
    */
  private[graft] def routesDirect(rels: Seq[Rel]): Boolean =
    rels.nonEmpty && {
      val thr = directThreshold(rels.head.df.sparkSession)
      thr > 0 && rels.forall(r => Hypergraph.estSize(r) <= BigInt(thr))
    }

  /** `spark.graft.direct.threshold` in bytes (default 262144); a value
    * that is not a whole number throws, naming the key and the value. */
  private[graft] def directThreshold(spark: SparkSession): Long = {
    val key = "spark.graft.direct.threshold"
    val raw = spark.conf.get(key, "262144")
    raw.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be a whole number of bytes, got '$raw'"))
  }

  /** Cache policy for leaf INPUTS: base-table scans stay lazy (pushdown-
    * pruned columnar reads are the cheap path, and at 100 TB raw inputs
    * don't fit in any cache) — but a DERIVED leaf (aggregate / join /
    * distinct / window subquery) re-runs its whole shuffle every time a
    * reducer pass references it, and by construction it has already
    * shrunk. Persist those (tracked). A welcome side effect: duplicated
    * derived leaves (e.g. ref q3's three identical degree subqueries)
    * canonically dedup in the CacheManager — one materialization serves
    * every copy. */
  private def cacheDerivedLeaf(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // Aggregate/Window leaves only: those re-run a full shuffle per
    // reference and have shrunk by construction. Distinct-projection
    // leaves (the derived edge lists) measured ~break-even-to-negative
    // under caching — their re-derivation is a pushdown-pruned scan +
    // one exchange, cheaper than a materialize-and-read-back.
    // TOP operator only (descending through unary wrappers): a leaf whose
    // ROOT is a join (e.g. an edge enriched with a folded keyed aggregate)
    // is fact-sized at scale — persisting it would materialize the fact
    // side; the tiny aggregate beneath it is persisted separately by the
    // fold itself and shared via the CacheManager's canonical match.
    @annotation.tailrec
    def topAgg(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: Window => true
      case _: Join => false
      case u: UnaryNode => topAgg(u.child)
      case _ => false
    }
    if (topAgg(df.queryExecution.analyzed)) graft.CacheRegistry.persistTracked(df)
    else df
  }

  /** Reducer policy for enumeration ([[solveWithTree]]) and the message
    * pass ([[aggOverJoin]]): the direct-route cost gate, for every
    * aggregate kind. Correctness does not need the reducer in the message
    * pass — every child message joins its parent INNER (per key), and the
    * root only keeps rows matched by a message from every child subtree,
    * so dangling rows drop out of the weights and the extrema on their
    * own; reduction just prunes them earlier. */
  private def reducedForMessages(tree: JoinTree): Map[String, DataFrame] =
    if (routesDirect(tree.rels.values.toSeq))
      tree.rels.map { case (n, r) => n -> cacheDerivedLeaf(r.df) }.toMap
    else fullReduce(tree)

  /**
   * Remove all dangling tuples: the tree's semijoin schedule
   * ([[TreeShape.fullReduce]]) folded with `left_semi` joins (the classic
   * full reducer). Returns the reduced DataFrame per relation.
   */
  def fullReduce(tree: JoinTree): Map[String, DataFrame] =
    tree.fullReduce(tree.rels.map { case (n, r) => n -> cacheDerivedLeaf(r.df) }) {
      (t, s, target, source) =>
        val shared = tree.sharedVars(t, s)
        if (shared.isEmpty) target
        else target.join(source.select(shared.map(col): _*), shared, "left_semi")
    }

  /**
   * Evaluate the natural join of `rels` (+ comparison predicates) with
   * semijoin reduction, comparison-bound annotation pruning, and
   * output-sensitive enumeration. The result columns are all distinct
   * variables, in sorted order.
   */
  def solve(rels: Seq[Rel], cmps: Seq[Cmp] = Nil): DataFrame =
    solve(rels, cmps, Nil)

  /**
   * As above, plus `residualSql`: arbitrary predicates over the variables
   * (disjunctions, multi-relation expressions — anything that is not a
   * plain `Cmp`). Each is applied at the FIRST enumeration point where
   * every referenced variable is bound — the earliest the semantics
   * allow — so a cross-relation OR filters the join as it happens
   * instead of after the full result materializes.
   */
  def solve(rels: Seq[Rel], cmps: Seq[Cmp], residualSql: Seq[String]): DataFrame =
    solveWithTree(Hypergraph.joinTree(rels), cmps, residualSql)

  /**
   * The HINT door (reference convert/HintHandler.scala:9): evaluate with
   * a CALLER-PINNED join tree instead of the cost pick — any candidate
   * from [[Hypergraph.candidateTrees]] (or any rerooting; all join trees
   * of an acyclic query are result-equivalent, so a hint changes shuffle
   * payloads and enumeration order, never the answer). Inspect candidates
   * first with [[JoinTree.describe]] — the dry-run surface.
   */
  def solveWithTree(
      tree: JoinTree,
      cmps: Seq[Cmp] = Nil,
      residualSql: Seq[String] = Nil): DataFrame = {
    // Materialization discipline: every relation is referenced by several
    // passes (bottom-up semijoins, top-down semijoins, bound carriers,
    // enumeration). Left fully lazy, each reference re-embeds the whole
    // upstream plan — a measured 95 base-table FileScans for the
    // 5-relation flagship query. We persist ONLY the reduced relations
    // (below): they are the small, dangling-free outputs — the standard
    // Yannakakis materialization points (checkpoints at cluster scale).
    // Raw leaf inputs are deliberately NOT cached: at 100 TB the inputs
    // do not fit anywhere, and the 2-3 leaf reads the reducer makes are
    // pushdown-pruned columnar scans — the cheap path.
    //
    // COST-GATED ROUTE: when every leaf is estimated under
    // `spark.graft.direct.threshold` (default 256 KB), skip the reducer,
    // the bound annotation, and the per-relation persists, and run the
    // tree-ordered enumeration directly — every comparison/residual still
    // applies at its earliest binding (applyReady below), so the result
    // is identical; what is forfeited is the O(input+output) intermediate
    // guarantee, i.e. exactly the plan stock Spark runs for these sizes
    // (a broadcast-join cascade with pushed filters). At this scale the
    // reducer's 2(N-1) semijoins + N persists are pure scheduling breadth:
    // measured on local[32], ref-example bodies (≤40 KB leaves) run
    // 2–3x faster direct (q5: 61→20 stage-jobs, 7.6→1.5 s warm) while a
    // ~1.1 MB-leaf body (TPC-H Q9 profit block at sf0.1) is already 1.2x
    // FASTER with the reducer — the default threshold sits between the
    // two measured regimes, and anything cluster-scale is far above it.
    val direct = routesDirect(tree.rels.values.toSeq)
    val reduced = scala.collection.mutable.Map[String, DataFrame]() ++ reducedForMessages(tree)

    // Comparison-bound annotation: for `x op y` with x computed over rel A
    // and y computed over rel B (A != B), propagate the best bound of the
    // y-expression along the tree path from B to A, per join key, then
    // filter A. Prunes A-rows having no possible comparison partner — the
    // CQC reduction. COMPUTED sides participate too (the reference q2/q10
    // sum-comparison shape): the bound carrier simply aggregates the
    // expression's value instead of a bare column. All comparisons sharing
    // the same (A, B) pair are FUSED into one aggregate + one join (the
    // TreeLikeArray double-bound case costs the same shuffle count as a
    // single bound), preserving first-occurrence order for determinism.
    val located = cmps.flatMap { cmp =>
      val locL = tree.rels.values
        .find(r => cmp.leftRefs.nonEmpty && cmp.leftRefs.subsetOf(r.vars)).map(_.name)
      val locR = tree.rels.values
        .find(r => cmp.rightRefs.nonEmpty && cmp.rightRefs.subsetOf(r.vars)).map(_.name)
      (locL, locR) match {
        case (Some(a), Some(b)) if a != b => Some(((a, b), cmp))
        case _ => None // same-relation / multi-relation side: residual covers it
      }
    }
    for (pair <- located.map(_._1).distinct if !direct) {
      val group = located.collect { case (`pair`, c) => c }
      annotateAndFilter(tree, reduced, pair._1, pair._2, group)
    }

    // Dangling-free, comparison-pruned relations are the enumeration
    // inputs; persist them — each is referenced by the enumeration join
    // AND was built from multi-referenced intermediates. Tracked in
    // CacheRegistry: callers release with CacheRegistry.unpersistAll()
    // after materializing the result.
    // On the direct route the leaves are broadcast-sized and referenced
    // exactly once (the enumeration join) — a persist would only insert
    // materialization barriers between AQE stages (measured: 29→262
    // stage-jobs when persists are dropped on the REDUCED route, whose
    // relations ARE multi-referenced, vs 33→29 when dropped on the
    // direct route).
    if (!direct)
      tree.topDown.foreach(n => reduced(n) = graft.CacheRegistry.persistTracked(reduced(n)))

    // Enumeration: fold natural joins root-first; apply each comparison /
    // residual predicate as soon as its variables are bound (earliest
    // possible filtering, like enumerateWithOneComparison's takeWhile).
    var acc = reduced(tree.root)
    var pending: Seq[(String, Set[String])] =
      cmps.map(c => c.sqlExpr -> (c.leftRefs ++ c.rightRefs)) ++
        residualSql.map(s => s -> Cmp.refsOf(s))
    def applyReady(): Unit = {
      val bound = acc.columns.toSet
      val (ready, rest) = pending.partition { case (_, refs) => refs.subsetOf(bound) }
      ready.foreach { case (sql, _) => acc = acc.where(expr(sql)) }
      pending = rest
    }
    applyReady()
    for (n <- tree.topDown.drop(1)) {
      val shared = acc.columns.toSet intersect tree.rels(n).vars
      acc =
        if (shared.nonEmpty) acc.join(reduced(n), shared.toSeq.sorted, "inner")
        else acc.crossJoin(reduced(n))
      applyReady()
    }
    require(pending.isEmpty, s"unresolved predicates: ${pending.map(_._1)}")
    acc.select(acc.columns.sorted.map(col): _*)
  }

  /**
   * Aggregates over the natural join of `rels`, grouped by `groupVars`,
   * computed WITHOUT enumerating the join: one bottom-up message pass
   * over the join tree (aggregation pushdown, the FAQ/AJAR formulation;
   * the reference aggregates only after enumeration — TpchQueriesTest —
   * which is the part that cannot scale when the join output is huge).
   *
   * Each [[Agg.Sum]] is one weight column of a product-weight semiring.
   * A row's weight is seeded with the product of the sum's vars that
   * live in its relation (1 where none do); absorbing a child message
   * multiplies the child's per-key weight in; a message is the per-join-
   * key Σ of its subtree's weights. The root's Σ per group is therefore
   * Σ over the join of Π vars: COUNT(*) is the zero-factor case, SUM(x)
   * the one-factor case, Σ x_A·y_B the two-factor case. [[Agg.Min]] and
   * [[Agg.Max]] ride the same messages: extrema are idempotent, so a
   * child's extremum combines with `least`/`greatest`, and relations
   * without the variable carry a typed null, which both skip. One
   * shuffle per tree edge, however many aggregates; every message is a
   * small (key, weights) aggregate — map-side combinable, broadcastable —
   * so the join result (|edges|^depth rows on a path) never exists.
   *
   * `groupVars` must be covered by one relation; the tree is re-rooted
   * there. The output is `groupVars` plus one column per aggregate,
   * named by it. Comparisons are not supported (they break the
   * per-subtree factorization); use [[solve]] + groupBy for those.
   * Weights multiply through [[exactTimes]]: integral and decimal vars
   * stay exact, floats carry the usual Spark-sum caveat.
   */
  def aggOverJoin(rels: Seq[Rel], groupVars: Seq[String], aggs: Seq[Agg]): DataFrame = {
    require(aggs.nonEmpty, "aggOverJoin needs at least one aggregate")
    val rootRel = rels.find(r => groupVars.toSet.subsetOf(r.vars)).getOrElse(
      throw new IllegalArgumentException(
        s"groupVars $groupVars must be covered by a single relation"))
    def typeOf(v: String): DataType = rels.find(_.vars.contains(v)).getOrElse(
      throw new IllegalArgumentException(s"variable $v appears in no relation"))
      .df.schema(v).dataType
    aggs.collect { case Agg.Sum(_, vs) => vs }.flatten.foreach(v =>
      require(rels.count(_.vars.contains(v)) == 1,
        s"sum variable $v must appear in exactly ONE relation (a shared join " +
          "variable would be seeded once per copy and overcounted)"))
    val tree = Hypergraph.joinTree(rels).rerooted(rootRel.name)
    val reduced = reducedForMessages(tree)
    val ws = aggs.zipWithIndex.map {
      case (_: Agg.Sum, i) => s"__sum$i"
      case (_, i) => s"__ex$i"
    }
    def times(df: DataFrame, a: String, b: String): Column =
      exactTimes(col(a), df.schema(a).dataType, col(b), df.schema(b).dataType)

    def seeded(n: String): DataFrame = {
      val own = tree.rels(n).vars
      def extremum(v: String): Column = if (own(v)) col(v) else lit(null).cast(typeOf(v))
      val factors = aggs.map {
        case Agg.Sum(_, vs) => vs.filter(own)
        case _ => Nil
      }
      val first = reduced(n).withColumns(aggs.zip(ws).zip(factors).map {
        case ((_: Agg.Sum, w), vs) => w -> vs.headOption.map(col).getOrElse(lit(1L))
        case ((Agg.Min(_, v), w), _) => w -> extremum(v)
        case ((Agg.Max(_, v), w), _) => w -> extremum(v)
      }.toMap)
      // further factors living in the same relation multiply in, typed
      factors.zip(ws).foldLeft(first) { case (df, (vs, w)) =>
        vs.drop(1).foldLeft(df)((d, v) => d.withColumn(w, times(d, w, v)))
      }
    }
    val msg = scala.collection.mutable.Map[String, DataFrame]()
    def withChildMsgs(n: String): DataFrame =
      tree.childrenOf(n).foldLeft(seeded(n)) { (df, c) =>
        val ck = tree.sharedVars(c, n)
        val m = msg(c).withColumnsRenamed(ws.map(w => w -> s"${w}_c").toMap)
        val j =
          if (ck.nonEmpty) df.join(m, ck, "inner")
          else df.crossJoin(m) // disconnected edge: the semiring still multiplies
        j.withColumns(aggs.zip(ws).map {
          case (_: Agg.Sum, w) => w -> times(j, w, s"${w}_c")
          case (_: Agg.Min, w) => w -> least(col(w), col(s"${w}_c"))
          case (_: Agg.Max, w) => w -> greatest(col(w), col(s"${w}_c"))
        }.toMap).drop(ws.map(w => s"${w}_c"): _*)
      }
    def rollUp(df: DataFrame, keys: Seq[String], names: Seq[String]): DataFrame = {
      val cols = aggs.zip(ws).zip(names).map {
        case ((_: Agg.Sum, w), nm) => sum(col(w)).as(nm)
        case ((_: Agg.Min, w), nm) => min(col(w)).as(nm)
        case ((_: Agg.Max, w), nm) => max(col(w)).as(nm)
      }
      df.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
    }
    for (n <- tree.bottomUp if n != tree.root)
      msg(n) = rollUp(withChildMsgs(n), tree.sharedVars(n, tree.parentOf(n)), ws)
    rollUp(withChildMsgs(tree.root), groupVars, aggs.map(_.name))
  }

  /** The semiring's typed multiply. DECIMAL factors run on
    * [[graft.functions.DecimalExact]] (DECIMAL(38, s) products, r16):
    * Spark's native decimal `*` adjusts precision by SHRINKING scale
    * (never below 6), so scale > 6 weights would be silently rounded
    * mid-semiring; the exact op keeps the scale and nulls on magnitude
    * overflow (the stock capped-accumulator class). The factor-scale sum
    * must stay ≤ 38, which the door gate pre-checks (a direct API caller
    * gets the expression's loud require instead). */
  private[graft] def exactTimes(a: Column, at: DataType, b: Column, bt: DataType): Column = {
    def fractional(t: DataType): Boolean = t == DoubleType || t == FloatType
    (at, bt) match {
      case (_: DecimalType, _: DecimalType) => DecimalExact.times(a, b)
      // a fractional factor cannot ride timesCount (it casts the factor
      // to DECIMAL(20,0), silently rounding 0.5 to 0 — r16 advice); the
      // product honestly degrades to double instead
      case (_: DecimalType, o) if fractional(o) => a * b
      case (o, _: DecimalType) if fractional(o) => a * b
      case (_: DecimalType, _) => DecimalExact.timesCount(a, b)
      case (_, _: DecimalType) => DecimalExact.timesCount(b, a)
      case _ => a * b
    }
  }

  /**
   * Propagate the min/max bounds of every `cmp.right` in `cmps` (all
   * living in node `b`) along the tree path to node `a` in ONE fused
   * carrier, then filter `a` on all of them at once. Each hop is a single
   * per-key aggregate (map-side combinable, all bounds as extra agg
   * columns — the shuffle payload grows by one value per comparison, not
   * one pass per comparison) plus an inner join.
   */
  private def annotateAndFilter(
      tree: JoinTree,
      reduced: scala.collection.mutable.Map[String, DataFrame],
      a: String,
      b: String,
      cmps: Seq[Cmp]): Unit = {
    val hops = tree.path(b, a) // b ... a
    // relation names can contain expression operators (GHD bags are named
    // "g1+g2"), so sanitize everything embedded in a column name that
    // later round-trips through expr()
    def safe(s: String): String = s.replaceAll("[^A-Za-z0-9_]", "_")
    val bound = cmps.zipWithIndex.map { case (c, i) =>
      c -> s"__bound${i}_${safe(c.right)}_${safe(a)}_${safe(b)}"
    }

    // Walk from b toward a, carrying all per-join-key bounds together.
    // The first hop projects each right-hand side as an EXPRESSION over
    // b's variables (a bare column is just the simplest case), so computed
    // comparison sides get the same per-key bound machinery.
    var carrier: DataFrame = null
    for (i <- 0 until hops.length - 1) {
      val cur = hops(i)
      val next = hops(i + 1)
      val keys = tree.sharedVars(cur, next)
      if (keys.isEmpty) return // disconnected hop: bail out, residual filter still applies
      val base =
        if (i == 0) reduced(cur).select(
          keys.map(col) ++ bound.map { case (c, bc) => expr(c.right).as(bc) }: _*)
        else reduced(cur).join(carrier, tree.sharedVars(hops(i - 1), cur), "inner")
      val aggs = bound.map { case (c, bc) =>
        (if (c.rightBoundIsMax) max(col(bc)) else min(col(bc))).as(bc)
      }
      carrier = base.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
    if (carrier == null) return
    val aKeys = tree.sharedVars(hops(hops.length - 2), a)
    val cond = bound.map { case (c, bc) => s"((${c.left}) ${c.op} $bc)" }.mkString(" AND ")
    val filtered = reduced(a)
      .join(carrier, aKeys, "inner")
      .where(expr(cond))
      .drop(bound.map(_._2): _*)
    reduced(a) = filtered
  }
}
