package graft.cqc

import org.apache.spark.sql.DataFrame

/**
 * A relation in "variable space": the DataFrame's column names ARE the
 * query variables, so two relations sharing a column name are equi-joined
 * on it (natural-join semantics, like the reference's variable model in
 * sqlplus-core expression/Variable.scala).
 */
case class Rel(name: String, df: DataFrame, estHint: Option[BigInt] = None) {
  lazy val vars: Set[String] = df.columns.toSet
}

/**
 * A comparison predicate `left op right` between two sides, each either a
 * plain variable or a computed expression over variables (the CQC case —
 * reference graph/Comparison.scala; computed sides are the reference q2
 * `g1.src + g2.src + g3.src < ...` shape). Ops: < <= > >=.
 *
 * Plain-variable comparisons get bound-annotation pruning along the join
 * tree; computed sides are applied as filters at the first enumeration
 * point where every referenced variable is bound.
 */
case class Cmp(left: String, op: String, right: String) {
  require(Set("<", "<=", ">", ">=")(op), s"unsupported comparison op: $op")
  /** true if the bound to propagate for `right` is a max (left must be below it) */
  def rightBoundIsMax: Boolean = op == "<" || op == "<="
  def sqlExpr: String = s"($left) $op ($right)"

  lazy val leftRefs: Set[String] = Cmp.refsOf(left)
  lazy val rightRefs: Set[String] = Cmp.refsOf(right)

  /** Both sides are bare variables (bound annotation is applicable). */
  def isSimple: Boolean = leftRefs == Set(left) && rightRefs == Set(right)
}

object Cmp {
  /** Variable names a SQL expression string references (parsed, so
    * computed exprs work; the tree is unresolved here so collect attribute
    * NAMES — an unresolved tree's `references` set is empty). */
  private[graft] def refsOf(s: String): Set[String] =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(s)
      .collect { case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => ua.name }
      .toSet
}

/**
 * One aggregate of the factorized pass ([[Yannakakis.aggOverJoin]]),
 * computed over the natural join and named `name` in the output.
 */
sealed trait Agg { def name: String }

object Agg {
  /** Σ over the join of the product of `vars`; each var must live in
    * exactly one relation. `Nil` is COUNT(*), one var is SUM(v). */
  case class Sum(name: String, vars: Seq[String]) extends Agg
  /** MIN(v); `v` may be a shared join variable (idempotent). */
  case class Min(name: String, v: String) extends Agg
  /** MAX(v); `v` may be a shared join variable (idempotent). */
  case class Max(name: String, v: String) extends Agg
}

class CyclicQueryException(msg: String) extends RuntimeException(msg)

/**
 * The shape of a rooted tree over named nodes: parent pointers, the two
 * traversal orders, and the full reducer's semijoin schedule. GYO
 * ([[Hypergraph.gyo]]) returns one over plain hyperedges; [[JoinTree]]
 * attaches the relations.
 */
class TreeShape(val root: String, val parentOf: Map[String, String]) {

  /** The same (undirected) tree re-rooted at `newRoot`: parent pointers
    * along the path newRoot..root flip direction. Any node of a join tree
    * can serve as root — the running-intersection property is undirected
    * — so this is how a cost model picks WHERE enumeration starts without
    * re-running GYO. */
  def rerooted(newRoot: String): TreeShape = {
    require(newRoot == root || parentOf.contains(newRoot), s"unknown node $newRoot")
    if (newRoot == root) this
    else {
      // ancestors newRoot -> ... -> old root, then flip each edge on it
      val up = scala.collection.mutable.ArrayBuffer(newRoot)
      while (parentOf.contains(up.last)) up += parentOf(up.last)
      val flipped = scala.collection.mutable.Map[String, String]() ++ parentOf
      flipped -= newRoot
      for (i <- 0 until up.length - 1) flipped(up(i + 1)) = up(i)
      new TreeShape(newRoot, flipped.toMap)
    }
  }

  val childrenOf: Map[String, Seq[String]] =
    parentOf.toSeq.groupBy(_._2).map { case (p, kids) => p -> kids.map(_._1).sorted }
      .withDefaultValue(Seq.empty)

  /** Nodes ordered leaves-first (every node appears before its parent). */
  lazy val bottomUp: Seq[String] = topDown.reverse

  /** Nodes ordered root-first (every node appears after its parent). */
  lazy val topDown: Seq[String] = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    def walk(n: String): Unit = { buf += n; childrenOf(n).foreach(walk) }
    walk(root)
    buf.toSeq
  }

  /** The full reducer (the paper's pass 1, reference
    * ImplicitConversions.scala:178) folded over per-node plans from
    * `leaves`: 2(n-1) steps `target := semijoin(target, source,
    * targetPlan, sourcePlan)` — bottom-up (parent ⋉ child), then top-down
    * (child ⋉ parent). Generic in the plan type — DataFrames in
    * [[Yannakakis.fullReduce]], logical plans in
    * [[graft.plans.SemijoinReduction]]. */
  def fullReduce[P](leaves: Map[String, P])(semijoin: (String, String, P, P) => P): Map[String, P] =
    (bottomUp.flatMap(n => parentOf.get(n).map(p => p -> n)) ++ topDown.drop(1).map(n => n -> parentOf(n)))
      .foldLeft(leaves) { case (m, (t, s)) => m.updated(t, semijoin(t, s, m(t), m(s))) }
}

/**
 * Join tree of an acyclic conjunctive query: a [[TreeShape]] over the
 * relations, found by GYO ear decomposition (reference: sqlplus-core
 * gyo/GyoAlgorithm.scala — ours is a fresh implementation of the
 * textbook algorithm, driver-side only and O(edges^2 * vars), negligible
 * vs. data volume).
 */
final class JoinTree(val rels: Map[String, Rel], shape: TreeShape)
    extends TreeShape(shape.root, shape.parentOf) {

  override def rerooted(newRoot: String): JoinTree = {
    require(rels.contains(newRoot), s"unknown relation $newRoot")
    if (newRoot == root) this else new JoinTree(rels, super.rerooted(newRoot))
  }

  def sharedVars(a: String, b: String): Seq[String] =
    (rels(a).vars intersect rels(b).vars).toSeq.sorted

  /** Human-readable dry-run description: every node with its parent edge,
    * shared join variables, and the driver-side size estimate the cost
    * pick used — the plan surface WITHOUT executing anything (reference
    * convert/DryRunHandler.scala:6 prints its candidate plans the same
    * way). */
  def describe: String =
    topDown.map { n =>
      val edge = parentOf.get(n)
        .map(p => s"<- $p on [${sharedVars(n, p).mkString(",")}]")
        .getOrElse("(root)")
      s"$n $edge est=${Hypergraph.estSize(rels(n))}B"
    }.mkString("\n")

  /** Tree path between two nodes (inclusive). */
  def path(from: String, to: String): Seq[String] = {
    def ancestors(n: String): List[String] =
      n :: parentOf.get(n).map(ancestors).getOrElse(Nil)
    val fa = ancestors(from)
    val ta = ancestors(to)
    val common = fa.find(ta.contains).getOrElse(root)
    val up = fa.takeWhile(_ != common) :+ common
    val down = ta.takeWhile(_ != common).reverse
    up ++ down
  }
}

object Hypergraph {

  /** Driver-side size estimate from Catalyst's optimized-plan stats —
    * pure metadata (parquet footer sizes x selectivity guesses), no jobs.
    * The reference's cost pick reads table statistics the same way
    * (its join-tree candidates are costed before compilation).
    *
    * A relation constructed with an `estHint` overrides the stats: the
    * hint carries knowledge Catalyst's estimator lacks — e.g. a keyed
    * aggregate folded into a host relation is multiplicity-neutral
    * (≤ one match per host row), so the enriched relation is at most
    * host-sized, while the stats multiply the join children into
    * garbage (measured: a 37 KB example-graph edge list estimated at
    * 1.1 GB after one degree-subquery fold, poisoning both the tree
    * cost pick and the direct-route gate). */
  private[graft] def estSize(r: Rel): BigInt =
    r.estHint.getOrElse(
      try r.df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) })

  /** A hyperedge as GYO sees it: a name, its variables, and its
    * estimated size in bytes (the cost pick's only input). */
  final case class Hyperedge[V](name: String, vars: Set[V], bytes: BigInt)

  private def hyperedges(rels: Seq[Rel]): Seq[Hyperedge[String]] =
    rels.map(r => Hyperedge(r.name, r.vars, estSize(r)))

  /**
   * The one GYO reduction → join tree, COST-PICKED among the valid
   * candidates (reference: gyo/GyoAlgorithm.scala feeding a costed
   * candidate pick):
   *  - each round absorbs the SMALLEST available ear, so small relations
   *    sit deep in the tree and semijoin filters flow outward from them;
   *  - among witnesses of that ear, prefer the largest shared-variable
   *    overlap (strongest semijoin), tie-broken by smaller size, then
   *    name (determinism);
   *  - the finished tree is re-rooted at the LARGEST hyperedge: the big
   *    side is reduced by every child before enumeration ever widens it,
   *    and the accumulated intermediate joins against small reduced
   *    children (AQE broadcasts them) instead of meeting the big
   *    relation last.
   * Tree choice never changes results (join trees of an acyclic query
   * are result-equivalent — spec-verified); it changes shuffle payloads.
   * Right(tree) when alpha-acyclic, else Left(the names of the
   * hyperedges left un-absorbed — the cyclic core). Plain hyperedges, so
   * the DataFrame door ([[joinTree]]) and the Catalyst rule
   * ([[graft.plans.SemijoinReduction]]) plan through the same code.
   */
  def gyo[V](edges: Seq[Hyperedge[V]]): Either[Seq[String], TreeShape] = {
    require(edges.map(_.name).distinct.size == edges.size, "relation names must be unique")
    val byName = edges.map(e => e.name -> e).toMap
    var alive = scala.collection.immutable.ListMap(edges.map(e => e.name -> e.vars): _*)
    val parent = scala.collection.mutable.Map[String, String]()

    var progress = true
    while (alive.size > 1 && progress) {
      progress = false
      val candidates = alive.iterator.flatMap { case (e, vs) =>
        val others = alive - e
        val isolated = vs.filter(v => !others.valuesIterator.exists(_.contains(v)))
        val rest = vs -- isolated
        // an "ear": its non-isolated vars are covered by a single witness;
        // collect every witness and keep the best one for this ear
        val witnesses = others.collect { case (w, wvs) if rest.subsetOf(wvs) => w }
        if (witnesses.isEmpty) None
        else {
          val w = witnesses.minBy(w =>
            (-(vs intersect byName(w).vars).size, byName(w).bytes, w))
          Some((e, w))
        }
      }.toSeq
      if (candidates.nonEmpty) {
        val (ear, witness) = candidates.minBy { case (e, _) => (byName(e).bytes, e) }
        parent(ear) = witness
        alive -= ear
        progress = true
      }
    }
    if (alive.size > 1) Left(alive.keys.toSeq)
    else Right(new TreeShape(alive.head._1, parent.toMap)
      .rerooted(edges.maxBy(e => (e.bytes, e.name)).name))
  }

  /** Union-find over `a = b` ExprId pairs: maps an id to its class
    * representative (itself when no pair names it) — the join variables
    * of the SQL door and [[graft.plans.SemijoinReduction]]. */
  def equalityClasses(pairs: Seq[(Long, Long)]): Long => Long = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(id: Long): Long = {
      val p = parent.getOrElse(id, id)
      if (p == id) id else { val r = find(p); parent(id) = r; r }
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    find
  }

  /** [[gyo]] over relations (variables are column names): the cost-picked
    * tree, or — while a [[withRootHint]] is active on this thread — the
    * same tree rooted at the hinted relation. Throws
    * CyclicQueryException when not alpha-acyclic (cyclic queries go
    * through [[graft.wcoj]] / GHD instead). */
  def joinTree(rels: Seq[Rel]): JoinTree = tryJoinTree(rels).fold(core =>
    throw new CyclicQueryException(
      s"query is cyclic; remaining hyperedges: ${core.mkString(", ")}"), identity)

  /** [[joinTree]], or Left(the cyclic core) when not alpha-acyclic: ONE
    * GYO run for callers that branch on acyclicity and then use the
    * tree (the dry-run surfaces). */
  def tryJoinTree(rels: Seq[Rel]): Either[Seq[String], JoinTree] =
    gyo(hyperedges(rels)).map { shape =>
      val byName = rels.map(r => r.name -> r).toMap
      new JoinTree(byName, activeRootHint.filter(byName.contains).fold(shape)(shape.rerooted))
    }

  /** Candidate-pick surface for callers that cannot pass a [[JoinTree]]
    * (the SQL door / web API): while `f` runs on this thread, [[joinTree]]
    * roots its ENUMERATION tree at `root` instead of the cost pick.
    * Tree choice never changes results (rerooting preserves the
    * running-intersection property); the fast aggregate paths reroot by
    * their own semantics and ignore the hint. Reference: sqlplus-web's
    * candidate-tree pick feeding convert/HintHandler.scala:9. */
  private val rootHintTL = new ThreadLocal[String]
  def withRootHint[T](root: String)(f: => T): T = {
    rootHintTL.set(root)
    try f finally rootHintTL.remove()
  }
  /** Whether a caller pinned a root on this thread — leaf-merging
    * rewrites are disabled under a pin so the named rel can't vanish. */
  private[graft] def activeRootHint: Option[String] = Option(rootHintTL.get)

  /** Every valid join tree the cost model chooses among: the GYO tree
    * rerooted at each relation (rerooting preserves the running-
    * intersection property, so all are result-equivalent — spec-verified);
    * empty when the relations are cyclic. The HINT surface: inspect with
    * [[JoinTree.describe]], then pin one via [[Yannakakis.solveWithTree]]
    * (reference convert/HintHandler.scala:9 pins user-chosen join trees
    * the same way). */
  def candidateTrees(rels: Seq[Rel]): Seq[JoinTree] = gyo(hyperedges(rels)) match {
    case Left(_) => Seq.empty
    case Right(shape) =>
      val byName = rels.map(r => r.name -> r).toMap
      rels.map(r => new JoinTree(byName, shape.rerooted(r.name)))
  }

  /** Names of the hyperedges left un-absorbed when GYO stalls — the
    * cyclic core of the query (empty when alpha-acyclic). [[graft.wcoj.Ghd]]
    * evaluates exactly this set worst-case-optimally as one bag. */
  def cyclicCore(rels: Seq[Rel]): Seq[String] = gyo(hyperedges(rels)).left.getOrElse(Seq.empty)
}
