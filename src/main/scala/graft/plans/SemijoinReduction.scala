package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef, CTERelationRef, Join, JoinHint, LogicalPlan, Project, WithCTE}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.internal.SQLConf

import graft.cqc.Hypergraph

/**
 * Catalyst optimizer rule: Yannakakis semijoin reduction for multiway
 * inner equi-join clusters written as plain SQL / DataFrame joins — the
 * "Extended Spark SQL" door to the CQC engine (reference: SparkSQLPlus
 * compiles whole queries; graft instead extends Catalyst so existing
 * `spark.sql(...)` text benefits without a separate front-end).
 *
 * For every maximal cluster of inner joins over >= 3 base relations
 * whose equality conditions form a connected alpha-acyclic hypergraph
 * (on the attribute-equivalence classes), the rule replaces each base
 * relation with its fully-reduced form. It plans through the CQC
 * planner the DataFrame door uses: [[Hypergraph.gyo]]'s cost-picked join
 * tree (leaf sizes from the plan's own statistics, so no job runs) and
 * the tree's 2(n-1)-step semijoin schedule, folded here with `LEFT SEMI`
 * joins. Each reduced relation is defined once: one read more than once
 * becomes a `CTERelationDef`, every read a `CTERelationRef` (Spark plans
 * a multi-read def as one shared exchange). Inner-join results are
 * unchanged (a semijoin only removes rows that cannot join), but
 * dangling tuples die in map-side-combinable semijoins BEFORE the
 * expensive shuffle joins — the Yannakakis guarantee, now applied by the
 * optimizer instead of the query author.
 *
 * Off by default (the reduction pays for itself on dangling-heavy
 * inputs, not on PK-FK star joins); enable per session or per statement:
 *   spark.conf.set("spark.graft.semijoinReduction", "true")
 */
object SemijoinReduction extends Rule[LogicalPlan] with PredicateHelper {

  val confKey = "spark.graft.semijoinReduction"

  /** Marks join roots this rule already rebuilt (fixpoint guard). */
  private val reducedTag = TreeNodeTag[Boolean]("graft.semijoin.reduced")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!SQLConf.get.getConfString(confKey, "false").toBoolean) return plan
    rewrite(plan)
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case j @ Join(_, _, Inner, _, _) if j.getTagValue(reducedTag).isEmpty =>
      val (leaves, conds) = flatten(j)
      reduceCluster(j, leaves, conds).getOrElse(j.mapChildren(rewrite))
    case other => other.mapChildren(rewrite)
  }

  /** Attribute-only prunes are transparent to the join cluster. */
  private def isPrune(p: LogicalPlan): Boolean = p match {
    case Project(plist, _) => plist.forall(_.isInstanceOf[Attribute])
    case _ => false
  }

  /** Flatten a tree of inner joins (looking through column prunes) into
    * (base relations, conditions). */
  private def flatten(plan: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) =
    plan match {
      case Join(l, r, Inner, cond, _) =>
        val (ll, lc) = flatten(l)
        val (rl, rc) = flatten(r)
        (ll ++ rl, lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates))
      case p @ Project(_, child) if isPrune(p) => flatten(child)
      case leaf => (Seq(leaf), Nil)
    }

  /**
   * Attempt the reduction; None when the cluster is not eligible
   * (fewer than 3 leaves, cyclic, or not connected by equalities).
   */
  private def reduceCluster(
      root: Join,
      leaves: Seq[LogicalPlan],
      conds: Seq[Expression]): Option[LogicalPlan] = {
    // leaves already produced by this rule (semijoins, shared reads) =>
    // converged
    if (leaves.size < 3 || leaves.forall {
      case Join(_, _, LeftSemi, _, _) | _: CTERelationRef => true
      case _ => false
    }) return None

    // attribute-equivalence classes from the equality conditions, keyed by
    // ExprId (condition references and leaf outputs can differ in
    // qualifier/nullability while being the same attribute)
    val find = Hypergraph.equalityClasses(conds.collect {
      case EqualTo(a: Attribute, b: Attribute) => (a.exprId.id, b.exprId.id)
    })
    val vars = leaves.map(_.output.map(a => find(a.exprId.id)).toSet)
    def shared(a: String, b: String): Seq[Long] =
      (vars(a.toInt) intersect vars(b.toInt)).toSeq.sorted
    val edges = leaves.indices.map(i =>
      Hypergraph.Hyperedge(i.toString, vars(i), leaves(i).stats.sizeInBytes))

    Hypergraph.gyo(edges) match {
      case Left(_) => None // cyclic — leave to Spark's planner (or Ghd API)
      case Right(tree) if tree.parentOf.exists { case (c, p) => shared(c, p).isEmpty } =>
        None // a cross-join component
      case Right(tree) =>
        // var class -> the leaf attribute of a given leaf (a reduced leaf
        // keeps its base relation's output)
        def attrs(leaf: String, vs: Seq[Long]): Seq[Attribute] =
          vs.map(v => leaves(leaf.toInt).output.find(a => find(a.exprId.id) == v).get)
        val defs = scala.collection.mutable.LinkedHashMap[Long, CTERelationDef]()
        val reduced = tree.fullReduce(leaves.indices.map(i => i.toString -> leaves(i)).toMap) {
          (t, s, target, source) =>
            val vs = shared(t, s)
            val cond = attrs(t, vs).zip(attrs(s, vs)).map { case (a, b) => EqualTo(a, b): Expression }
            // the right side only needs the join attributes — prune the
            // shuffle payload to the shared variables
            val d = CTERelationDef(Join(target, Project(attrs(s, vs), source), LeftSemi,
              Some(cond.reduce(And)), JoinHint.NONE))
            defs(d.id) = d
            CTERelationRef(d.id, _resolved = true, d.output, d.isStreaming)
        }

        // rebuild the original join structure over the reduced leaves
        val it = leaves.indices.iterator
        def rebuild(plan: LogicalPlan): LogicalPlan = plan match {
          case j @ Join(l, r, Inner, _, _) =>
            j.copy(left = rebuild(l), right = rebuild(r))
          case p @ Project(_, child) if isPrune(p) =>
            p.copy(child = rebuild(child))
          case _ => reduced(it.next().toString)
        }
        val body = rebuild(root)

        // every reduced relation read once is inlined at its read; the
        // rest stay defined once, in dependency (creation) order
        val reads = (body +: defs.values.toSeq)
          .flatMap(_.collect { case r: CTERelationRef if defs.contains(r.cteId) => r.cteId })
          .groupBy(identity).map { case (id, rs) => id -> rs.size }
        def inline(p: LogicalPlan): LogicalPlan = p.transformUp {
          case r: CTERelationRef if reads.get(r.cteId).contains(1) => inline(defs(r.cteId).child)
        }
        val kept = defs.values.filter(d => reads(d.id) > 1).map(d => d.copy(child = inline(d.child)))
        val out = inline(body)
        out.setTagValue(reducedTag, true)
        Some(WithCTE(out, kept.toSeq))
    }
  }
}
