package graft.wcoj

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.cqc.{Agg, Cmp, Hypergraph, Rel, Yannakakis}

/**
 * Generalized hypertree decomposition for cyclic conjunctive queries
 * (reference: sqlplus-core ghd/GhdAlgorithm.scala + convert/
 * CyclicHandler.scala decompose cyclic queries into bags, evaluate each
 * bag worst-case-optimally with Leapfrog Trie Join, then run Yannakakis
 * over the now-acyclic bag tree).
 *
 * Spark-first realization: planning is driver-side metadata only. When
 * the GYO reducer stalls (the residual hypergraph is cyclic), the stuck
 * core is evaluated WORST-CASE-OPTIMALLY in one shot: a CERTIFICATE
 * relation holding the distinct variable bindings that satisfy every
 * core pattern, computed by the hypercube-partitioned [[Lftj]] operator
 * ([[Lftj.enumerateMulti]] — each core member is its own input, so leaf
 * filters survive). The certificate is ADDED to the relation set (its
 * scope covers the core, so the hypergraph becomes acyclic) while the
 * original members stay — they re-supply multiplicities and exact
 * column types during Yannakakis enumeration, each as an
 * output-sensitive join against the small certificate. The full join of
 * the core therefore stays within the AGM bound end to end; a binary
 * join of two core members (|E|²/d two-path rows for a triangle) never
 * materializes.
 *
 * Cores that are not all-binary/integral (or are too wide for hypercube
 * replication) fall back to the width-2 greedy merge: join the two
 * relations sharing the most variables, cost-tie-broken by driver-side
 * plan stats, and repeat.
 */
object Ghd {

  /** Decompose until the hypergraph is alpha-acyclic; returns the
    * relations plus any certificate/bag relations added. */
  def decompose(rels: Seq[Rel]): Seq[Rel] = {
    var current = rels.toVector
    var guard = 0
    var core = Hypergraph.cyclicCore(current).toSet
    while (core.nonEmpty && guard < 2 * rels.size + 2) {
      guard += 1
      val coreRels = current.filter(r => core.contains(r.name))
      val coreVars = coreRels.flatMap(_.vars).distinct.sorted
      val integralBinary = coreRels.forall { r =>
        r.df.columns.length == 2 && r.df.schema.fields.forall(f =>
          Set[org.apache.spark.sql.types.DataType](
            ByteType, ShortType, IntegerType, LongType).contains(f.dataType))
      }
      if (coreRels.size >= 3 && integralBinary && coreVars.size <= 6) {
        // WCOJ certificate bag over the whole stuck core. cubeSide = 0:
        // cost-picked from input stats + parallelism (Lftj.autoSide) —
        // per-tuple replication side^(n-2) stays minimal while cells
        // stay executor-sized as the input grows.
        val inputs = coreRels.map(r => (r.df, (r.df.columns(0), r.df.columns(1))))
        val bindings = Lftj.enumerateMulti(inputs, coreVars)
        // LFTJ enumerates in long space; surface each variable in the
        // dtype its member column has, so downstream joins/output schemas
        // are unchanged
        val dtypes = coreRels.flatMap(r => r.df.schema.fields.map(f => f.name -> f.dataType)).toMap
        val cert = bindings.select(coreVars.map(v => col(v).cast(dtypes(v)).as(v)): _*)
        // referenced by every member's semijoin + the enumeration — the
        // one materialization point of the cyclic path
        val certP = graft.CacheRegistry.persistTracked(cert)
        current = current :+ Rel(coreRels.map(_.name).mkString("+"), certP)
      } else {
        // greedy width-2 merge fallback: join the pair sharing the most
        // variables; among equally-connected pairs, the SMALLEST combined
        // estimated size — the bag's join is materialization the
        // enumeration re-reads, so build the cheap bag
        val pairs = for {
          i <- current.indices; j <- current.indices if i < j
          shared = (current(i).vars intersect current(j).vars).size if shared > 0
        } yield (i, j, shared)
        val (i, j, _) = pairs.maxBy { case (i, j, s) =>
          (s, -(Hypergraph.estSize(current(i)) + Hypergraph.estSize(current(j))), -i, -j)
        }
        val a = current(i)
        val b = current(j)
        val keys = (a.vars intersect b.vars).toSeq.sorted
        val bag = Rel(s"${a.name}+${b.name}", a.df.join(b.df, keys, "inner"))
        current = current.patch(j, Nil, 1).patch(i, Seq(bag), 1)
      }
      core = Hypergraph.cyclicCore(current).toSet
    }
    current
  }

  /**
   * Evaluate a (possibly cyclic) conjunctive query with comparisons and
   * residual predicates: decompose into bags, then CQC-evaluate the
   * acyclic bag tree.
   */
  def solve(rels: Seq[Rel], cmps: Seq[Cmp] = Nil, residualSql: Seq[String] = Nil): DataFrame =
    Yannakakis.solve(decompose(rels), cmps, residualSql)

  /**
   * Factorized aggregates over a CYCLIC body — the bag-level semiring:
   * decompose to certificate bags (the augmented hypergraph is acyclic;
   * the certificate is DISTINCT on its scope, so joining it changes no
   * multiplicities), then run the message-passing aggregate over the
   * augmented set. The cyclic core stays at the AGM bound (the
   * certificate itself) and the cross-bag join — e.g. triangles x
   * per-vertex tails, quadratic if enumerated — never materializes:
   * tails collapse to per-key messages that multiply into the
   * certificate. No-op to [[Yannakakis.aggOverJoin]] when the body is
   * already acyclic. Summed variables must live OUTSIDE the certificate
   * scope's duplicated columns — in exactly one member relation, which
   * derived columns guarantee.
   */
  def aggOverJoin(rels: Seq[Rel], groupVars: Seq[String], aggs: Seq[Agg]): DataFrame =
    Yannakakis.aggOverJoin(decompose(rels), groupVars, aggs)
}
