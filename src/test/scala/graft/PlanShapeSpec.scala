package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/**
 * Plan-shape assertions on real (sf0.001) data: the properties that decide
 * whether a query survives a 100x scale-up — broadcastable dims actually
 * broadcast, scans pruned and filtered at the source, no cartesian
 * products in the join queries.
 */
class PlanShapeSpec extends SparkSpecBase {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString()
  }

  test("q3_top broadcasts the customer dimension") {
    assert(plan("q3_top").contains("BroadcastHashJoin"))
  }

  test("q5_join broadcasts dims and has no cartesian product") {
    val p = plan("q5_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q6_filter pushes predicates into the parquet scan") {
    val p = plan("q6_filter")
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull(l_shipdate)"))
  }

  test("text ops prune the documents scan to (doc_id, text)") {
    val df = datapipe.TextOps.tokenCounts(Tables.documents(spark, sfDir))
    val scan = df.queryExecution.executedPlan.toString()
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"))
  }

  test("cqc enumeration joins on reduced inputs — no cartesian, no collect") {
    val p = plan("cqc_path3_deg")
    assert(!p.contains("CartesianProduct"))
  }

  test("ann brute force broadcasts the query side") {
    assert(plan("ann_topk").contains("BroadcastNestedLoopJoin") ||
      plan("ann_topk").contains("BroadcastHashJoin"))
  }

  test("q7_nations broadcasts both nation sides, no cartesian") {
    val p = plan("q7_nations")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q19_disj pushes the implied brand IN below the broadcast join") {
    val p = plan("q19_disj")
    assert(p.contains("BroadcastHashJoin"))
    // the part scan must be filtered at the source, not post-join
    assert(p.contains("In(p_brand") || p.contains("p_brand#"))
    assert(p.contains("PushedFilters: ["))
  }

  test("q13_outer plans a real outer join (no inner rewrite)") {
    val p = plan("q13_outer")
    assert(p.contains("LeftOuter") || p.contains("RightOuter"))
  }

  test("skew_join spreads the hot key over salt buckets in the join key") {
    val p = plan("skew_join")
    assert(p.contains("__salt")) // the salt column participates in the join
    assert(!p.contains("CartesianProduct"))
  }

  test("q22_anti plans NOT EXISTS as a LEFT ANTI join, threshold broadcast") {
    val p = plan("q22_anti")
    assert(p.contains("LeftAnti"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("q17_avg semi-joins lineitem before the per-part average") {
    val p = plan("q17_avg")
    // the brand filter must reach the aggregate's INPUT: a LeftSemi
    // broadcast join below the partial aggregate, so the avg shuffles
    // ~1/25 of (partkey, quantity) instead of the whole fact table
    assert(p.contains("LeftSemi"))
    val aggIdx = p.indexOf("HashAggregate")
    val semiIdx = p.indexOf("LeftSemi")
    assert(aggIdx >= 0 && semiIdx > aggIdx,
      "semi-join must sit below the aggregate in the printed plan")
  }

  test("pipe_topk scans documents once (lang carried, no self-join)") {
    val p = plan("pipe_topk")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1)
  }

  test("pipe_para_dedup: first-occurrence pick is a partial min, no window (r13)") {
    // the same skew claim as pipe_span_dedup, now for segment dedup: a
    // boilerplate segment repeated 10^6 times must collapse map-side,
    // not funnel one window reducer
    val p = plan("pipe_para_dedup")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"first-occurrence pick must be a partial aggregate:\n$p")
    assert(!p.contains("windowspecdefinition(seg"),
      s"no per-segment window in the keep-first pick:\n$p")
  }

  test("pipe_domain_cap: pass-through side is broadcast-anti, no bare-domain window (r14)") {
    // the gate's scale contract: under-cap domains (≈ the whole corpus
    // at 100 TB) pass on broadcast anti-joins with ZERO shuffle of their
    // rows; only over-cap domains enter the salted prune, so no window
    // may partition on the raw domain alone (the hot-key class)
    val p = plan("pipe_domain_cap")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"blocklist/over-cap pass-through must be broadcast anti-joins:\n$p")
    // two-level prune structure: a SALTED level-1 window must exist, so
    // the bare-domain window that remains is level 2 over the bounded
    // (≤ salts·k per key) survivor frame — never the raw hot-key scan
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition(domain")).toSeq
    assert(winLines.exists(_.contains("__salt")),
      s"hot domains must level-1 prune per (domain, salt):\n$p")
    assert(winLines.exists(l => !l.contains("__salt")),
      s"level-2 re-prune per domain expected over the survivor frame:\n$p")
  }

  test("pipe_para_fuzzy: exact collapse is a partial min; banding sees distinct reps (r14)") {
    val p = plan("pipe_para_fuzzy")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"representative pick must be a partial aggregate:\n$p")
    assert(!p.contains("windowspecdefinition(seg"),
      s"no per-segment window anywhere in the fuzzy path:\n$p")
  }

  test("text_bpe: the merge chain is a pure projection over a 2-column scan (r14)") {
    val df = SparkEntry.queries("text_bpe")(spark, sfDir)
    // r18 (ADVICE fix): strict structural pin again — the r17 loader
    // fanout is gone (spread lives inside the heavy operators; the merge
    // chain is a pure projection and gets none), so ZERO exchanges of
    // any kind, not merely zero hash-partitioned ones
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val exchanges = collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }
    assert(exchanges.isEmpty, s"BPE counting must not shuffle:\n${df.queryExecution.executedPlan}")
    val p = df.queryExecution.executedPlan.toString()
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang"), s"scan must prune to (doc_id, text):\n$readSchema")
  }

  test("dedup_semantic_group: no collection-wide window keyed on the cluster id (r13)") {
    // the crank rank was a row_number() OVER (PARTITION BY cid) across
    // the WHOLE collection (vector payload included) — now the pair join
    // tests the (csim, vec_id) key tuple directly; the only remaining
    // window ranks candidate pairs per vec_id (bounded by the sub-bucket
    // cap)
    val p = plan("dedup_semantic_group")
    assert(!p.contains("windowspecdefinition(cid"),
      s"no cluster-keyed window in the group keep policy:\n$p")
  }

  test("pipe_span_dedup: first-occurrence pick is a partial (map-side-combinable) min") {
    // the SURVEY row's skew claim: a boilerplate span repeated 10^6
    // times must PARTIAL-aggregate, not funnel one hot window
    // partition — so the plan carries a partial_min HashAggregate pair
    // on the gram hash and NO Window operator anywhere
    val p = plan("pipe_span_dedup")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"first-occurrence pick must be a partial aggregate:\n$p")
    assert(!p.contains("Window"), s"no window operator in the span pick:\n$p")
    assert(!p.contains("Cartesian"), s"no cartesian:\n$p")
  }

  test("dedup_embed_stream: probe-side signatures are a pure projection") {
    // the stateless-gate claim: between the embeddings scan and the
    // (band,bucket) join there is no aggregate and no window on the
    // PROBE side — the banded signature is map-side only
    val p = plan("dedup_embed_stream")
    assert(!p.contains("Window"), s"no window in the gate:\n$p")
    assert(!p.contains("Cartesian"), s"no cartesian:\n$p")
    assert(p.contains("Union"), s"banded fan-out present:\n$p")
  }

  test("q_window computes all three window functions in one shuffle") {
    val p = plan("q_window")
    // one Window node (same partitioning/ordering fuses the functions);
    // a second would mean an extra sort+shuffle per function
    assert(p.linesIterator.count(_.contains(" Window [")) == 1)
  }

  test("sql_cqc_cyclic_dense: bag-level semiring messages, not enumerate-then-aggregate") {
    // the flagship AGM-bound claim: the dense triangle aggregate must ride
    // the certificate + message passing (several partial aggregates), not
    // a quadratic 2-path enumeration feeding ONE aggregate
    val df = SparkEntry.queries("sql_cqc_cyclic_dense")(spark, sfDir)
    val nAggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAggs > 1, s"expected bag-level message aggregates, got $nAggs")
    val ep = df.queryExecution.executedPlan.toString()
    assert(ep.contains("Lftj") || ep.toLowerCase.contains("mappartitions"),
      "expected the LFTJ certificate operator in the physical plan")
  }

  test("sql_cqc_outer_minmax aggregates below the outer join (eager MIN/MAX)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val df = SparkEntry.queries("sql_cqc_outer_minmax")(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan
    val nAggs = plan.collect { case a: Aggregate => a }.size
    assert(nAggs > 1, s"expected pre-join aggregates, got $nAggs")
    val joins = plan.collect { case j: Join => j }
    assert(joins.exists(j => j.children.exists(c =>
      c.collectFirst { case a: Aggregate => a }.isDefined)),
      "expected an aggregate BELOW the outer join")
  }

  test("sql_cqc_q2 / sql_cqc_q20 route through the CQC door, not the fallback") {
    // the door's non-fallback path renames attributes to class variables
    // (vNNN aliases in the analyzed plan); the guarded stock fallback
    // returns the original analyzed plan untouched. Q2's correlated-min
    // and Q20's double-nested IN must ride the subquery-in-leaf routing,
    // not fall back.
    for (name <- Seq("sql_cqc_q2", "sql_cqc_q20", "sql_cqc_q11", "sql_cqc_q15")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val analyzed = df.queryExecution.analyzed.toString()
      assert(analyzed.matches("(?s).* AS v\\d+.*"),
        s"$name: no CQC variable renames in plan — door fell back to stock")
    }
  }

  test("q21_waiting: EXISTS rewrite as aggregates, no lineitem self-join fanout") {
    // the API form replaces both correlated EXISTS with per-orderkey
    // DISTINCT-supplier aggregates; the plan must contain aggregates but
    // NO join whose both sides scan lineitem row-for-row (the self-join
    // formulation) — the joins against the two aggregates are fine.
    // Equivalence with the literal EXISTS semantics is the DuckDB
    // oracle's job (same oracle text as sql_cqc_q21).
    val df = SparkEntry.queries("q21_waiting")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.toLowerCase.contains("cartesian"), "cartesian product in q21 plan")
    // door form routes through CQC (variable renames), not stock fallback
    val door = SparkEntry.queries("sql_cqc_q21")(spark, sfDir)
    val analyzed = door.queryExecution.analyzed.toString()
    assert(analyzed.matches("(?s).* AS v\\d+.*"),
      "sql_cqc_q21: no CQC variable renames — door fell back to stock")
    // and both forms agree with each other on the data
    val a = df.orderBy("s_name").collect().toSeq
    val b = door.orderBy("s_name").collect().toSeq
    assert(a == b)
  }
}
