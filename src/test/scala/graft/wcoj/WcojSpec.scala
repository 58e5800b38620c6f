package graft.wcoj

import graft.SparkSpecBase
import graft.cqc.{Agg, Cmp, Hypergraph, Rel}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class WcojSpec extends SparkSpecBase {
  import spark.implicits._

  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), // triangle 1-2-3
    (3L, 4L), (4L, 5L), (5L, 3L), // triangle 3-4-5
    (1L, 4L), (2L, 2L), (6L, 1L)) // extra edge, self-loop, dangling
    .toDF("src", "dst")

  test("autoSide: parallelism floor for small inputs, memory bound for huge ones") {
    val n = 4
    val cores = spark.sparkContext.defaultParallelism.max(1)
    val small = Lftj.autoSide(spark, BigInt(1024), n)
    assert(small == math.max(2, math.ceil(math.pow(cores.toDouble, 1.0 / n)).toInt))
    // ~1 TiB of edges: the per-cell memory bound (side >= sqrt(|E|/cap))
    // must dominate — cells stay executor-sized however big the input
    val huge = Lftj.autoSide(spark, BigInt(1L) << 40, n)
    assert(huge >= 100, s"per-cell memory bound must drive side up, got $huge")
    assert(Lftj.autoSide(spark, BigInt(1024), 3) >= 2)
  }

  test("LFTJ triangle enumeration equals the binary-join enumeration") {
    val got = Lftj.enumerate(edges,
        Seq(("a", "b"), ("b", "c"), ("c", "a")), Seq("a", "b", "c"), cubeSide = 2)
      .collect().map(_.toSeq).toSet
    val want = Wcoj.triangles(edges)
      .select("a", "b", "c").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("LFTJ count on real derived edges equals the degree-oriented count") {
    val e = Tables.edges(spark, sfDir)
    val lftj = Wcoj.triangleCount(e).head().getLong(0)
    val binary = Wcoj.triangles(e).count()
    assert(lftj == binary)
  }

  test("NULL keys join nothing: LFTJ and the triangle count drop them") {
    // triangle 1-2-3 plus one edge with a NULL src and one with a NULL dst
    val e = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(3L), Some(1L)),
      (None, Some(1L)), (Some(2L), None)).toDF("src", "dst")
    val want = Wcoj.triangles(e).count()
    assert(want == 3)
    val lftj = Lftj.enumerate(e,
      Seq(("a", "b"), ("b", "c"), ("c", "a")), Seq("a", "b", "c")).count()
    assert(lftj == want)
    assert(Wcoj.triangleCount(e).head().getLong(0) == want)
  }

  test("the registered triangle count is LFTJ-evaluated, not binary-joined") {
    val df = graft.SparkEntry.queries("wcoj_triangle")(spark, sfDir)
    assert(df.head().getLong(0) == Wcoj.triangles(Tables.edges(spark, sfDir)).count())
    val plan = df.queryExecution.executedPlan
    val mapGroups = collect(plan) { case m: org.apache.spark.sql.execution.MapGroupsExec => m }
    val joins = collect(plan) { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(mapGroups.nonEmpty, s"triangle count should leapfrog, got:\n$plan")
    assert(joins.isEmpty, s"triangle count must not binary-join, got:\n$plan")
  }

  test("LFTJ rejects self-loop patterns and unbound variables up front") {
    // (a, a) binds one hypercube coordinate only — silently loses tuples
    intercept[IllegalArgumentException] {
      Lftj.enumerate(edges, Seq(("a", "a"), ("a", "b")), Seq("a", "b"))
    }
    // "c" covered by no pattern — would silently enumerate zero rows
    intercept[IllegalArgumentException] {
      Lftj.enumerate(edges, Seq(("a", "b")), Seq("a", "b", "c"))
    }
  }

  test("GHD decomposes the bridged-triangles query into an acyclic bag tree") {
    val rels = Seq(
      Rel("g1", edges.toDF("a", "b")), Rel("g2", edges.toDF("b", "c")),
      Rel("g3", edges.toDF("c", "a")), Rel("g4", edges.toDF("c", "d")),
      Rel("g5", edges.toDF("d", "e")), Rel("g6", edges.toDF("e", "c")))
    assert(!Hypergraph.tryJoinTree(rels).isRight)
    val bags = Ghd.decompose(rels)
    assert(Hypergraph.tryJoinTree(bags).isRight)
    // the cyclic core is closed by an ADDED WCOJ certificate (set of
    // bindings satisfying every core pattern); original members survive
    // to carry multiplicities/types
    val cert = bags.find(_.name.contains("+")).get
    assert(rels.forall(r => bags.exists(_.name == r.name)))
    assert(rels.flatMap(_.vars).toSet.subsetOf(cert.vars))
  }

  test("GHD certificate bags are LFTJ-evaluated, not binary-join 2-paths") {
    // a pure triangle through the generic path: the bag must come from the
    // worst-case-optimal mapGroups operator — a binary join of two edge
    // relations (the |E|²/d two-path materialization) must NOT appear in
    // the certificate's plan
    val rels = Seq(
      Rel("g1", edges.toDF("a", "b")), Rel("g2", edges.toDF("b", "c")),
      Rel("g3", edges.toDF("c", "a")))
    val bags = Ghd.decompose(rels)
    assert(bags.size == 4)
    val cert = bags.find(_.name == "g1+g2+g3").get
    val plan = cert.df.queryExecution.executedPlan.toString
    assert(plan.contains("MapGroups"), s"certificate should leapfrog, got:\n$plan")
    assert(!plan.contains("Join"), s"certificate must not binary-join, got:\n$plan")
    // and the full solve still returns the exact triangle set
    val got = Ghd.solve(rels).select("a", "b", "c").collect().map(_.toSeq).toSet
    val want = Wcoj.triangles(edges).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("factorized aggregates over a cyclic body equal the enumerated join") {
    // self-loops break LFTJ's hypercube; use the loop-free subset
    val e = edges.where(col("src") =!= col("dst"))
    val rels = Seq(
      Rel("g1", e.toDF("a", "b")),
      Rel("g2", e.toDF("b", "c")),
      Rel("g3", e.toDF("c", "a")),
      Rel("g4", e.toDF("c", "d")))
    val got = Ghd.aggOverJoin(rels, Seq("a"),
        Seq(Agg.Sum("cnt", Nil), Agg.Sum("sum_d", Seq("d")), Agg.Min("min_d", "d")))
      .select("a", "cnt", "sum_d", "min_d")
      .collect().map(_.toSeq).toSet
    val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b")
      .join(e.toDF("c", "a2"), "c").where(col("a") === col("a2"))
      .join(e.toDF("c", "d"), "c")
      .groupBy("a").agg(count(lit(1)).as("cnt"), sum(col("d")).as("sum_d"),
        min(col("d")).as("min_d"))
      .collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    // product semiring over the same cyclic body
    val gotP = Ghd.aggOverJoin(rels, Seq("a"), Seq(Agg.Sum("sum_product", Seq("d"))))
      .collect().map(_.toSeq).toSet
    val wantP = e.toDF("a", "b").join(e.toDF("b", "c"), "b")
      .join(e.toDF("c", "a2"), "c").where(col("a") === col("a2"))
      .join(e.toDF("c", "d"), "c")
      .groupBy("a").agg(sum(col("d")).as("sum_product"))
      .collect().map(_.toSeq).toSet
    assert(gotP == wantP)
  }

  test("Ghd.solve handles the reference q2 shape: bridge edge + sum comparison") {
    // two triangles (a,b,c)/(d,e,f) joined by a bridge edge b->d, with
    // g1.src+g2.src+g3.src < g4.src+g5.src+g6.src (sum over sources =
    // a+b+c < d+e+f) — reference examples/query/q2/query.sql
    val rels = Seq(
      Rel("g1", edges.toDF("a", "b")), Rel("g2", edges.toDF("b", "c")),
      Rel("g3", edges.toDF("c", "a")),
      Rel("g4", edges.toDF("d", "e")), Rel("g5", edges.toDF("e", "f")),
      Rel("g6", edges.toDF("f", "d")),
      Rel("g7", edges.toDF("b", "d")))
    val got = Ghd.solve(rels, Seq(Cmp("a + b + c", "<", "d + e + f")))
      .select("a", "b", "c", "d", "e", "f").collect().map(_.toSeq).toSet
    val want = edges.toDF("a", "b").join(edges.toDF("b", "c"), "b")
      .join(edges.toDF("c", "a"), Seq("c", "a"))
      .join(edges.toDF("b", "d"), "b")
      .join(edges.toDF("d", "e"), "d").join(edges.toDF("e", "f"), "e")
      .join(edges.toDF("f", "d"), Seq("f", "d"))
      .where(col("a") + col("b") + col("c") < col("d") + col("e") + col("f"))
      .select("a", "b", "c", "d", "e", "f").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("same-relation comparisons (reference q8 shape) apply as residual filters") {
    val got = graft.cqc.Yannakakis.solve(
      Seq(Rel("g1", edges.toDF("a", "b")), Rel("g2", edges.toDF("b", "c")),
        Rel("g3", edges.toDF("c", "d"))),
      Seq(Cmp("b", "<", "c"), Cmp("c", "<", "d")))
      .select("a", "b", "c", "d").collect().map(_.toSeq).toSet
    val want = edges.toDF("a", "b").join(edges.toDF("b", "c"), "b")
      .join(edges.toDF("c", "d"), "c")
      .where(col("b") < col("c") && col("c") < col("d"))
      .select("a", "b", "c", "d").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("Ghd.solve equals the naive 6-way join with the comparison") {
    val rels = Seq(
      Rel("g1", edges.toDF("a", "b")), Rel("g2", edges.toDF("b", "c")),
      Rel("g3", edges.toDF("c", "a")), Rel("g4", edges.toDF("c", "d")),
      Rel("g5", edges.toDF("d", "e")), Rel("g6", edges.toDF("e", "c")))
    val got = Ghd.solve(rels, Seq(Cmp("a", "<", "d")))
      .select("a", "b", "c", "d", "e").collect().map(_.toSeq).toSet
    val want = edges.toDF("a", "b").join(edges.toDF("b", "c"), "b")
      .join(edges.toDF("c", "a"), Seq("c", "a")).join(edges.toDF("c", "d"), "c")
      .join(edges.toDF("d", "e"), "d").join(edges.toDF("e", "c"), Seq("e", "c"))
      .where(col("a") < col("d"))
      .select("a", "b", "c", "d", "e").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }
}
