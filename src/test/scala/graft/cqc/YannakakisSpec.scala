package graft.cqc

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class YannakakisSpec extends SparkSpecBase {
  import spark.implicits._

  private def edges = Seq((1, 2), (2, 3), (3, 4), (2, 4), (4, 1), (5, 6))

  test("solve(path-2) equals the naive join") {
    val e = edges.toDF("a", "b")
    val got = Yannakakis.solve(Seq(
      Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c"))))
      .select("a", "b", "c").collect().map(_.toSeq).toSet
    val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b")
      .select("a", "b", "c").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("countOverJoin equals groupBy-count over the enumerated join") {
    val e = edges.toDF("a", "b")
    // chain: counts per a of 3-hop paths
    val rels = Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
      Rel("g3", e.toDF("c", "d")))
    val got = Yannakakis.aggOverJoin(rels, Seq("a"), Seq(Agg.Sum("cnt", Nil)))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b").join(e.toDF("c", "d"), "c")
      .groupBy("a").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == want && want.nonEmpty)
    // star: group vars live in the hub, messages come from three legs
    val hub = Seq((1, 10, 100), (2, 20, 200), (2, 20, 300)).toDF("x", "y", "z")
    val star = Seq(Rel("hub", hub),
      Rel("l1", e.toDF("x", "p")), Rel("l2", e.toDF("y", "q").where(col("y") < 30)),
      Rel("l3", e.toDF("z", "r")))
    val gotS = Yannakakis.aggOverJoin(star, Seq("x", "y"), Seq(Agg.Sum("cnt", Nil)))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val wantS = hub.join(e.toDF("x", "p"), "x").join(e.toDF("y", "q").where(col("y") < 30), "y")
      .join(e.toDF("z", "r"), "z")
      .groupBy("x", "y").count()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotS == wantS)
  }

  test("aggOverJoin sums a leaf variable without enumerating") {
    val e = edges.toDF("a", "b")
    val rels = Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
      Rel("g3", e.toDF("c", "d")))
    val got = Yannakakis.aggOverJoin(rels, Seq("a"),
        Seq(Agg.Sum("cnt", Nil), Agg.Sum("sum_d", Seq("d"))))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b").join(e.toDF("c", "d"), "c")
      .groupBy("a").agg(count(lit(1)).as("cnt"), sum(col("d").cast("long")).as("sum_d"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && want.nonEmpty)
    // a shared join variable cannot be the sum target
    intercept[IllegalArgumentException] {
      Yannakakis.aggOverJoin(rels, Seq("a"), Seq(Agg.Sum("cnt", Nil), Agg.Sum("sum_b", Seq("b"))))
    }
  }

  test("fused aggOverJoin carries count, sums and extrema in one pass") {
    val e = edges.toDF("a", "b")
    val rels = Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
      Rel("g3", e.toDF("c", "d")))
    val got = Yannakakis.aggOverJoin(rels, Seq("a"), Seq(Agg.Sum("cnt", Nil),
        Agg.Sum("sum_d", Seq("d")), Agg.Min("min_c", "c"), Agg.Max("max_d", "d")))
      .select("a", "cnt", "sum_d", "min_c", "max_d")
      .collect().map(_.toSeq).toSet
    val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b").join(e.toDF("c", "d"), "c")
      .groupBy("a").agg(count(lit(1)).as("cnt"), sum(col("d").cast("long")).as("sum_d"),
        min(col("c")).as("min_c"), max(col("d")).as("max_d"))
      .collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    // extrema over a SHARED join variable are fine (idempotent)
    val got2 = Yannakakis.aggOverJoin(rels, Seq("a"), Seq(Agg.Min("min_b", "b")))
      .select("a", "min_b").collect().map(_.toSeq).toSet
    val want2 = e.toDF("a", "b").join(e.toDF("b", "c"), "b").join(e.toDF("c", "d"), "c")
      .groupBy("a").agg(min(col("b")).as("min_b"))
      .collect().map(_.toSeq).toSet
    assert(got2 == want2 && want2.nonEmpty)
  }

  test("a two-factor Sum sums a cross-relation product without enumerating") {
    val e = edges.toDF("a", "b")
    // chain with weights at both ends: Σ over 3-hop paths of w1·w3
    val w = edges.zipWithIndex.map { case ((u, v), i) => (u, v, (i + 2).toLong) }
      .toDF("a", "b", "w")
    val rels = Seq(
      Rel("g1", w.toDF("a", "b", "w1")),
      Rel("g2", e.toDF("b", "c")),
      Rel("g3", w.toDF("c", "d", "w3")))
    val got = Yannakakis.aggOverJoin(rels, Seq("a"),
        Seq(Agg.Sum("sum_product", Seq("w1", "w3"))))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val want = w.toDF("a", "b", "w1").join(e.toDF("b", "c"), "b")
      .join(w.toDF("c", "d", "w3"), "c")
      .groupBy("a").agg(sum(col("w1") * col("w3")).as("p"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == want && want.nonEmpty)
    // all-ones factors degenerate to the count
    val gotCnt = Yannakakis.aggOverJoin(
        Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
          Rel("g3", e.toDF("c", "d"))),
        Seq("a"), Seq(Agg.Sum("sum_product", Nil)))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val wantCnt = Yannakakis.aggOverJoin(
        Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
          Rel("g3", e.toDF("c", "d"))), Seq("a"), Seq(Agg.Sum("cnt", Nil)))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(gotCnt == wantCnt)
    // a factor naming no variable of the relations is rejected
    intercept[IllegalArgumentException] {
      Yannakakis.aggOverJoin(rels, Seq("a"), Seq(Agg.Sum("sum_product", Seq("nope"))))
    }
    // r17 advice fix: a FRACTIONAL factor mixed with a decimal factor
    // must NOT ride timesCount (which casts it to DECIMAL(20,0),
    // silently rounding 0.5 -> 0); the product degrades to double and
    // keeps the fraction — pre-r16 semantics restored for the API
    // odd decimal weights x 0.5: the (3,4) edge's single continuation
    // yields 3.5 for a=3 — guaranteed-fractional evidence (all values
    // are exact halves, so the double compare below is exact too)
    val wd = edges.zipWithIndex.map { case ((u, v), i) =>
      (u, v, BigDecimal(2 * i + 3).setScale(2)) }.toDF("a", "b", "w1")
    val wf = edges.map { case (u, v) => (u, v, 0.5) }.toDF("c", "d", "w3")
    val relsMix = Seq(
      Rel("g1", wd), Rel("g2", e.toDF("b", "c")), Rel("g3", wf))
    val gotMix = Yannakakis.aggOverJoin(relsMix, Seq("a"),
        Seq(Agg.Sum("sum_product", Seq("w1", "w3"))))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    val wantMix = wd.join(e.toDF("b", "c"), "b").join(wf, "c")
      .groupBy("a").agg(sum(col("w1") * col("w3")).as("p"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(gotMix == wantMix && wantMix.nonEmpty)
    assert(wantMix.values.exists(v => v != math.floor(v)),
      "the planted fractional products must actually be fractional")
  }

  test("Min/Max aggregates equal min/max over the enumerated join") {
    val e = edges.toDF("a", "b")
    val rels = Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
      Rel("g3", e.toDF("c", "d")))
    val got = Yannakakis.aggOverJoin(rels, Seq("a"),
        Seq(Agg.Min("min_d", "d"), Agg.Max("max_d", "d")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b").join(e.toDF("c", "d"), "c")
      .groupBy("a").agg(min(col("d")).as("mn"), max(col("d")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == want && want.nonEmpty)
    // v in the root relation itself: seeded at the root
    val got2 = Yannakakis.aggOverJoin(rels, Seq("a"),
        Seq(Agg.Min("min_b", "b"), Agg.Max("max_b", "b")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    val want2 = e.toDF("a", "b").join(e.toDF("b", "c"), "b").join(e.toDF("c", "d"), "c")
      .groupBy("a").agg(min(col("b")).as("mn"), max(col("b")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(got2 == want2)
  }

  test("aggOverJoin carries multiple sum variables independently") {
    val e = edges.toDF("a", "b")
    val g2 = e.toDF("b", "c").withColumn("w", col("c") * 2)
    val rels = Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", g2),
      Rel("g3", e.toDF("c", "d")))
    val got = Yannakakis.aggOverJoin(rels, Seq("a"),
        Seq(Agg.Sum("cnt", Nil), Agg.Sum("sum_w", Seq("w")), Agg.Sum("sum_d", Seq("d"))))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = e.toDF("a", "b").join(g2, "b").join(e.toDF("c", "d"), "c")
      .groupBy("a").agg(count(lit(1)).as("cnt"),
        sum(col("w")).as("sum_w"), sum(col("d").cast("long")).as("sum_d"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("solve with a cross-relation comparison equals join + filter") {
    val e = edges.toDF("a", "b")
    val w = Seq((1, 10), (2, 20), (3, 5), (4, 40), (5, 1), (6, 2)).toDF("n", "wt")
    val got = Yannakakis.solve(
      Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
        Rel("w1", w.toDF("a", "w1")), Rel("w2", w.toDF("c", "w2"))),
      Seq(Cmp("w1", "<", "w2")))
      .select("a", "b", "c").collect().map(_.toSeq).toSet
    val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b")
      .join(w.toDF("a", "w1"), "a").join(w.toDF("c", "w2"), "c")
      .where(col("w1") < col("w2"))
      .select("a", "b", "c").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("computed-expression comparison (reference q2 sum shape)") {
    val e = edges.toDF("a", "b")
    val got = Yannakakis.solve(
      Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
        Rel("g3", e.toDF("c", "d"))),
      Seq(Cmp("a + b", "<", "c + d")))
      .select("a", "b", "c", "d").collect().map(_.toSeq).toSet
    val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b").join(e.toDF("c", "d"), "c")
      .where(col("a") + col("b") < col("c") + col("d"))
      .select("a", "b", "c", "d").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("fullReduce removes dangling tuples only") {
    val r = Seq((1, 10), (2, 20), (9, 90)).toDF("k", "x") // k=9 dangles
    val s = Seq((1, 100), (2, 200), (8, 800)).toDF("k", "y") // k=8 dangles
    val tree = Hypergraph.joinTree(Seq(Rel("r", r), Rel("s", s)))
    val red = Yannakakis.fullReduce(tree)
    assert(red("r").select("k").collect().map(_.getInt(0)).toSet == Set(1, 2))
    assert(red("s").select("k").collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("comparisons fused on one tree edge produce one aggregate per side") {
    // two comparisons between the same pair of relations must not double
    // the semijoin work — covered behaviorally: results still exact
    val l = Seq((1, 1, 10), (1, 5, 2), (2, 2, 20)).toDF("k", "lo", "hi")
    val rr = Seq((1, 3), (1, 0), (2, 25)).toDF("k", "v")
    val got = Yannakakis.solve(
      Seq(Rel("l", l), Rel("r", rr)),
      Seq(Cmp("lo", "<=", "v"), Cmp("v", "<=", "hi")))
      .select("k", "lo", "hi", "v").collect().map(_.toSeq).toSet
    val want = l.join(rr, "k")
      .where(col("lo") <= col("v") && col("v") <= col("hi"))
      .select("k", "lo", "hi", "v").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }
}
