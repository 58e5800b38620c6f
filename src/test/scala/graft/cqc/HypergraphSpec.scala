package graft.cqc

import graft.SparkSpecBase

class HypergraphSpec extends SparkSpecBase {
  import spark.implicits._

  private def rel(name: String, cols: String*) =
    Rel(name, Seq.empty[Int].toDF("x").select(cols.map(c => org.apache.spark.sql.functions.lit(0).as(c)): _*))

  test("GYO accepts a path query and roots a valid tree") {
    val tree = Hypergraph.joinTree(Seq(
      rel("r1", "a", "b"), rel("r2", "b", "c"), rel("r3", "c", "d")))
    assert(tree.rels.size == 3)
    // every non-root node has a parent and shares at least one var with it
    tree.topDown.drop(1).foreach { n =>
      assert(tree.sharedVars(n, tree.parentOf(n)).nonEmpty)
    }
    assert(tree.topDown.head == tree.root)
    assert(tree.bottomUp.last == tree.root)
  }

  test("GYO accepts a star query") {
    assert(Hypergraph.tryJoinTree(Seq(
      rel("hub", "a", "b", "c"), rel("s1", "a", "x"), rel("s2", "b", "y"), rel("s3", "c", "z"))).isRight)
  }

  test("GYO rejects the triangle") {
    assert(Hypergraph.tryJoinTree(Seq(
      rel("e1", "a", "b"), rel("e2", "b", "c"), rel("e3", "c", "a"))).isLeft)
    intercept[CyclicQueryException] {
      Hypergraph.joinTree(Seq(rel("e1", "a", "b"), rel("e2", "b", "c"), rel("e3", "c", "a")))
    }
  }

  test("cost pick roots the tree at the largest relation") {
    val big = spark.range(10000).selectExpr("id % 50 AS a", "id % 70 AS b")
    val small = spark.range(50).selectExpr("id % 50 AS a", "id AS c")
    val tiny = spark.range(10).selectExpr("id AS c", "id % 5 AS d")
    val tree = Hypergraph.joinTree(
      Seq(Rel("big", big), Rel("small", small), Rel("tiny", tiny)))
    assert(tree.root == "big")
    // chain structure must survive the re-rooting: big -> small -> tiny
    assert(tree.parentOf("small") == "big" && tree.parentOf("tiny") == "small")
  }

  test("hint/dry-run: candidates enumerable, a pinned tree changes the plan not the result") {
    val e = graft.sources.Tables.edges(spark, sfDir)
    val rels = Seq(
      Rel("g1", e.toDF("a", "b")),
      Rel("g2", e.toDF("b", "c")),
      Rel("g3", e.toDF("c", "d")))
    val default = Hypergraph.joinTree(rels)
    val cands = Hypergraph.candidateTrees(rels)
    // one candidate per relation, each a valid tree rooted there
    assert(cands.map(_.root).toSet == rels.map(_.name).toSet)
    // dry-run description shows root + join edges + size estimates
    val desc = default.describe
    assert(desc.contains("(root)") && desc.contains("est=") && desc.contains("on ["))
    // pin a NON-default root: the described plan differs...
    val alt = cands.find(_.root != default.root).get
    assert(alt.describe != desc)
    // ...the physical enumeration starts from a different relation...
    assert(alt.topDown.head != default.topDown.head)
    // ...and the result is identical (join trees are result-equivalent)
    val got = Yannakakis.solveWithTree(alt).collect().map(_.toSeq).toSet
    val want = Yannakakis.solve(rels).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("rerooting preserves the undirected edge set at every choice of root") {
    val tree = Hypergraph.joinTree(Seq(
      rel("r1", "a", "b"), rel("r2", "b", "c"), rel("r3", "c", "d"), rel("r4", "c", "e")))
    val edges0 = tree.parentOf.toSet.map((kv: (String, String)) => Set(kv._1, kv._2))
    for (n <- tree.rels.keys) {
      val rt = tree.rerooted(n)
      assert(rt.root == n)
      assert(rt.parentOf.toSet.map((kv: (String, String)) => Set(kv._1, kv._2)) == edges0)
      assert(rt.topDown.toSet == tree.rels.keySet) // still one connected tree
      assert(!rt.parentOf.contains(n))
    }
  }

  test("tree path connects any two nodes through their common ancestor") {
    val tree = Hypergraph.joinTree(Seq(
      rel("r1", "a", "b"), rel("r2", "b", "c"), rel("r3", "c", "d"), rel("r4", "c", "e")))
    val p = tree.path("r1", "r4")
    assert(p.head == "r1" && p.last == "r4")
    assert(p.distinct.size == p.size)
  }
}
