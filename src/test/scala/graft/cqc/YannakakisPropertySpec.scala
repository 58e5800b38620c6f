package graft.cqc

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Seeded property tests: CQC solve on random path queries with random
 * comparisons must equal join-then-filter, and the chain rank join must
 * equal full-join-then-sort-limit — across random inputs.
 */
class YannakakisPropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.chooseNum(5, 30).flatMap { n =>
      Gen.listOfN(n, for {
        s <- Gen.chooseNum(0L, 5L)
        d <- Gen.chooseNum(0L, 5L)
      } yield (s, d))
    }

  test("aggregate family over random chains equals the enumerated oracle") {
    // One pass per shape, on both routes (direct at the default
    // threshold, the full reducer at 0): COUNT, a SUM of the last
    // variable, a two-factor SUM over the end relations' weights, a SUM
    // of a nullable weight, and MIN/MAX of the last variable and of v1,
    // a join variable every relation shares in the star.
    val key = "spark.graft.direct.threshold"
    var seed = Seed(121733L)
    for (i <- 1 to 8) {
      val es = edgeGen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      // every third edge carries no weight
      val e = es.distinct.zipWithIndex.map { case ((s, d), k) =>
        (s, d, if (k % 3 == 0) None else Some(k.toLong))
      }.toDF("x", "y", "w")
      val n = 2 + i % 3 // 2-4 relations
      val vars = (0 to n).map(j => s"v$j")
      val g = vars(0)
      val v = vars(n) // last var: lives only in the last relation
      val wl = s"w${n - 1}"
      val aggs = Seq(Agg.Sum("cnt", Nil), Agg.Sum(s"sum_$v", Seq(v)),
        Agg.Sum("prod", Seq("w0", wl)), Agg.Sum("sum_w", Seq(wl)),
        Agg.Min("mn", v), Agg.Max("mx", v), Agg.Min("mn1", "v1"), Agg.Max("mx1", "v1"))
      for (star <- Seq(false, true)) {
        // chain: g_j(v_j, v_j+1); star: legs g_j(v1, v_j+1) around g0(v0, v1)
        val rels = (0 until n).map { j =>
          val from = if (star && j > 0) vars(1) else vars(j)
          Rel(s"g$j", e.toDF(from, vars(j + 1), s"w$j"))
        }
        val naive = rels.map(_.df).reduce((l, r) =>
          l.join(r, l.columns.intersect(r.columns).toSeq))
        val want = naive.groupBy(g)
          .agg(count(lit(1)).as("cnt"), sum(col(v)).as(s"sum_$v"),
            sum(col("w0") * col(wl)).as("prod"), sum(col(wl)).as("sum_w"),
            min(col(v)).as("mn"), max(col(v)).as("mx"),
            min(col("v1")).as("mn1"), max(col("v1")).as("mx1"))
          .collect().map(_.toSeq).toSet
        for (thr <- Seq(None, Some("0"))) {
          thr.foreach(spark.conf.set(key, _))
          try {
            val got = Yannakakis.aggOverJoin(rels, Seq(g), aggs)
            val semis = got.queryExecution.analyzed.collect {
              case j: org.apache.spark.sql.catalyst.plans.logical.Join
                  if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
            }
            assert(semis.nonEmpty == thr.isDefined, s"route: case $i star=$star thr=$thr")
            assert(got.collect().map(_.toSeq).toSet == want,
              s"agg case $i star=$star thr=$thr edges=$es")
          } finally spark.conf.unset(key)
        }
      }
    }
  }

  test("solve(path-3 + random comparison) equals naive join+filter") {
    var seed = Seed(121853L)
    val ops = Seq("<", "<=", ">", ">=")
    for (i <- 1 to 10) {
      val es = edgeGen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      val op = ops(i % ops.length)
      val e = es.distinct.toDF("x", "y")
      val got = Yannakakis.solve(
        Seq(Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c")),
          Rel("g3", e.toDF("c", "d"))),
        Seq(Cmp("a", op, "d")))
        .select("a", "b", "c", "d").collect().map(_.toSeq).toSet
      val want = e.toDF("a", "b").join(e.toDF("b", "c"), "b").join(e.toDF("c", "d"), "c")
        .where(expr(s"a $op d"))
        .select("a", "b", "c", "d").collect().map(_.toSeq).toSet
      assert(got == want, s"case $i op=$op edges=$es")
    }
  }

  test("chain rank join equals full-join oracle on random rated graphs") {
    val ratedGen: Gen[List[(Long, Long, Double)]] =
      Gen.chooseNum(5, 25).flatMap { n =>
        Gen.listOfN(n, for {
          s <- Gen.chooseNum(0L, 4L)
          d <- Gen.chooseNum(0L, 4L)
          w <- Gen.chooseNum(1, 50)
        } yield (s, d, w.toDouble))
      }
    var seed = Seed(121993L)
    for (i <- 1 to 8) {
      val es = ratedGen.apply(Gen.Parameters.default, seed).get
        .groupBy(t => (t._1, t._2)).map(_._2.head).toList // one rating per edge
      seed = seed.next
      val k = 1 + i % 5
      val r1 = es.toDF("n1", "n2", "w1")
      val r2 = es.toDF("n2", "n3", "w2")
      val got = graft.topk.RankJoin.topKChain(Seq(r1, r2), Seq("w1", "w2"), k,
          Seq("n1", "n2", "n3"))
        .select("n1", "n2", "n3", "total_rank").collect().map(_.toSeq)
      val want = r1.join(r2, "n2")
        .withColumn("total_rank", col("w1") + col("w2"))
        .orderBy(col("total_rank").desc, col("n1"), col("n2"), col("n3"))
        .limit(k)
        .select("n1", "n2", "n3", "total_rank").collect().map(_.toSeq)
      assert(got.toSeq == want.toSeq, s"case $i k=$k edges=$es")
    }
  }
}
