package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/**
 * Large-star/small-star connected components (Dedup.clusters with
 * `alternatingStar = true`) — the logarithmic-round escape hatch for
 * long-diameter pair graphs documented since r7 and implemented in r8.
 *
 * The two claims under test:
 *  1. ROUND COMPLEXITY: on a planted PATH component (diameter n-1),
 *     plain min-label propagation needs ~n rounds (it provably moves the
 *     minimum label one hop per round), while the alternation converges
 *     within a small-constant × log2(n) budget.
 *  2. ASSIGNMENT EQUALITY: both variants produce the identical
 *     (doc_id, cluster_id, cluster_size) relation on every shape —
 *     planted paths, mixed components, random graphs, degenerate
 *     self-pairs — so the parameter is a pure performance choice.
 *
 * Every call pins `driverBudget = 0`: these pair lists are small enough
 * to finish on the driver, which would skip the rounds under test
 * (ClusterFinishSpec covers the driver finish).
 */
class StarClusterSpec extends SparkSpecBase {
  import spark.implicits._

  private def pathPairs(n: Int) =
    (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")

  private def collectSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("planted 200-path: star converges in <= 2*log2(n) rounds with the exact assignment") {
    val n = 200
    val budget = 2 * (math.log(n) / math.log(2)).ceil.toInt // 16
    val got = collectSet(
      Dedup.clusters(pathPairs(n), maxRounds = budget, alternatingStar = true, driverBudget = 0))
    val want = (0 until n).map(i => (i.toLong, 0L, n.toLong)).toSet
    assert(got == want)
  }

  test("auto-switch: the DEFAULT call converges on long-diameter paths") {
    // r8 verdict item: the caller should not need to know which variant
    // fits their pair graph. A 200-path has diameter 199 — plain
    // propagation provably moves the min label one hop per round, so the
    // propagateRoundBudget (10) cannot finish; the default call must
    // detect that and restart on the star contraction, with the exact
    // assignment.
    val n = 200
    val got = collectSet(Dedup.clusters(pathPairs(n), 50, alternatingStar = false, driverBudget = 0))
    assert(got == (0 until n).map(i => (i.toLong, 0L, n.toLong)).toSet)
  }

  test("explicit star on a 40-path inside a 10-round budget") {
    val pairs = pathPairs(40)
    val got = collectSet(Dedup.clusters(pairs, maxRounds = 10, alternatingStar = true, driverBudget = 0))
    assert(got == (0 until 40).map(i => (i.toLong, 0L, 40L)).toSet)
  }

  test("star equals propagation on the mixed path+pair+star fixture") {
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)
    ).toDF("d1", "d2")
    val plain = collectSet(Dedup.clusters(pairs, 50, alternatingStar = false, driverBudget = 0))
    val star = collectSet(Dedup.clusters(pairs, 50, alternatingStar = true, driverBudget = 0))
    assert(star == plain && plain.nonEmpty)
  }

  test("star equals propagation on seeded random graphs") {
    val rnd = new scala.util.Random(20260816151L)
    for (trial <- 1 to 3) {
      val nv = 60 + rnd.nextInt(60)
      val ne = nv + rnd.nextInt(nv)
      val pairs = Seq.fill(ne)((rnd.nextInt(nv).toLong, rnd.nextInt(nv).toLong))
        .toDF("d1", "d2")
      val plain = collectSet(Dedup.clusters(pairs, maxRounds = 200, alternatingStar = false, driverBudget = 0))
      val star = collectSet(Dedup.clusters(pairs, maxRounds = 40, alternatingStar = true, driverBudget = 0))
      assert(star == plain, s"trial $trial: nv=$nv ne=$ne")
    }
  }

  test("degenerate self-pairs: both variants keep the vertex as its own singleton") {
    val pairs = Seq((7L, 7L), (9L, 9L)).toDF("d1", "d2")
    val plain = collectSet(Dedup.clusters(pairs, 50, alternatingStar = false, driverBudget = 0))
    val star = collectSet(Dedup.clusters(pairs, 50, alternatingStar = true, driverBudget = 0))
    assert(plain == Set((7L, 7L, 1L), (9L, 9L, 1L)))
    assert(star == plain)
  }

  test("star composes with a real pair source (ngram Jaccard)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "  THE QUICK  BROWN fox jumps over the lazy dog "),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different words in this one right here"))
      .toDF("doc_id", "text")
    // both budgets 0: the star rounds over the distributed pair
    // derivation (this input would otherwise pair and label on the driver)
    val out = Dedup.clusters(Dedup.ngramJaccard(docs, driverBudget = 0), 50,
        alternatingStar = true, driverBudget = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
