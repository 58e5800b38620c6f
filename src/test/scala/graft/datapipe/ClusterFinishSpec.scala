package graft.datapipe

import graft.{CacheRegistry, SparkSpecBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/**
 * The driver finish of Dedup.clusters: a pair list within the driver
 * budget is labelled by a union-find on the driver, anything larger by
 * the distributed rounds (propagation, or large-star/small-star).
 *
 * The claims under test:
 *  1. EQUALITY: the driver result has the schema and rows of BOTH
 *     distributed variants (pinned with budget 0) on every shape.
 *  2. ONE JOB: over an already-materialized small pair frame the call
 *     runs at most one job, not one or more per round; over a local
 *     pair frame it runs none.
 *  3. ONE PERSIST: the pair frame is tracked once, also when
 *     propagation restarts on the star variant.
 */
class ClusterFinishSpec extends SparkSpecBase {
  import spark.implicits._

  private def pathPairs(n: Int) =
    (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  /** Driver result equals propagation and star (budget 0) in schema and rows. */
  private def assertFinishesAgree(pairs: DataFrame, maxRounds: Int = 200): Set[Seq[Any]] = {
    val local = Dedup.clusters(pairs)
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation],
      "a small pair list must finish on the driver")
    val plain = Dedup.clusters(pairs, maxRounds, alternatingStar = false, driverBudget = 0)
    val star = Dedup.clusters(pairs, maxRounds, alternatingStar = true, driverBudget = 0)
    assert(local.schema == plain.schema && local.schema == star.schema)
    val got = rows(local)
    assert(got == rows(plain))
    assert(got == rows(star))
    got
  }

  test("driver finish equals both distributed variants on seeded random graphs") {
    val rnd = new scala.util.Random(20260816151L)
    for (_ <- 1 to 3) {
      val nv = 60 + rnd.nextInt(60)
      val ne = nv + rnd.nextInt(nv)
      assertFinishesAgree(Seq.fill(ne)((rnd.nextInt(nv).toLong, rnd.nextInt(nv).toLong))
        .toDF("d1", "d2"))
    }
  }

  test("driver finish equals both distributed variants on the planted 200-path") {
    val got = assertFinishesAgree(pathPairs(200), maxRounds = 40)
    assert(got == (0 until 200).map(i => Seq(i.toLong, 0L, 200L)).toSet)
  }

  test("driver finish equals both distributed variants on the mixed path+pair+star fixture") {
    val got = assertFinishesAgree(Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)
    ).toDF("d1", "d2"))
    assert(got.size == 11)
  }

  test("driver finish equals both distributed variants on self-pairs") {
    val got = assertFinishesAgree(Seq((7L, 7L), (9L, 9L), (9L, 3L)).toDF("d1", "d2"))
    assert(got == Set(Seq(7L, 7L, 1L), Seq(9L, 3L, 2L), Seq(3L, 3L, 2L)))
  }

  test("driver finish equals both distributed variants on a pair with a NULL endpoint") {
    val got = assertFinishesAgree(Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (None, Some(5L)), (Some(2L), None), (None, None)
    ).toDF("d1", "d2"))
    // NULL names no document: 5 is a singleton, 1-2 stay one component
    assert(got == Set(Seq(1L, 1L, 2L), Seq(2L, 1L, 2L), Seq(5L, 5L, 1L)))
  }

  test("the budget is inclusive: one pair over it runs the distributed rounds") {
    val pairs = pathPairs(6) // 5 pairs
    val at = Dedup.clusters(pairs, 50, alternatingStar = false, driverBudget = 5)
    val over = Dedup.clusters(pairs, 50, alternatingStar = false, driverBudget = 4)
    assert(at.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(!over.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(rows(at) == rows(over))
  }

  test("clusters over a materialized small pair frame runs at most one job") {
    val pairs = CacheRegistry.persistTracked(pathPairs(40))
    pairs.count()
    // the distributed rounds run one or more jobs per round
    val jobs = jobsDuring(Dedup.clusters(pairs))
    assert(jobs <= 1, s"$jobs jobs")
  }

  test("a local pair frame is labelled with no job and no persist") {
    val pairs = pathPairs(40)
    val tracked = CacheRegistry.trackedCount
    val jobs = jobsDuring(Dedup.clusters(pairs))
    assert(jobs == 0, s"$jobs jobs")
    assert(CacheRegistry.trackedCount == tracked)
  }

  test("pairs are persisted once when propagation restarts on the star variant") {
    // a 200-path blows the propagation round budget, so the default
    // variant restarts on the star contraction over the same pairs
    val out = Dedup.clusters(pathPairs(200), 50, alternatingStar = false, driverBudget = 0)
    assert(rows(out) == (0 until 200).map(i => Seq(i.toLong, 0L, 200L)).toSet)
    // the pairs, the propagation's symmetric edges, the star's vertices
    assert(CacheRegistry.trackedCount == 3)
  }
}
