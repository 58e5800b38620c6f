package graft.datapipe

import graft.{DriverRows, SparkSpecBase}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame

/**
 * The driver finish of Dedup.ngramJaccard: postings within the driver
 * budget are paired on the driver, anything larger by the distributed
 * inverted-index self-join.
 *
 * The claims under test:
 *  1. EQUALITY: the driver result has the distributed plan's (budget 0)
 *     schema and rows, `jac` included, on the corpus and on every edge
 *     the distributed plan defines (NULL ids, NULL text, short docs,
 *     repeated ids, the df cap, the threshold).
 *  2. ONE JOB: the pair derivation runs at most one job, and so does
 *     the cluster decision built on it.
 */
class NgramFinishSpec extends SparkSpecBase {
  import spark.implicits._

  private def rows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(r => (r._1, r._2)).toSeq

  /** Driver result equals the distributed plan in schema and rows. */
  private def assertFinishesAgree(docs: DataFrame): Seq[(Long, Long, Double)] = {
    val local = Dedup.ngramJaccard(docs)
    assert(DriverRows.isLocal(local), "small postings must finish on the driver")
    val dist = Dedup.ngramJaccard(docs, driverBudget = 0)
    assert(!DriverRows.isLocal(dist))
    assert(local.schema == dist.schema)
    val got = rows(local)
    assert(got == rows(dist))
    got
  }

  /** `n` docs sharing the shingle "alpha beta gamma" and nothing else:
    * every pair has Jaccard 1/7. */
  private def sharing(n: Int): Seq[(Option[Long], String)] =
    (1 to n).map(i => (Some(i.toLong), s"alpha beta gamma w$i x$i y$i"))

  test("driver finish equals the distributed plan on the corpus") {
    val got = assertFinishesAgree(Tables.documents(spark, sfDir))
    assert(got.nonEmpty)
  }

  test("a shingle at df 50 pairs its docs, at df 51 it is capped") {
    val at = assertFinishesAgree(sharing(Dedup.ngramDfCap).toDF("doc_id", "text"))
    assert(at.size == 50 * 49 / 2 && at.forall(_._3 == 0.142857))
    assert(assertFinishesAgree(sharing(Dedup.ngramDfCap + 1).toDF("doc_id", "text")).isEmpty)
  }

  test("a NULL doc_id counts toward the cap but pairs with nothing") {
    val docs = sharing(Dedup.ngramDfCap) ++ Seq[(Option[Long], String)](
      (None, "alpha beta gamma null doc"),
      (None, "one two three four five"),
      (Some(99L), "one two three four five"))
    // the NULL doc pushes "alpha beta gamma" over the cap; its identical
    // twin of doc 99 forms no pair
    assert(assertFinishesAgree(docs.toDF("doc_id", "text")).isEmpty)
  }

  test("NULL text, short docs and repeated doc_ids") {
    val docs = Seq[(Option[Long], Option[String])](
      (Some(1L), Some("the quick brown fox jumps over the lazy dog")),
      (Some(1L), Some("a second text for the first document id")),
      (Some(2L), Some("a second text for the first document id")),
      (Some(3L), Some("the quick brown fox jumps over a cat")),
      (Some(4L), None),
      (Some(5L), Some("two words")),
      (Some(6L), Some("the quick")))
    val got = assertFinishesAgree(docs.toDF("doc_id", "text"))
    // doc 1's shingle set is the union of both of its texts
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 2L), (1L, 3L)))
    assert(got.map(_._3) == Seq(0.461538, 0.266667)) // 6 / 13, 4 / 15
  }

  test("a pair exactly at the threshold is kept") {
    // 5 and 6 shingles, 1 shared: Jaccard 1 / (5 + 6 - 1) = ngramTau
    val docs = Seq((1L, "s1 s2 s3 a1 a2 a3 a4"), (2L, "s1 s2 s3 b1 b2 b3 b4 b5"))
    assert(assertFinishesAgree(docs.toDF("doc_id", "text")) == Seq((1L, 2L, Dedup.ngramTau)))
  }

  test("the budget is inclusive: one posting over it runs the distributed plan") {
    val docs = Seq((1L, "s1 s2 s3 a1 a2 a3 a4"), (2L, "s1 s2 s3 b1 b2 b3 b4 b5"))
      .toDF("doc_id", "text") // 5 + 6 postings
    val at = Dedup.ngramJaccard(docs, driverBudget = 11)
    val over = Dedup.ngramJaccard(docs, driverBudget = 10)
    assert(DriverRows.isLocal(at))
    assert(!DriverRows.isLocal(over))
    assert(rows(at) == rows(over))
  }

  test("more passing pairs than the budget run the distributed plan") {
    val docs = sharing(10).toDF("doc_id", "text") // 40 postings, 45 pairs
    val at = Dedup.ngramJaccard(docs, driverBudget = 45)
    val over = Dedup.ngramJaccard(docs, driverBudget = 44)
    assert(DriverRows.isLocal(at))
    assert(!DriverRows.isLocal(over))
    val want = rows(Dedup.ngramJaccard(docs, driverBudget = 0))
    assert(want.size == 45 && rows(at) == want && rows(over) == want)
  }

  test("the pair derivation and the cluster decision over the corpus run at most one job") {
    val corpus = Tables.documents(spark, sfDir)
    // with its rows read: a lazy pair plan runs its jobs at the collect
    val pairs = jobsDuring(Dedup.ngramJaccard(corpus).collect())
    assert(pairs <= 1, s"ngramJaccard ran $pairs jobs")
    val clusters = jobsDuring(Dedup.clusters(Dedup.ngramJaccard(corpus)))
    assert(clusters <= 1, s"clusters(ngramJaccard) ran $clusters jobs")
  }
}
