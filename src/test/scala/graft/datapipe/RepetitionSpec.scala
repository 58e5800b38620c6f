package graft.datapipe

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Gopher-style repetition gate: duplicate n-gram fractions, array-native. */
class RepetitionSpec extends SparkSpecBase {

  test("hand-computed fractions on planted docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),        // bigrams: ab ba ab ba ab -> 5 total, 2 distinct
      (2L, "a b c d e"),          // all distinct
      (3L, "x"),                  // no bigrams at all
      (4L, "w w w w")             // maximal repetition
    ).toDF("doc_id", "text")
    val r = TextOps.repetition(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2), x.getBoolean(5)))).toMap
    assert(r(1L)._1 == 5 && math.abs(r(1L)._2 - 0.6) < 1e-6 && r(1L)._3)
    assert(r(2L)._2 == 0.0 && !r(2L)._3)
    assert(r(3L)._1 == 0 && r(3L)._2 == 0.0 && !r(3L)._3)
    assert(r(4L)._1 == 3 && math.abs(r(4L)._2 - (1.0 - 1.0 / 3)) < 1e-6 && r(4L)._3)
  }

  test("zero-shuffle: the corpus plan has no exchange of any kind") {
    // r18 (ADVICE fix): back to the strict structural pin — the r17
    // loader-level fanout is gone (the spread moved inside the HEAVY
    // operators; repetition is a pure projection and gets none), so this
    // lineage must hold zero ShuffleExchangeLike nodes, not merely zero
    // hash-partitioned ones (the weakened string pin would have let a
    // stray range/round-robin exchange slip in unnoticed).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = TextOps.repetition(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan
    val exchanges = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(exchanges.isEmpty, s"unexpected shuffle in:\n$plan")
  }

  test("corpus gate is deterministic and flags the planted boilerplate tail") {
    val r = TextOps.repetition(Tables.documents(spark, sfDir))
    val n = r.where(col("repetitious")).count()
    assert(n > 0 && n < r.count() / 10, s"gate flagged $n docs")
    assert(r.count() == Tables.documents(spark, sfDir).count())
  }
}
