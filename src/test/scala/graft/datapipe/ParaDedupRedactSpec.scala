package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Segment-level dedup + PII redaction: planted-input semantics against
  * a pure-Scala brute-force oracle, plus the scale-contract plan pins
  * (segment dedup: segments shuffle exactly twice — the keep-first
  * window and the per-doc regroup; redaction: zero shuffles). */
class ParaDedupRedactSpec extends SparkSpecBase {

  import spark.implicits._

  private val W = TextOps.segWords

  /** Structural exchange count, descending through AQE wrappers (a
    * toString regex would vacuously pass on a rendering change). */
  private def shuffleCount(plan: SparkPlan): Int =
    collect(plan) { case e: ShuffleExchangeLike => e }.size

  /** Brute-force reference: global first-occurrence keep over word
    * windows, reassembled in order. */
  private def refSegDedup(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Option[String])] = {
    val seen = scala.collection.mutable.Set[String]()
    val out = scala.collection.mutable.Map[Long, (Long, Long, Option[String])]()
    for ((id, text) <- docs.sortBy(_._1)) {
      val segs = text.split(" ", -1).grouped(W).map(_.mkString(" ")).toSeq
      val kept = segs.filter { s => if (seen(s)) false else { seen += s; true } }
      out(id) = (segs.size.toLong, kept.size.toLong,
        if (kept.isEmpty) None else Some(kept.mkString(" ")))
    }
    out.toMap
  }

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Option[String])] =
    TextOps.segmentDedup(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getString(3))))).toMap

  test("planted shared boilerplate disappears at second occurrence, unique text survives") {
    val boiler = (1 to W).map(i => s"b$i").mkString(" ")       // exactly one segment
    val uniqueA = (1 to W).map(i => s"a$i").mkString(" ")
    val uniqueB = (1 to W).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      0L -> s"$boiler $uniqueA",
      1L -> s"$boiler $uniqueB",                                // boiler deduped away
      2L -> boiler)                                             // entirely duplicate
    val got = run(docs)
    assert(got == refSegDedup(docs))
    assert(got(0L) == ((2L, 2L, Some(s"$boiler $uniqueA"))))
    assert(got(1L) == ((2L, 1L, Some(uniqueB))))
    assert(got(2L) == ((1L, 0L, None)))
  }

  test("within-document repeats dedup too, first position wins") {
    val seg = (1 to W).map(i => s"x$i").mkString(" ")
    val tail = (1 to W).map(i => s"y$i").mkString(" ")
    val docs = Seq(5L -> s"$seg $seg $tail")
    val got = run(docs)
    assert(got == refSegDedup(docs))
    assert(got(5L) == ((3L, 2L, Some(s"$seg $tail"))))
  }

  test("randomized corpus matches the brute-force oracle") {
    val rnd = new scala.util.Random(16288)
    val vocab = (1 to 12).map(i => s"w$i")
    val docs = (0L until 40L).map { id =>
      val n = 5 + rnd.nextInt(70)
      id -> (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    assert(run(docs) == refSegDedup(docs))
  }

  test("NULL-text docs keep their segment-dedup row (same guard as chunk/spanDedup)") {
    // r11 advice fix: words(NULL) nulls the explode bound and silently
    // drops the doc from the one-row-per-doc contract — on both the
    // Spark side and the string_split(text) oracle; coalesce('') keeps
    // it as a single empty segment (deduped away if '' repeats)
    val seg = (1 to W).map(i => s"q$i").mkString(" ")
    val got = run(Seq(1L -> null.asInstanceOf[String], 2L -> seg))
    assert(got.contains(1L), "NULL-text doc must not vanish from the output")
    assert(got(1L) == ((1L, 1L, Some(""))), s"one kept empty segment: ${got(1L)}")
    assert(got(2L) == ((1L, 1L, Some(seg))))
  }

  test("segment dedup plan: exactly two shuffles (keep-first window + doc regroup)") {
    val docs = (0L until 20L).map(id => id -> (1 to 45).map(i => s"t${(id + i) % 9}").mkString(" "))
    val df = TextOps.segmentDedup(docs.toDF("doc_id", "text"))
    assert(shuffleCount(df.queryExecution.executedPlan) == 2,
      df.queryExecution.executedPlan.toString)
    assert(df.count() == 20)
  }

  test("redaction masks planted PII and counts it on the original text") {
    val docs = Seq(
      0L -> "plain words only",
      7L -> "reach me at bob.smith+x@corp-mail.org or 555-0199, host 192.168.0.7 thanks",
      9L -> "double alice@a.io bob@b.co and 10.0.0.1 10.0.0.2 10.0.0.3")
    val got = TextOps.redactPii(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(0L) == ((0L, 0L, 0L, "plain words only")))
    assert(got(7L) == ((1L, 1L, 1L,
      "reach me at <EMAIL> or <PHONE>, host <IP> thanks")))
    assert(got(9L) == ((2L, 3L, 0L, "double <EMAIL> <EMAIL> and <IP> <IP> <IP>")))
  }

  test("redaction is idempotent: masking a masked text changes nothing") {
    val docs = Seq(7L -> "u7@ex-0.com and 555-0007 at 10.7.0.7")
    val once = TextOps.redactPii(docs.toDF("doc_id", "text"))
      .select(col("doc_id"), col("redacted").as("text"))
    val twice = TextOps.redactPii(once).collect().head
    assert(twice.getLong(1) == 0 && twice.getLong(2) == 0 && twice.getLong(3) == 0)
    assert(twice.getString(4) == "<EMAIL> and <PHONE> at <IP>")
  }

  test("redaction plan: zero shuffles (pure projection)") {
    val df = TextOps.redactPii(TextOps.plantPii(
      (0L until 30L).map(id => id -> s"text $id").toDF("doc_id", "text")))
    df.count()
    assert(shuffleCount(df.queryExecution.executedPlan) == 0,
      df.queryExecution.executedPlan.toString)
  }

  test("plantPii only touches every 7th doc and parses back out") {
    val df = TextOps.redactPii(TextOps.plantPii(
      (0L until 28L).map(id => id -> "base words").toDF("doc_id", "text")))
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 28L).foreach { id =>
      assert(rows(id) == (if (id % 7 == 0) 1L else 0L), s"doc $id")
    }
  }
}
