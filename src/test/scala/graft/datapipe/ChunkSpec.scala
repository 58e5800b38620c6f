package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Context-window chunking ([[TextOps.chunk]]): hand-checked boundary
  * cases, a reconstruction property (chunks tile the document), and the
  * zero-shuffle plan contract. */
class ChunkSpec extends SparkSpecBase {
  import spark.implicits._

  private val W = TextOps.chunkWords
  private val S = TextOps.chunkStride

  private def doc(id: Long, n: Int): (Long, String) =
    (id, (0 until n).map(i => s"w$i").mkString(" "))

  private def chunksOf(docs: Seq[(Long, String)]): Map[Long, Seq[(Long, String, Long)]] =
    TextOps.chunk(docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("chunk"), r.getAs[Long]("n_words")))
      .groupBy(_._1)
      .map { case (k, v) => k -> v.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq }

  test("boundary cases: short, exact-window, one-past, and long documents") {
    val out = chunksOf(Seq(doc(1, 5), doc(2, W), doc(3, W + 1), doc(4, 100)))
    assert(out(1L) == Seq((0L, (0 until 5).map(i => s"w$i").mkString(" "), 5L)),
      "short doc is one chunk equal to itself")
    assert(out(2L).map(_._3) == Seq(W.toLong), "exact-window doc is one full chunk")
    // one word past the window: second chunk starts at S, clamps at n
    assert(out(3L).map(_._3) == Seq(W.toLong, (W + 1 - S).toLong))
    assert(out(3L)(1)._2.startsWith(s"w$S "), "second chunk starts at the stride")
    // 100 words: ceil((100-W)/S)+1 = 3 chunks
    assert(out(4L).map(_._3) == Seq(W.toLong, W.toLong, (100 - 2 * S).toLong))
    assert(out(4L).map(_._1) == Seq(0L, 1L, 2L))
  }

  test("NULL text yields exactly one empty chunk (both-engine guard)") {
    // r9 advice fix: Spark's greatest(1, NULL) ignores the NULL while
    // DuckDB's range(0, NULL) emits zero rows — without the coalesce
    // guard a NULL-text doc is a row-count divergence between the
    // operator and its oracle. Both now see split('', ' ') = [''].
    val out = TextOps.chunk(Seq((1L, null: String), (2L, "a b c"))
      .toDF("doc_id", "text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("chunk"), r.getAs[Long]("n_words")))
    assert(out.count(_._1 == 1L) == 1, "NULL text -> exactly one row")
    assert(out.find(_._1 == 1L).get == (1L, 0L, "", 1L),
      "the single chunk is the empty token")
    assert(out.count(_._1 == 2L) == 1)
  }

  test("chunks tile the document: stride suffixes reconstruct the original text") {
    val docs = Seq(doc(10, 1), doc(11, 29), doc(12, 30), doc(13, 31),
      doc(14, 70), doc(15, 71), doc(16, 99))
    val out = chunksOf(docs)
    docs.foreach { case (id, text) =>
      val chunks = out(id)
      // chunk i >= 1 contributes its words past the (W - S)-word overlap
      val rebuilt = chunks.head._2 +: chunks.tail.map { case (_, c, _) =>
        c.split(" ").drop(W - S).mkString(" ")
      }
      assert(rebuilt.filter(_.nonEmpty).mkString(" ") == text,
        s"doc $id did not reconstruct from its chunks")
      // every non-final chunk is exactly W words
      chunks.dropRight(1).foreach { case (i, _, n) =>
        assert(n == W.toLong, s"doc $id chunk $i has $n words")
      }
      // consecutive chunks overlap by exactly W - S words
      chunks.sliding(2).foreach {
        case Seq((_, a, _), (_, b, _)) =>
          assert(a.split(" ").drop(S).toSeq == b.split(" ").take(W - S).toSeq)
        case _ =>
      }
    }
  }

  test("chunking runs unchanged on a stream (stateless projection): stream == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = TextOps.chunk(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      input.addData(doc(1, 80), doc(2, 10))
      q.processAllAvailable()
      input.addData(doc(3, 41))
      q.processAllAvailable()
      val streamed = spark.table("chunk_stream").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
          r.getAs[String]("chunk"), r.getAs[Long]("n_words"))).toSet
      val batch = TextOps.chunk(
        Seq(doc(1, 80), doc(2, 10), doc(3, 41)).toDF("doc_id", "text")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
          r.getAs[String]("chunk"), r.getAs[Long]("n_words"))).toSet
      assert(streamed == batch, "streamed chunks differ from the batch form")
    } finally q.stop()
  }

  test("chunking is a zero-shuffle projection") {
    val df = TextOps.chunk(Seq(doc(1, 80), doc(2, 10)).toDF("doc_id", "text"))
    df.collect()
    val plan: SparkPlan = df.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"expected no exchange, got:\n$plan")
  }
}
