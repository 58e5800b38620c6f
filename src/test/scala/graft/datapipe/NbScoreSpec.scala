package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/**
 * Bernoulli NB quality-classifier gate (r13): hand-oracled affinity
 * maths, the neutral-prior fallthrough, the vocabulary cap's
 * deterministic cut, and the persisted-model deployment shape.
 */
class NbScoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "good clean prose here"),   // curated
    (10L, "good clean text there"),  // curated
    (1L, "spam spam junk junk"),     // crawl
    (2L, "clean spam mixed words"),  // crawl
    (3L, null.asInstanceOf[String])) // null text keeps its row, NULL score
    .toDF("doc_id", "text")

  private val curated = col("doc_id") % 10 === 0

  /** The operator's exact affinity formula, replicated in plain Scala. */
  private def r(df1: Long, df0: Long, n1: Long, n0: Long): Double = {
    val a = (df1 + 1).toDouble * (n0 + 2).toDouble
    val b = (df0 + 1).toDouble * (n1 + 2).toDouble
    a / (a + b)
  }
  private def mean6(rs: Seq[Double]): Double =
    BigDecimal(rs.map(x => BigDecimal(x).setScale(25, BigDecimal.RoundingMode.HALF_UP)).sum
      .toDouble / rs.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("scores equal the hand-computed Bernoulli affinity means") {
    // df per word over DISTINCT words per doc: n1=2 curated, n0=2 crawl
    // (the null-text doc counts in n0: its label is crawl, no words)
    val df = Map(
      "good" -> (2L, 0L), "clean" -> (2L, 1L), "prose" -> (1L, 0L),
      "here" -> (1L, 0L), "text" -> (1L, 0L), "there" -> (1L, 0L),
      "spam" -> (0L, 2L), "junk" -> (0L, 1L), "mixed" -> (0L, 1L),
      "words" -> (0L, 1L))
    val (n1, n0) = (2L, 3L)
    def score(ws: Seq[String]) =
      mean6(ws.map { w => val (a, b) = df(w); r(a, b, n1, n0) })
    val want = Map(
      0L -> score(Seq("good", "clean", "prose", "here")),
      10L -> score(Seq("good", "clean", "text", "there")),
      1L -> score(Seq("spam", "junk")),
      2L -> score(Seq("clean", "spam", "mixed", "words")))
    val got = TextOps.nbScore(corpus, curated).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), Option(x.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    want.foreach { case (id, s) =>
      assert(got(id)._2.contains(s), s"doc $id: ${got(id)} vs $s")
    }
    // curated docs must score above the crawl docs (the gate's point)
    assert(got(0L)._2.get > got(1L)._2.get && got(10L)._2.get > got(2L)._2.get)
    // null-text doc keeps its row: 0 words, NULL score
    assert(got(3L) == ((0L, None)))
  }

  test("unseen words fall through to the neutral prior") {
    val model = TextOps.nbModel(corpus, curated)
    val fresh = Seq((100L, "utterly novel vocabulary")).toDF("doc_id", "text")
    val s = TextOps.nbScoreWith(fresh, model).collect().head
    val neutral = r(0L, 0L, 2L, 3L)
    assert(s.getLong(1) == 3L)
    assert(s.getDouble(2) == mean6(Seq(neutral, neutral, neutral)))
  }

  test("vocabulary cap keeps the top-df words deterministically; the rest score neutral") {
    // cap=2: 'clean' (df 3) and 'spam' (df 2)... ties at df 2 break by
    // word ASC ('good' < 'spam'), so the capped vocab is {clean, good}
    val model = TextOps.nbModel(corpus, curated, cap = 2)
    val voc = model.vocab.select("w").collect().map(_.getString(0)).toSet
    assert(voc == Set("clean", "good"), s"capped vocab was $voc")
    // a word OUTSIDE the cap ('spam') scores exactly neutral now
    val s = TextOps.nbScoreWith(Seq((200L, "spam")).toDF("doc_id", "text"), model)
      .collect().head
    assert(s.getDouble(2) == mean6(Seq(r(0L, 0L, 2L, 3L))))
  }

  test("persisted model round-trips: file-backed scoring is bit-identical") {
    val dir = java.nio.file.Files.createTempDirectory("nb_spec_").toString
    try {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      TextOps.nbModel(docs, curated).write(dir)
      val fromDisk = TextOps.nbScoreWith(docs, TextOps.NbModel.read(spark, dir))
        .collect().map(_.toSeq).toSet
      graft.CacheRegistry.unpersistAll()
      val fresh = TextOps.nbScore(docs, curated).collect().map(_.toSeq).toSet
      assert(fromDisk == fresh && fresh.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("r13 streaming gate: arrivals score statelessly against the file-backed model") {
    // the deployment form: a trained NbModel on parquet, an ingest stream
    // scored per micro-batch — stream-static broadcast joins + the
    // per-doc mean, no state store; scores must equal the batch form
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("nb_stream_").toString
    try {
      TextOps.nbModel(corpus, curated).write(dir)
      val model = TextOps.NbModel.read(spark, dir)
      val input = MemoryStream[StreamDoc]
      val q = TextOps.nbScoreStreaming(
          input.toDF().select(col("doc_id"), col("text")), model)
        .writeStream.format("memory").queryName("nb_stream")
        .outputMode("append").start()
      try {
        input.addData(
          StreamDoc(50L, "good clean prose here", new Timestamp(1000)),
          StreamDoc(51L, "spam spam junk junk", new Timestamp(2000)))
        q.processAllAvailable()
        input.addData(StreamDoc(52L, "utterly novel words", new Timestamp(3000)))
        q.processAllAvailable()
        val streamed = spark.table("nb_stream").collect()
          .map(r => r.getLong(0) -> r.getDouble(2)).toMap
        val batch = TextOps.nbScoreWith(
            Seq((50L, "good clean prose here"), (51L, "spam spam junk junk"),
              (52L, "utterly novel words")).toDF("doc_id", "text"), model)
          .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
        assert(streamed == batch && streamed(50L) > streamed(51L))
        // and the stream form equals the exploded batch form on the real
        // corpus too (the decimal fold == the groupBy sum, bit-for-bit)
        val docs = graft.sources.Tables.documents(spark, sfDir)
        val viaFold = TextOps.nbScoreStreaming(docs, model)
          .collect().map(_.toSeq).toSet
        val viaAgg = TextOps.nbScoreWith(docs, model)
          .collect().map(_.toSeq).toSet
        assert(viaFold == viaAgg)
      } finally q.stop()
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("scoring plan: model broadcasts; the only corpus exchange is the per-doc mean") {
    // r13 review fix: the executed plan is an AdaptiveSparkPlanExec leaf
    // under AQE, so a naive plan.collect{ShuffleExchangeLike} asserts
    // nothing — the spec base's AQE-aware collect descends. The
    // model-BUILD subtree legitimately shuffles `w` (the vocab groupBy),
    // so the precise claim is: no exchange carries an exploded word
    // still attached to its doc_id (corpus words never shuffle)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def exchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
      collect(plan) { case e: ShuffleExchangeLike => e }
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val model = TextOps.nbModel(docs, curated)
    val scored = TextOps.nbScoreWith(docs, model)
    val p = scored.queryExecution.executedPlan
    assert(p.toString.contains("BroadcastHashJoin") || p.toString.contains("Broadcast"),
      s"vocab join must broadcast:\n$p")
    val shuffles = exchanges(p)
    assert(shuffles.nonEmpty, s"expected the per-doc mean exchange:\n$p")
    shuffles.foreach { e =>
      val names = e.child.output.map(_.name).toSet
      assert(!(names.contains("w") && names.contains("doc_id")),
        s"a corpus exchange carries exploded (doc_id, w) rows:\n$e")
    }
  }
}
