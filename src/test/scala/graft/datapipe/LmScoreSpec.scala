package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Char-trigram LM likelihood gate ([[TextOps.lmScore]] — the CCNet
  * perplexity-filtering signal as a deterministic mean-likelihood):
  * planted smoothing/contract checks, a pure-Scala oracle battery, and
  * the plan shape (model sides broadcast, one doc regroup). */
class LmScoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Option[Double])] =
    TextOps.lmScore(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap

  /** Pure-Scala mirror: add-one-smoothed trigram probs, decimal-exact
    * mean (25dp HALF_UP per p — wide enough that corpus-scale tiny
    * probabilities never floor to zero — double divide, 6dp round). */
  private def oracle(docs: Seq[(Long, String)]): Map[Long, (Long, Option[Double])] = {
    def grams(s: String, n: Int): Seq[String] =
      if (s.length < n) Seq.empty else (0 to s.length - n).map(i => s.substring(i, i + n))
    val c3 = docs.flatMap(d => grams(d._2, 3)).groupBy(identity).view.mapValues(_.size).toMap
    val c2 = docs.flatMap(d => grams(d._2, 2)).groupBy(identity).view.mapValues(_.size).toMap
    val v = docs.flatMap(d => grams(d._2, 1)).distinct.size
    docs.map { case (id, t) =>
      val tris = grams(t, 3)
      if (tris.isEmpty) id -> ((0L, None))
      else {
        val ps = tris.map { g =>
          val p = (c3.getOrElse(g, 0) + 1).toDouble / (c2.getOrElse(g.take(2), 0) + v).toDouble
          BigDecimal(p).setScale(25, BigDecimal.RoundingMode.HALF_UP)
        }
        val mean = BigDecimal(ps.sum.toDouble / tris.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        id -> ((tris.size.toLong, Some(mean)))
      }
    }.toMap
  }

  test("planted corpus: in-model text outscores unseen-trigram gibberish; smoothing exact") {
    // doc 2 repeats doc 0/1's character patterns; doc 3 is drawn from a
    // disjoint alphabet, so every trigram is unseen-but-smoothed
    val docs = Seq(
      0L -> "the cat sat on the mat",
      1L -> "the rat sat on the cat",
      2L -> "the cat sat",
      3L -> "zqxjkvzqxjkv")
    val got = run(docs)
    val want = oracle(docs)
    assert(got == want, s"got $got\nwant $want")
    assert(got(2L)._2.get > got(3L)._2.get,
      "in-model text must outscore out-of-model gibberish")
    // n_trigrams = len-2 for each doc
    docs.foreach { case (id, t) => assert(got(id)._1 == math.max(0, t.length - 2)) }
  }

  test("contract rows: NULL and sub-3-char docs keep a row with zero trigrams") {
    val got = TextOps.lmScore(Seq(
      (1L, null.asInstanceOf[String]), (2L, "ab"), (3L, "abcd"))
      .toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "one row per doc, none dropped")
    assert(got(1L) == ((0L, None)) && got(2L) == ((0L, None)))
    assert(got(3L)._1 == 2L && got(3L)._2.isDefined)
  }

  test("randomized battery matches the pure-Scala oracle") {
    val rnd = new scala.util.Random(149611)
    val alphabet = "abcdef gh"
    val docs = (0L until 60L).map { id =>
      id -> (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    assert(run(docs) == oracle(docs))
  }

  test("r12: constructing the frame is metadata-only — no eager reference scan") {
    // r11 finding: lmScore ran `.head` on the reference charset at
    // operator-CONSTRUCTION time, launching a full corpus scan before
    // the returned frame was ever executed. The pin: a reference that
    // THROWS on any row evaluation must build fine and only fail when
    // an action actually runs.
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    val poisonRef = docs.where(raise_error(lit("eager reference scan")).isNotNull)
    val df = TextOps.lmScore(docs, poisonRef) // must NOT throw: planning only
    val e = intercept[Exception](df.collect())
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(rootChain(e).exists(_.contains("eager reference scan")),
      s"action must reach the poisoned reference, got: ${rootChain(e)}")
  }

  test("r12: empty reference keeps smoothing well-defined (no NULLed scores)") {
    // r11 advice: v=0 on an all-empty reference made p = 1/(c2+0) =
    // Infinity, whose DECIMAL cast silently NULLed every lm_score
    // through the public two-argument API. greatest(v,1) pins p = 1.
    val docs = Seq((1L, "abcd"), (2L, "xy")).toDF("doc_id", "text")
    val emptyRef = Seq((9L, ""), (10L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextOps.lmScore(docs, emptyRef).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(got(1L)._1 == 2L)
    assert(got(1L)._2.contains(1.0), // (0+1)/(0+1) per trigram
      s"empty-reference smoothing must give p=1, got ${got(1L)._2}")
    assert(got(2L) == ((0L, None)))
  }

  test("r12: file-backed model round-trips — write/read scores identically") {
    // the CCNet deployment shape: train once on the curated reference,
    // persist, score crawl shards against the parquet-backed model
    val ref = Seq((1L, "the cat sat"), (2L, "the rat sat")).toDF("doc_id", "text")
    val docs = Seq((10L, "the cat"), (11L, "zq")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_model").toString
    TextOps.lmModel(ref).write(dir)
    val fresh = TextOps.lmScore(docs, ref).collect().map(_.toString).sorted.toSeq
    val fromDisk = TextOps.lmScoreWith(docs, TextOps.LmModel.read(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    assert(fresh == fromDisk, s"fresh=$fresh disk=$fromDisk")
  }

  test("plan: model sides broadcast, corpus shuffles only for the doc regroup") {
    def shuffles(plan: SparkPlan): Int = collect(plan) { case e: ShuffleExchangeLike => e }.size
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val df = TextOps.lmScore(docs)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin") ||
      plan.toString.contains("BroadcastNestedLoop") == false &&
        plan.toString.contains("Broadcast"),
      s"model joins must broadcast:\n$plan")
    // shuffles: tri counts + bi counts (model build, bounded relations)
    // + the per-doc score regroup + the final left join back to docs —
    // the EXPLODED corpus trigram stream itself never exchanges before
    // its broadcast probes
    assert(!plan.toString.contains("SortMergeJoin"),
      s"no sort-merge on the trigram stream:\n$plan")
    assert(df.count() == docs.count(), "one row per doc")
  }

  test("stateless streaming LM gate: fold == batch sum bit-for-bit, rides a MemoryStream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val ctx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val model = TextOps.lmModel(docs.where(col("doc_id") % 10 === 0))
    // the stream form equals the exploded-groupBy batch form on the
    // whole corpus (exact decimal fold == the sum accumulator)
    val viaFold = TextOps.lmScoreStreaming(docs, model)
      .collect().map(_.toSeq).toSet
    val viaAgg = TextOps.lmScoreWith(docs, model)
      .collect().map(_.toSeq).toSet
    assert(viaFold == viaAgg && viaFold.nonEmpty)
    // and it runs on a real stream, statelessly, across batches
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = TextOps.lmScoreStreaming(
        input.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("lm_stream")
      .outputMode("append").start()
    try {
      input.addData((900L, docs.select("text").as[String].head()), (901L, "zq"))
      q.processAllAvailable()
      input.addData((902L, "xxyyzz gibberish qqq"))
      q.processAllAvailable()
      val rows = spark.table("lm_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2))).toMap
      assert(rows.keySet == Set(900L, 901L, 902L))
      assert(rows(901L)._1 == 0L && rows(901L)._2 == null) // sub-trigram text
      val batch = TextOps.lmScoreWith(
          Seq((902L, "xxyyzz gibberish qqq")).toDF("doc_id", "text"), model)
        .collect().head
      assert(rows(902L) == (batch.getLong(1), batch.getDouble(2)))
    } finally q.stop()
  }
}
