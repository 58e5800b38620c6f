package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Bloom cross-refresh membership gate (r14): zero false negatives,
  * union mergeability, file-backed append, and the m-bounded filter. */
class BloomSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = graft.sources.Tables.documents(spark, sfDir)

  test("zero false negatives: every snapshot member is flagged") {
    val members = docs.where(col("doc_id") % 2 === 0)
    val filter = Dedup.bloomBuild(members)
    val flagged = Dedup.bloomFlag(docs, filter)
      .select("doc_id").as[Long].collect().toSet
    val memberIds = members.select("doc_id").as[Long].collect().toSet
    assert((memberIds -- flagged).isEmpty,
      s"false negatives: ${(memberIds -- flagged).take(3)}")
  }

  test("filter is m-bounded and mergeable by plain union") {
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 === 1)
    val whole = Dedup.bloomBuild(docs)
    assert(whole.count() <= Dedup.bloomBits)
    val merged = Dedup.bloomBuild(a).unionByName(Dedup.bloomBuild(b)).distinct()
    assert(whole.exceptAll(merged).isEmpty && merged.exceptAll(whole).isEmpty)
  }

  test("a novel text with provably-unset positions is NOT flagged") {
    // compute the gate's own position maths in plain Scala for a novel
    // text; regenerate until all k positions miss the built filter —
    // that doc must not be flagged (and with m=2^17 over ~250 members
    // the first candidate already misses)
    val members = docs.where(col("doc_id") % 2 === 0)
    val filter = Dedup.bloomBuild(members)
    val set = filter.as[Long].collect().toSet
    def positions(text: String): Seq[Long] = {
      val norm = text.toLowerCase.trim.replaceAll("\\s+", " ")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseUnsignedLong(md5.take(15), 16)
      val s = h % Dedup.mhP
      (0 until Dedup.bloomK).map(i => ((Dedup.mhA(i) * s + Dedup.mhB(i)) % Dedup.mhP) % Dedup.bloomBits)
    }
    val novel = (1 to 50).map(i => s"novel zz$i unseen text probe")
      .find(t => positions(t).forall(p => !set.contains(p)))
      .getOrElse(fail("no all-miss novel text in 50 candidates (FP storm?)"))
    val probe = Seq((999999L, novel)).toDF("doc_id", "text")
    assert(Dedup.bloomFlag(probe, filter).isEmpty)
    // sanity: the Scala-side maths IS the gate's (a member's positions
    // all hit)
    val memberText = members.select("text").as[String].head()
    assert(positions(memberText).forall(set.contains))
  }

  test("file-backed filter with staged append equals the full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("bloom_gate").toString
    try {
      val a = docs.where(col("doc_id") % 4 === 0)
      val b = docs.where(col("doc_id") % 4 === 2)
      graft.Artifact.write(dir, "bloom", Nil, Seq("pos" -> Dedup.bloomBuild(a)))
      graft.Artifact.update(dir, appends = Seq("pos" -> Dedup.bloomBuild(b)))
      val fileFilter = graft.Artifact.read(spark, dir, "bloom")("pos")
      val full = Dedup.bloomFlag(docs,
        Dedup.bloomBuild(docs.where(col("doc_id") % 2 === 0)))
      val appended = Dedup.bloomFlag(docs, fileFilter)
      assert(full.exceptAll(appended).isEmpty && appended.exceptAll(full).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("stateless gate equals the aggregate gate row-for-row, with no aggregation in its plan") {
    val filter = Dedup.bloomBuild(docs.where(col("doc_id") % 2 === 0))
    val agg = Dedup.bloomFlag(docs, filter)
    val stateless = Dedup.bloomFlagStateless(docs, filter)
    assert(agg.exceptAll(stateless).isEmpty && stateless.exceptAll(agg).isEmpty)
    assert(agg.count() > 0)
    // the stream-side plan carries joins only — the property that lets
    // it ride a readStream without a state store (the filter side's
    // distinct is static and allowed)
    val streamSide = stateless.queryExecution.analyzed.toString
    assert(!streamSide.split("Join").head.contains("Aggregate"),
      s"aggregation above the probe joins:\n$streamSide")
  }

  test("duplicate doc_id arrivals: aggregate form flags once per distinct id, stateless per row (r14 review pin)") {
    val memberText = docs.where(col("doc_id") % 2 === 0)
      .select("text").as[String].head()
    val filter = Dedup.bloomBuild(docs.where(col("doc_id") % 2 === 0))
    // the same doc_id re-posted within one batch — a plain hit count
    // would read 2k hits vs need=k and silently false-negative
    val dup = Seq((7L, memberText), (7L, memberText), (8L, memberText))
      .toDF("doc_id", "text")
    val agg = Dedup.bloomFlag(dup, filter)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(agg == Seq(7L, 8L), s"aggregate form false-negatived: $agg")
    val stateless = Dedup.bloomFlagStateless(dup, filter)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(stateless == Seq(7L, 7L, 8L), s"stateless multiplicity: $stateless")
  }

  test("stateless gate rides a real stream: members flag, novels pass, across batches") {
    implicit val ctx = spark.sqlContext
    val memberText = docs.where(col("doc_id") % 2 === 0)
      .select("text").as[String].head()
    val filter = Dedup.bloomBuild(docs.where(col("doc_id") % 2 === 0))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Dedup.bloomFlagStateless(
        input.toDF().toDF("doc_id", "text"), filter)
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    try {
      input.addData((100001L, memberText), (100002L, "zz novel unseen alpha"))
      q.processAllAvailable()
      input.addData((100003L, memberText))
      q.processAllAvailable()
      val flagged = spark.table("bloom_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(flagged.contains(100001L) && flagged.contains(100003L))
      assert(!flagged.contains(100002L) ||
        // an FP on the novel is possible in principle; accept only if
        // the batch gate agrees (determinism, not zero-FP, is the claim)
        Dedup.bloomFlagStateless(
          Seq((100002L, "zz novel unseen alpha")).toDF("doc_id", "text"),
          filter).count() == 1)
    } finally q.stop()
  }
}
