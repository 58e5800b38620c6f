package graft.datapipe

import java.sql.Timestamp

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** A timestamped document arriving on a stream. */
case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)

class DedupStreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("streaming exact dedup keeps the first occurrence across batches") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = Dedup.exactStreaming(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1L, "the quick brown fox", new Timestamp(1000)),
        StreamDoc(2L, "  THE QUICK  BROWN FOX ", new Timestamp(2000)), // dup of 1
        StreamDoc(3L, "something else entirely", new Timestamp(3000)))
      q.processAllAvailable()
      input.addData(
        StreamDoc(4L, "the quick brown fox", new Timestamp(4000)), // dup again
        StreamDoc(5L, "a genuinely new document", new Timestamp(5000)))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 5L)) // first occurrences only, across batches
    } finally q.stop()
  }

  test("streaming near-dup gate flags arrivals against the static corpus index") {
    implicit val ctx = spark.sqlContext
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (101L, "completely unrelated corpus material about distributed query engines"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(corpus)
    val input = MemoryStream[StreamDoc]
    val q = Dedup.minhashStreamingFlag(input.toDF(), idx)
      .writeStream.format("memory").queryName("neardup_stream").outputMode("append").start()
    try {
      input.addData(
        // near-copy of corpus doc 100 (one word appended: shingle sets
        // differ by a single trailing shingle, so at least one band of
        // signature mins is preserved — fixture chosen deterministically)
        StreamDoc(1L, "the quick brown fox jumps over the lazy dog and runs far away today again",
          new Timestamp(1000)),
        // novel document, no corpus relative
        StreamDoc(2L, "entirely novel text with no overlapping shingles whatsoever here",
          new Timestamp(2000)))
      q.processAllAvailable()
      // second batch still probes the SAME static index (stateless join)
      input.addData(
        StreamDoc(3L, "completely unrelated corpus material about distributed query engines",
          new Timestamp(3000)))
      q.processAllAvailable()
      val flagged = spark.table("neardup_stream")
        .select("doc_id", "dup_of", "jac").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val byDoc = flagged.groupBy(_._1)
      assert(byDoc.contains(1L), s"near-copy not flagged: ${flagged.toSeq}")
      assert(byDoc(1L).forall(t => t._2 == 100L && t._3 >= Dedup.mhTau))
      assert(!byDoc.contains(2L), s"novel doc falsely flagged: ${flagged.toSeq}")
      assert(byDoc.contains(3L) && byDoc(3L).forall(t => t._2 == 101L && t._3 > 0.99),
        s"exact copy in batch 2 not flagged: ${flagged.toSeq}")
    } finally q.stop()
  }

  test("sub-shingle-width docs carry no signature: no NaN flags, no empty-key bucket") {
    // r9 review fix: docs with < shingleK words have EMPTY shingle sets;
    // unfiltered, their per-band array_min is NULL, every band key
    // collapses to "" (concat_ws skips NULLs), all short docs collide in
    // one bucket and their 0/0 Jaccard is NaN — which Spark orders ABOVE
    // the threshold. They must simply not participate, matching the
    // exploded batch forms (no shingle rows).
    import spark.implicits._
    val corpus = Seq(
      (100L, "hi there"), (101L, "foo bar"), // short: no shingles
      (102L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val stream = Seq(
      (1L, "hello world"), (2L, "ok"), // short arrivals
      (3L, "the quick brown fox jumps over the lazy dog")) // exact copy of 102
      .toDF("doc_id", "text")
    val out = Dedup.minhashStreamingFlag(stream, Dedup.minhashIndex(corpus))
      .select("doc_id", "dup_of", "jac").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.forall(!_._3.isNaN), s"NaN jaccard leaked: ${out.toSeq}")
    assert(out.forall(t => t._1 == 3L && t._2 == 102L),
      s"short docs must not be flagged: ${out.toSeq}")
    assert(out.nonEmpty, "the real near-dup is still caught")
  }

  test("near-dup gate batch parity: distinct flagged pairs == minhashLsh pairs") {
    // self-probe: corpus as both index and (batch) arrival side; the
    // stateless plan must reproduce exactly the batch operator's pair
    // set (both orientations of each d1<d2 pair, distinct over bands)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val flagged = Dedup.minhashStreamingFlag(docs, Dedup.minhashIndex(docs))
      .select("doc_id", "dup_of").distinct().collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    val batch = Dedup.minhashLsh(docs).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged == batch, s"flag/batch divergence: ${flagged.diff(batch)} vs ${batch.diff(flagged)}")
    assert(batch.nonEmpty, "parity fixture must contain near-dups")
  }

  test("embedding-space streaming gate flags semantic arrivals, stateless") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (100L, Array(1.0f, 0.02f, 0.0f, 0.01f, 0.9f, 0.0f, 0.03f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.02f, 0.9f, 0.0f, 0.04f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val idx = Ann.embedIndex(corpus)
    val input = MemoryStream[(Long, Array[Float])]
    val q = Ann.embedStreamingFlag(input.toDF().toDF("vec_id", "embedding"), idx)
      .writeStream.format("memory").queryName("embed_flag").outputMode("append").start()
    try {
      input.addData(
        (1L, Array(0.98f, 0.03f, 0.01f, 0.0f, 0.91f, 0.01f, 0.02f, 0.01f)), // ~100
        (2L, Array(-0.9f, 0.1f, -0.8f, 0.0f, -0.02f, 0.9f, -0.5f, 0.1f)))   // novel
      q.processAllAvailable()
      val flagged = spark.table("embed_flag")
        .select("vec_id", "dup_of", "sim").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val byDoc = flagged.groupBy(_._1)
      assert(byDoc.contains(1L) && byDoc(1L).forall(t => t._2 == 100L && t._3 >= Ann.ndTau),
        s"semantic near-copy not flagged: ${flagged.toSeq}")
      assert(!byDoc.contains(2L), s"novel vector falsely flagged: ${flagged.toSeq}")
    } finally q.stop()
  }

  test("embedding gate batch parity: distinct flagged pairs == embedNearDup pairs") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val flagged = Ann.embedStreamingFlag(emb, Ann.embedIndex(emb))
      .select("vec_id", "dup_of").distinct().collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    val batch = Ann.embedNearDup(emb).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged == batch,
      s"divergence: ${flagged.diff(batch)} vs ${batch.diff(flagged)}")
    assert(batch.nonEmpty, "parity fixture must contain embedding near-dups")
  }

  test("multiprobe embed gate: strict recall superset of the single-probe gate " +
    "at equal bucket width, and parity with batch multiprobe") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val idx = Ann.embedIndex(emb)
    val sp = Ann.embedStreamingFlag(emb, idx)
      .select("vec_id", "dup_of", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val mp = Ann.embedStreamingFlagMultiprobe(emb, idx)
      .select("vec_id", "dup_of", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // flip 0 IS the exact probe: every single-probe row survives
    assert(sp.subsetOf(mp), s"multiprobe lost rows: ${sp.diff(mp)}")
    // the recall lever is real on this corpus: hamming-1 probes recover
    // pairs the exact-bucket gate misses
    assert(mp.size > sp.size,
      s"multiprobe must probe beyond the exact bucket (sp=${sp.size}, mp=${mp.size})")
    // and the stream-side gate agrees with the batch multiprobe operator
    // on the distinct pair set (both orientations, over all bands)
    val mpPairs = mp.map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
    val batch = Ann.embedNearDupMultiprobe(emb).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mpPairs == batch,
      s"divergence: ${mpPairs.diff(batch)} vs ${batch.diff(mpPairs)}")
  }

  test("multiprobe embed gate plan: the flip explode is map-side (no extra shuffle)") {
    // the multiprobe cost model says (planes+1)x probe ROWS, not an
    // extra exchange: the explode must ride the same map-side projection
    // as the banded signature. Structural pin — equal shuffle counts for
    // the single-probe and multiprobe gates over the same index.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(plan: SparkPlan): Int = collect(plan) { case e: ShuffleExchangeLike => e }.size
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val idx = Ann.embedIndex(emb)
    val sp = shuffles(Ann.embedStreamingFlag(emb, idx).queryExecution.executedPlan)
    val mp = shuffles(
      Ann.embedStreamingFlagMultiprobe(emb, idx).queryExecution.executedPlan)
    assert(mp == sp, s"multiprobe added an exchange: $mp vs $sp")
  }

  test("multiprobe embed gate runs STATELESS as a real stream") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (100L, Array(1.0f, 0.02f, 0.0f, 0.01f, 0.9f, 0.0f, 0.03f, 0.0f)),
      (101L, Array(0.0f, 1.0f, 0.02f, 0.9f, 0.0f, 0.04f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val idx = Ann.embedIndex(corpus)
    val input = MemoryStream[(Long, Array[Float])]
    val q = Ann.embedStreamingFlagMultiprobe(input.toDF().toDF("vec_id", "embedding"), idx)
      .writeStream.format("memory").queryName("embed_flag_mp").outputMode("append").start()
    try {
      input.addData(
        (1L, Array(0.98f, 0.03f, 0.01f, 0.0f, 0.91f, 0.01f, 0.02f, 0.01f)), // ~100
        (2L, Array(-0.9f, 0.1f, -0.8f, 0.0f, -0.02f, 0.9f, -0.5f, 0.1f)))   // novel
      q.processAllAvailable()
      val flagged = spark.table("embed_flag_mp")
        .select("vec_id", "dup_of", "sim").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val byDoc = flagged.groupBy(_._1)
      assert(byDoc.contains(1L) && byDoc(1L).forall(t => t._2 == 100L && t._3 >= Ann.ndTau),
        s"semantic near-copy not flagged: ${flagged.toSeq}")
      assert(!byDoc.contains(2L), s"novel vector falsely flagged: ${flagged.toSeq}")
    } finally q.stop()
  }

  test("the near-dup index round-trips through parquet (the cluster-scale form)") {
    // the 100 TB story says "bucket-write the index once, probe it per
    // batch"; prove the claim: flags from a parquet-persisted index are
    // identical to the in-memory index, and the file-backed frame needs
    // no CacheRegistry pin (re-listed per micro-batch = refreshable)
    import spark.implicits._
    val corpus = (0L until 40L).map(i =>
      (i, s"document number $i about topic ${i % 5} with shared boilerplate " +
        "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val probe = corpus.where($"doc_id" % 4 === 0)
    val live = Dedup.minhashStreamingFlag(probe, Dedup.minhashIndex(corpus))
      .collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_").resolve("idx").toString
    Dedup.minhashIndex(corpus).write(dir)
    graft.CacheRegistry.unpersistAll()
    val fromDisk = Dedup.minhashStreamingFlag(probe, Dedup.MinhashIndex.read(spark, dir))
      .collect().map(_.toString).sorted.toSeq
    assert(fromDisk == live && live.nonEmpty,
      s"parquet round-trip must preserve flags (${live.size} rows)")
  }

  test("lean index mass: key rows carry no payload, set/vector mass is 1x, not bands x") {
    // the 100 TB defect this pins closed: the fat single-frame index
    // replicated every member's shingle set (resp. vector) onto all
    // band rows — bands× the corpus payload mass materialized, cached,
    // and carried through every probe join's build side. The lean index
    // must hold the payload exactly ONCE per member.
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val idx = Dedup.minhashIndex(docs)
    assert(idx.keys.columns.toSeq == Seq("band", "key", "corpus_id"),
      s"key rows must be payload-free: ${idx.keys.columns.toSeq}")
    val members = idx.keys.select("corpus_id").distinct().count()
    assert(idx.keys.count() == members * Dedup.mhBands,
      "one key row per (member, band)")
    // set mass == the corpus's distinct (doc, shingle) mass, exactly 1x
    assert(idx.sets.count() == members, "one set row per member")
    val setMass = idx.sets.select(org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.size($"corpus_shs"))).as[Long].head()
    val corpusMass = Dedup.shingles(docs).count()
    assert(setMass == corpusMass,
      s"set mass must be 1x corpus shingle mass: $setMass vs $corpusMass")

    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val eidx = Ann.embedIndex(emb)
    assert(eidx.keys.columns.toSeq == Seq("band", "bucket", "corpus_id"),
      s"embed key rows must be payload-free: ${eidx.keys.columns.toSeq}")
    assert(eidx.vecs.count() == emb.count(), "one vector row per member, not per band")
    assert(eidx.keys.count() == emb.count() * Ann.ndBands)
  }

  test("dedup state is evicted past the watermark horizon") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = Dedup.exactStreaming(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dedup_evict").outputMode("append").start()
    try {
      val hour = 3600L * 1000
      input.addData(StreamDoc(1L, "old news", new Timestamp(hour)))
      q.processAllAvailable()
      // the watermark jumps far past doc 1's horizon -> its hash is evicted
      input.addData(StreamDoc(2L, "much later", new Timestamp(10 * hour)))
      q.processAllAvailable()
      // same text again, long after the horizon: must be RE-emitted —
      // proof the state store dropped it (plain dropDuplicates would
      // suppress it forever on ever-growing state)
      input.addData(StreamDoc(3L, "old news", new Timestamp(10 * hour + 1000)))
      q.processAllAvailable()
      val ids = spark.table("dedup_evict").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("r13 incremental append: appended file indexes gate identically to a full rebuild") {
    import org.apache.spark.sql.functions.col
    // signatures/buckets are per-member, so index(A) ++ append(B) must be
    // content-equivalent to index(A ∪ B) — gate outputs compare EXACTLY
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val mhDir = java.nio.file.Files.createTempDirectory("mh_append_spec_").toString
    val ebDir = java.nio.file.Files.createTempDirectory("eb_append_spec_").toString
    try {
      Dedup.minhashIndex(docs.where(col("doc_id") % 2 === 0)).write(mhDir)
      Dedup.MinhashIndex.append(mhDir, docs.where(col("doc_id") % 2 === 1))
      val probe = docs.where(col("doc_id") % 10 === 0)
      val viaAppend = Dedup.minhashStreamingFlag(probe,
          Dedup.MinhashIndex.read(spark, mhDir))
        .collect().map(_.toSeq).toSet
      graft.CacheRegistry.unpersistAll()
      val viaFull = Dedup.minhashStreamingFlag(probe, Dedup.minhashIndex(docs))
        .collect().map(_.toSeq).toSet
      assert(viaAppend == viaFull && viaFull.nonEmpty,
        s"minhash appended-index gate diverged: ${viaAppend.size} vs ${viaFull.size}")
      graft.CacheRegistry.unpersistAll()

      val emb = graft.sources.Tables.embeddings(spark, sfDir)
      Ann.embedIndex(emb.where(col("vec_id") % 2 === 0)).write(ebDir)
      Ann.EmbedIndex.append(ebDir, emb.where(col("vec_id") % 2 === 1))
      val eprobe = emb.where(col("vec_id") % 10 === 0)
      val eViaAppend = Ann.embedStreamingFlag(eprobe, Ann.EmbedIndex.read(spark, ebDir))
        .collect().map(_.toSeq).toSet
      graft.CacheRegistry.unpersistAll()
      val eViaFull = Ann.embedStreamingFlag(eprobe, Ann.embedIndex(emb))
        .collect().map(_.toSeq).toSet
      assert(eViaAppend == eViaFull && eViaFull.nonEmpty,
        s"embed appended-index gate diverged: ${eViaAppend.size} vs ${eViaFull.size}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mhDir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ebDir))
    }
  }
}
