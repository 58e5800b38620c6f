package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "  THE QUICK  BROWN fox jumps over the lazy dog "), // exact dup of 1 after norm
    (3L, "the quick brown fox jumps over the lazy cat"),     // near-dup of 1
    (4L, "completely different words in this one right here"),
    (5L, "another unrelated document with its own words too"))
    .toDF("doc_id", "text")

  test("exact dedup groups normalized duplicates under min doc_id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 4) // 1&2 collapse
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("ngram jaccard finds the near-dup pair and is bounded by 1") {
    val out = Dedup.ngramJaccard(docs)
      .select("d1", "d2", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1-2 identical shingle sets (jac 1.0); 1-3 and 2-3 overlap
    assert(out.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(out.exists { case (a, b, j) => a == 1L && b == 3L && j > 0.4 && j < 1.0 })
    assert(out.forall { case (_, _, j) => j >= Dedup.ngramTau && j <= 1.0 })
  }

  test("minhash LSH surfaces identical docs with jaccard 1") {
    val out = Dedup.minhashLsh(docs)
      .select("d1", "d2", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
  }

  test("simhash of identical docs has hamming 0; all pairs within threshold") {
    val out = Dedup.simhashNearDup(docs)
      .select("d1", "d2", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L })
    assert(out.forall(_._3 <= Dedup.shMaxHamming))
  }

  test("simhash recall is pigeonhole-exact up to chunks-1 on the real corpus") {
    // the CONTRACT: every pair within hamming shMaxHamming (= shChunks-1)
    // over the 120-bit signature must be reported, because such a pair
    // necessarily agrees on one of the shChunks disjoint chunks. Verify
    // against an all-pairs brute force over the collected signatures.
    val corpus = graft.sources.Tables.documents(spark, sfDir)
    val sigs = Dedup.simhashSignatures(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (d1, a1, b1) <- sigs; (d2, a2, b2) <- sigs if d1 < d2
      h = java.lang.Long.bitCount(a1 ^ a2) + java.lang.Long.bitCount(b1 ^ b2)
      if h <= Dedup.shMaxHamming
    } yield (d1, d2, h.toLong)).toSet
    val got = Dedup.simhashNearDup(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // no capped bucket on this corpus -> EXACT equality, not just subset
    assert(got == brute && brute.nonEmpty)
    val cands = Dedup.simhashCandidates(
      graft.CacheRegistry.persistTracked(Dedup.simhashSignatures(corpus)),
      Dedup.shChunks, Dedup.shChunkBits, Dedup.shBucketCap).count()
    info(s"candidates=$cands matches=${got.size} docs=${sigs.length}")
    // candidate volume must stay FAR from all-pairs (the scale property)
    assert(cands < sigs.length.toLong * sigs.length / 10)
  }

  test("simhash hot-bucket cap drops oversized buckets deterministically") {
    // 30 near-empty docs share every chunk (identical signatures): with a
    // cap below 30 the degenerate bucket is dropped entirely -> no pairs;
    // uncapped they form all 435 pairs
    val tiny = (1L to 30L).map(i => (i, "x")).toDF("doc_id", "text")
    val sig = Dedup.simhashSignatures(tiny)
    val capped = Dedup.simhashCandidates(sig, Dedup.shChunks, Dedup.shChunkBits, 29)
    assert(capped.count() == 0)
    val uncapped = Dedup.simhashCandidates(sig, Dedup.shChunks, Dedup.shChunkBits, 30)
    assert(uncapped.count() == 435)
    // r12 plan pin: the cap is a map-side-collapsed groupBy count + anti-
    // join, NOT a count window — a hot bucket's row mass must never
    // concentrate on one reducer just to be counted (and the candidate
    // self-join then shuffles only the capped frame)
    assert(!capped.queryExecution.executedPlan.toString.contains("Window"),
      "simhash cap must not plan a Window")
    // (budget 0: this input would otherwise finish on the driver as a
    // LocalTableScan and the pin would test nothing. The pair source's
    // own finish does not reach the checked plan: the rounds truncate
    // the labels' lineage, so it is the cluster_size attach alone)
    assert(!Dedup.clusters(Dedup.ngramJaccard(
        (1L to 6L).map(i => (i, s"alpha beta gamma delta epsilon zeta $i")).toDF("doc_id", "text")),
        50, alternatingStar = false, driverBudget = 0)
      .queryExecution.executedPlan.toString.contains("Window"),
      "cluster_size must not plan a Window")
  }

  test("corpus-size rules widen buckets/planes as N grows") {
    assert(Dedup.shChunkBitsFor(500) == 15)
    assert(Dedup.shChunkBitsFor(100000) == 20)
    assert(Dedup.shChunkBitsFor(10000000) == 30)
    assert(Ann.lshPlanesFor(2500) == 7)
    assert(Ann.lshPlanesFor(2500L * 1024) == 17) // 1024x corpus -> +10 planes
    assert(Ann.lshPlanesFor(Long.MaxValue) <= 62) // packing stays in one long
  }

  test("clusters: min-reachable labels, exact sizes, one keeper per component") {
    // a 5-path (diameter 4 -> forces multi-round propagation), a pair,
    // and a star, all in one pair list
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), // path 1-2-3-4-5
      (10L, 11L),                             // isolated pair
      (20L, 21L), (20L, 22L), (20L, 23L)      // star around 20
    ).toDF("d1", "d2")
    val got = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(
      (1L, 1L, 5L), (2L, 1L, 5L), (3L, 1L, 5L), (4L, 1L, 5L), (5L, 1L, 5L),
      (10L, 10L, 2L), (11L, 10L, 2L),
      (20L, 20L, 4L), (21L, 20L, 4L), (22L, 20L, 4L), (23L, 20L, 4L))
    assert(got == want)
    // the dedup DECISION: exactly one canonical keeper per component
    val keep = Dedup.clusters(pairs)
      .where(col("doc_id") === col("cluster_id")).count()
    assert(keep == 3)
  }

  test("clusters composes with a real pair source (ngram Jaccard)") {
    val out = Dedup.clusters(Dedup.ngramJaccard(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // docs 1,2,3 are one near-dup component labeled by min id 1;
    // 4 and 5 share no shingles -> absent from the pair graph entirely
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("clustersKeepBest keeps the highest-quality member per cluster") {
    val out = Dedup.clustersKeepBest(docs).collect()
    // suspects = the {1,2,3} near-dup component only; 4 and 5 pair with nothing
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    val q = TextOps.quality(docs).select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val best = Seq(1L, 2L, 3L).maxBy(d => (q(d), -d))
    out.foreach { r =>
      assert(r.getLong(1) == 1L) // component label unchanged (min id)
      assert(r.getDouble(2) == q(r.getLong(0))) // quality carried verbatim
      assert(r.getLong(4) == best, "keeper is the quality argmax")
      assert(r.getBoolean(3) == (r.getLong(0) == best))
    }
    assert(out.count(_.getBoolean(3)) == 1)
  }

  test("clustersKeepBest ties on score fall to the smallest doc_id") {
    val d2 = Seq(
      (9L, "alpha beta gamma delta epsilon zeta eta theta"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val out = Dedup.clustersKeepBest(d2).collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(3))).toSet ==
      Set((7L, true), (9L, false)))
    assert(out.forall(_.getLong(4) == 7L))
  }

  test("signature columns are stable across runs (deterministic hashing)") {
    def keys = Dedup.bandKeys(Dedup.nonEmptySets(Dedup.shingleSets(docs)))
      .select("doc_id", "band", "key").orderBy("doc_id", "band").collect().map(_.toSeq)
    val s1 = keys
    val s2 = keys
    assert(s1.nonEmpty)
    assert(s1.toSeq == s2.toSeq)
  }
}
