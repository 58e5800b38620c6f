package graft.datapipe

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization (Ann.sq8*): train/encode/decode maths, the
  * quantization-error bound, the out-of-range clamp, and the persisted
  * (codes, bounds) deployment round-trip. */
class Sq8Spec extends SparkSpecBase {
  import spark.implicits._

  // 3 dims with distinct ranges; dim 2 is CONSTANT (hi == lo).
  private def emb = Seq(
    (0L, Array(0.0f, -2.0f, 7.5f)),
    (1L, Array(1.0f, 2.0f, 7.5f)),
    (2L, Array(0.25f, 0.0f, 7.5f)),
    (3L, Array(0.75f, -1.0f, 7.5f)),
    (50L, Array(0.26f, 0.1f, 7.5f))) // query row (vec_id % 50 == 0)
    .toDF("vec_id", "embedding")

  test("codes span exactly [0, 255]: min dims encode 0, max dims 255, constant dims 0") {
    val (codes, _) = Ann.sq8Compress(emb)
    val byId = codes.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Int]]("codes").toSeq).toMap
    assert(byId(0L) == Seq(0, 0, 0))     // lo on dims 0,1; constant dim -> 0
    assert(byId(1L) == Seq(255, 255, 0)) // hi on dims 0,1
    assert(byId.values.forall(_.forall(c => c >= 0 && c <= 255)))
  }

  test("reconstruction error bounded by (hi - lo) / 510 per dimension") {
    val (codes, stats) = Ann.sq8Compress(emb)
    val rec = Ann.sq8Decode(codes, stats)
    val errs = emb.join(rec, "vec_id")
      .select(zip_with(col("embedding"), col("recon"),
        (x, r) => abs(x.cast("double") - r)).as("e"))
      .select(explode(col("e")))
      .collect().map(_.getDouble(0))
    // ranges: dim0 = 1.0, dim1 = 4.0, dim2 = 0.0 -> worst bound 4/510
    assert(errs.forall(_ <= 4.0 / 510 + 1e-12), s"max err ${errs.max}")
  }

  test("constant dimension reconstructs exactly lo") {
    val (codes, stats) = Ann.sq8Compress(emb)
    val d2 = Ann.sq8Decode(codes, stats)
      .select(element_at(col("recon"), 3)).collect().map(_.getDouble(0))
    assert(d2.forall(_ == 7.5))
  }

  test("out-of-train-range vectors saturate at 0/255 instead of escaping the code space") {
    val stats = Ann.sq8Stats(emb)
    val out = Seq((9L, Array(5.0f, -100.0f, 7.5f))).toDF("vec_id", "embedding")
    val codes = Ann.sq8Encode(out, stats).head().getAs[scala.collection.Seq[Int]]("codes").toSeq
    assert(codes == Seq(255, 0, 0))
  }

  test("persisted deployment round-trip: parquet codes + bounds serve identical reconstructions") {
    val dir = java.nio.file.Files.createTempDirectory("sq8spec").toString
    try {
      val (codes, stats) = Ann.sq8Compress(emb)
      codes.write.mode("overwrite").parquet(s"$dir/codes")
      stats.write.mode("overwrite").parquet(s"$dir/stats")
      val rtCodes = spark.read.parquet(s"$dir/codes")
      val rtStats = spark.read.parquet(s"$dir/stats")
      val direct = Ann.sq8Decode(codes, stats).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[scala.collection.Seq[Double]]("recon").toSeq)).toSet
      val fromDisk = Ann.sq8Decode(rtCodes, rtStats).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[scala.collection.Seq[Double]]("recon").toSeq)).toSet
      assert(direct == fromDisk)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("file-backed serving reproduces sq8TopK exactly; frozen-bounds append saturates and serves") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sq8file").toString
    val q = emb.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    try {
      // deployment split: write once, serve from disk — identical ranks
      Ann.sq8Write(emb, s"$dir/full")
      val direct = Ann.sq8TopK(emb).collect().map(_.toSeq).toSet
      val served = Ann.sq8ServeFromDir(spark, s"$dir/full", q)
        .collect().map(_.toSeq).toSet
      assert(direct == served && served.nonEmpty)
      // frozen-bounds add(): bounds from the even half only; the odd
      // half's out-of-range dim saturates instead of escaping the code
      // space, and appended vectors are servable
      Ann.sq8Write(emb.where(col("vec_id") % 2 === 0), s"$dir/base")
      Ann.sq8Append(spark, s"$dir/base", emb.where(col("vec_id") % 2 =!= 0))
      val codes = graft.Artifact.read(spark, s"$dir/base", "sq8")("codes")
      assert(codes.select("vec_id").as[Long].collect().toSet ==
        Set(0L, 1L, 2L, 3L, 50L))
      // even-trained dim-2 range is [-2.0, 0.1] (ids 0,2,50); vec 1's
      // 2.0 exceeds hi -> code must saturate at 255
      val v1 = codes.where(col("vec_id") === 1L).head()
        .getAs[scala.collection.Seq[Int]]("codes").toSeq
      assert(v1(1) == 255, s"expected saturation, got $v1")
      val servedAll = Ann.sq8ServeFromDir(spark, s"$dir/base", q)
      assert(servedAll.where(col("nbr_id") % 2 =!= 0).count() > 0,
        "appended vectors must be servable")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("IVFSQ: candidates confined to probed lists, estimates bit-identical to flat SQ8's on shared pairs") {
    val embFull = graft.sources.Tables.embeddings(spark, sfDir)
    val out = Ann.ivfSq8TopK(embFull)
    // structural contract: every served neighbor lives in one of its
    // query's probed inverted lists
    val cent = Ann.trainedCentroids(embFull, 1, Ann.ivfCentroids)
    val lists = Ann.ivfAssign2(embFull, "vec_id", cent, Ann.ivfCentroids, 1)
      .select(col("vec_id").as("nbr_id"), col("cid").as("nbr_cid"))
    val q = embFull.where(col("vec_id") % Ann.queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val probes = Ann.ivfAssign2(q, "q_id", cent, Ann.ivfCentroids, Ann.ivfProbes)
      .select(col("q_id"), col("cid").as("q_cid"))
    // every (q_id, nbr_id) must have SOME probe with a matching cid
    val bad = out.join(lists, "nbr_id")
      .join(probes.withColumnRenamed("q_cid", "pcid"), "q_id")
      .groupBy(col("q_id"), col("nbr_id"))
      .agg(max(when(col("nbr_cid") === col("pcid"), 1).otherwise(0)).as("hit"))
      .where(col("hit") === 0)
    assert(bad.isEmpty, "neighbor outside every probed list")
    // ADC estimates are the SAME maths as flat SQ8: shared pairs agree
    val flat = Ann.sq8TopK(embFull)
      .select(col("q_id"), col("nbr_id"), col("asim").as("flat_asim"))
    val joined = out.join(flat, Seq("q_id", "nbr_id")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(
      r.getAs[Double]("asim") == r.getAs[Double]("flat_asim")))
  }

  test("sq8TopK preserves the well-separated nearest neighbor; collection side never sort-merge joins") {
    val ranked = Ann.sq8TopK(emb)
    val for50 = ranked.where(col("q_id") === 50L).orderBy("rnk").collect()
    assert(for50.head.getAs[Long]("nbr_id") == 2L) // 0.26,0.1 is nearest 0.25,0.0
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), "serve joins must broadcast")
  }
}
