package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The gated scan spread (r18 — moved out of the documents loader into
  * the heavy operators): fires only on under-parallel FILE scans, where
  * "under-parallel" is min(splits, parquet row groups) — the row-group
  * part is the r17 VERDICT item-6 fix (a single-row-group file larger
  * than cores × maxPartitionBytes passed the split-count gate and still
  * scanned serially). */
class SpreadSpec extends SparkSpecBase {

  private def roundRobins(df: DataFrame): Seq[ShuffleExchangeLike] =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }

  private def withTinySplits[T](body: => T): T = {
    // make byte-range splits tiny so the SPLIT count alone clears the
    // parallelism bar and only the row-group count can gate
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try body finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  test("row-group gate: a ONE-row-group file is spread even when its split count " +
    "clears the parallelism bar (the r17 split-only gate missed this shape)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spread_one_rg").toString
    (1 to 2000).map(i => (i.toLong, "payload " * 8 + i)).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    withTinySplits {
      val scan = spark.read.parquet(s"$dir/t.parquet")
      val splits = scan.rdd.getNumPartitions
      val want = spark.sparkContext.defaultParallelism
      assert(splits >= want,
        s"fixture broken: need splits ($splits) >= parallelism ($want) so only row groups can gate")
      val out = Tables.spread(scan)
      val rr = roundRobins(out)
      assert(rr.nonEmpty, s"expected the round-robin spread to fire:\n${out.queryExecution.sparkPlan}")
      assert(out.rdd.getNumPartitions == want)
      // result identity: the spread reorders rows, never changes the set
      assert(out.count() == 2000 &&
        out.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == 2001000L)
    }
  }

  test("a file rewritten in place at the same path is re-gated (row-group memo keys on length + mtime)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spread_rewrite").toFile
    val fixed = new java.io.File(dir, "t/data.parquet")
    // write `df` as one parquet file, then copy it over the fixed path
    def place(df: DataFrame, blockSize: Int): Unit = {
      val tmp = new java.io.File(dir, s"w${System.nanoTime()}")
      df.coalesce(1).write.option("parquet.block.size", blockSize).parquet(tmp.toString)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      fixed.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, fixed.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      withTinySplits {
        place((1 to 2000).map(i => (i.toLong, "payload " * 8 + i)).toDF("id", "text"),
          128 * 1024 * 1024)
        val one = spark.read.parquet(fixed.getParent)
        assert(roundRobins(Tables.spread(one)).nonEmpty, "fixture: one row group must spread")
        place((1 to 20000).map(i => (i.toLong, "payload " * 16 + i)).toDF("id", "text"),
          16 * 1024)
        val many = spark.read.parquet(fixed.getParent)
        assert(Tables.spread(many) eq many,
          s"a stale one-row-group memo spread the rewritten multi-row-group file:\n" +
            Tables.spread(many).queryExecution.sparkPlan)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("multi-row-group input is left alone (the gate never taxes a well-laid-out input)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spread_many_rg").toString
    (1 to 20000).map(i => (i.toLong, "payload " * 16 + i)).toDF("id", "text")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", 16 * 1024)
      .parquet(s"$dir/t.parquet")
    withTinySplits {
      val scan = spark.read.parquet(s"$dir/t.parquet")
      val want = spark.sparkContext.defaultParallelism
      // fixture sanity: the tiny block size really produced >= want row groups
      val conf = spark.sessionState.newHadoopConf()
      val file = scan.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.head
      }.head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), conf))
      val rgs = try reader.getRowGroups.size finally reader.close()
      assert(rgs >= want, s"fixture broken: wanted >= $want row groups, writer produced $rgs")
      assert(Tables.spread(scan) eq scan)
    }
  }

  test("in-memory relations and post-shuffle lineages are untouched") {
    import spark.implicits._
    val mem = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    assert(Tables.spread(mem) eq mem)
    val dir = java.nio.file.Files.createTempDirectory("spread_posthash").toString
    (1 to 100).map(i => (i.toLong, s"t$i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val shuffled = spark.read.parquet(s"$dir/t.parquet")
      .groupBy("id").count()
    assert(Tables.spread(shuffled) eq shuffled)
  }

  test("an under-parallel scan behind a BROADCAST join still spreads " +
    "(the broadcast side neither blocks nor triggers the gate)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val dir = java.nio.file.Files.createTempDirectory("spread_bcast").toString
    (1 to 500).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val scan = spark.read.parquet(s"$dir/t.parquet")
    val slice = scan.where($"doc_id" % 97 === 0)
      .select($"doc_id".as("probe_id"), $"text".as("ptext"))
    val joined = scan.join(broadcast(slice), $"doc_id" === $"probe_id", "left")
    val out = Tables.spread(joined)
    assert(roundRobins(out).nonEmpty,
      s"expected the spread below a broadcast join:\n${out.queryExecution.sparkPlan}")
    assert(out.count() == 500)
  }
}
