package graft

import scala.jdk.CollectionConverters._

/** Reliable-mode truncation: the checkpoint dir follows the conf, and
  * concurrent truncations under one conf all succeed. */
class CheckpointsSpec extends SparkSpecBase {

  private def holdsCheckpoint(d: java.io.File): Boolean =
    org.apache.commons.io.FileUtils.listFiles(d, null, true).asScala
      .exists(_.getName.startsWith("part-"))

  test("a changed spark.graft.checkpoint.dir takes effect; concurrent truncates agree") {
    val a = java.nio.file.Files.createTempDirectory("graft_ckpt_a").toFile
    val b = java.nio.file.Files.createTempDirectory("graft_ckpt_b").toFile
    try {
      spark.conf.set(Checkpoints.dirKey, a.toString)
      assert(Checkpoints.truncate(spark.range(100).toDF()).count() == 100)
      assert(holdsCheckpoint(a), "first checkpoint must land under dir A")
      spark.conf.set(Checkpoints.dirKey, b.toString)
      assert(Checkpoints.truncate(spark.range(50).toDF()).count() == 50)
      assert(holdsCheckpoint(b), "after the conf switch the checkpoint must land under dir B")
      val counts = Par.all((1 to 4).map(i => () =>
        Checkpoints.truncate(spark.range(i * 10L).toDF()).count()))
      assert(counts == Seq(10L, 20L, 30L, 40L))
    } finally {
      spark.conf.unset(Checkpoints.dirKey)
      org.apache.commons.io.FileUtils.deleteQuietly(a)
      org.apache.commons.io.FileUtils.deleteQuietly(b)
    }
  }
}
