package graft

import graft.datapipe.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The persisted-artifact protocol: a write or update that fails
  * mid-job leaves the previous artifact served exactly, nothing staged
  * is ever read, and a retry commits. */
class ArtifactSpec extends SparkSpecBase {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  // range-based (not local) frames, so the injected failure below
  // raises inside a task instead of being constant-folded at planning
  private def keysOf(tag: String): DataFrame =
    spark.range(0, 60, 1, 3).select((col("id") % 4).cast("int").as("band"),
      concat(lit(tag), col("id").cast("string")).as("key"), col("id").as("corpus_id"))

  private def setsOf(tag: String): DataFrame =
    spark.range(0, 30, 1, 3).select(col("id").as("corpus_id"),
      array(concat(lit(tag), col("id").cast("string"))).as("corpus_shs"))

  /** One row raises mid-job. */
  private def failing(df: DataFrame): DataFrame =
    df.withColumn("corpus_id",
      when(col("corpus_id") === 17L, raise_error(lit("injected failure")))
        .otherwise(col("corpus_id")))

  private def siblings(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    d.getParentFile.listFiles().map(_.getName).filter(n => n != d.getName && n.contains(d.getName)).toSeq
  }

  test("crash safety: a write failing mid-job leaves the old index served; a retry commits") {
    val dir = java.nio.file.Files.createTempDirectory("graft_artifact_crash").toString
    try {
      Dedup.MinhashIndex(keysOf("a"), setsOf("a")).write(dir)
      intercept[Exception] {
        Dedup.MinhashIndex(keysOf("b"), failing(setsOf("b"))).write(dir)
      }
      val after = Dedup.MinhashIndex.read(spark, dir)
      assert(rows(after.keys) == rows(keysOf("a")), "keys must still be A's")
      assert(rows(after.sets) == rows(setsOf("a")), "sets must still be A's")
      val read = after.keys.inputFiles ++ after.sets.inputFiles
      assert(read.nonEmpty && read.forall(f => f.contains(s"$dir/keys/") || f.contains(s"$dir/sets/")),
        s"a read listed files outside the live tables: ${read.mkString(", ")}")
      assert(!read.exists(_.contains("stage")), "a stage dir showed in a read")
      Dedup.MinhashIndex(keysOf("b"), setsOf("b")).write(dir)
      val retried = Dedup.MinhashIndex.read(spark, dir)
      assert(rows(retried.keys) == rows(keysOf("b")) && rows(retried.sets) == rows(setsOf("b")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("an update failing mid-job changes no table; a retry appends and replaces") {
    val dir = java.nio.file.Files.createTempDirectory("graft_artifact_update").toString
    try {
      Artifact.write(dir, "pair", Seq("n" -> 7), Seq("keys" -> keysOf("a"), "sets" -> setsOf("a")))
      intercept[Exception] {
        Artifact.update(dir, appends = Seq("keys" -> keysOf("b")),
          replaces = Seq("sets" -> failing(setsOf("b"))))
      }
      val a = Artifact.read(spark, dir, "pair")
      assert(a.params == Map("n" -> "7"))
      assert(rows(a("keys")) == rows(keysOf("a")) && rows(a("sets")) == rows(setsOf("a")))
      Artifact.update(dir, appends = Seq("keys" -> keysOf("b")), replaces = Seq("sets" -> setsOf("b")))
      val b = Artifact.read(spark, dir, "pair")
      assert(rows(b("keys")) == rows(keysOf("a").unionByName(keysOf("b"))))
      assert(rows(b("sets")) == rows(setsOf("b")))
      assert(siblings(dir).isEmpty, s"committed update left ${siblings(dir)}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("reads validate the manifest: wrong kind and undeclared tables refuse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_artifact_kind").toString
    try {
      Artifact.write(dir, "pair", Nil, Seq("keys" -> keysOf("a")))
      intercept[IllegalArgumentException] { Artifact.read(spark, dir, "other") }
      intercept[IllegalArgumentException] {
        Artifact.update(dir, appends = Seq("sets" -> setsOf("a")))
      }
      intercept[IllegalArgumentException] { Artifact.read(spark, s"$dir/keys", "pair") }
      assert(Artifact.readManifest(spark, dir).contains(Seq("kind=pair", "tables=keys",
        s"schema.keys=${keysOf("a").schema.json}")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** Every file under `dir` (hidden ones included) with its bytes. */
  private def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map(f =>
      root.relativize(f).toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  test("updates check the declared schema: a mismatched append is refused, a replace rewrites its line") {
    val dir = java.nio.file.Files.createTempDirectory("graft_artifact_schema").toString
    try {
      Dedup.MinhashIndex(keysOf("a"), setsOf("a")).write(dir)
      val before = snapshot(dir)
      val e = intercept[IllegalArgumentException] {
        Artifact.update(dir, appends = Seq("keys" ->
          keysOf("b").withColumn("corpus_id", col("corpus_id").cast("string"))))
      }
      assert(e.getMessage.contains("keys") && e.getMessage.contains(dir), e.getMessage)
      assert(snapshot(dir) == before, "a refused update changed the artifact's files")
      assert(siblings(dir).isEmpty, s"a refused update left ${siblings(dir)}")
      // nullability is not part of the check: a nullable corpus_id appends
      val nullable = keysOf("b").withColumn("corpus_id",
        when(col("corpus_id") >= 0L, col("corpus_id")))
      assert(nullable.schema("corpus_id").nullable && !keysOf("b").schema("corpus_id").nullable)
      Artifact.update(dir, appends = Seq("keys" -> nullable))
      // a replacement may change its schema; the manifest follows it
      val wide = setsOf("c").withColumn("extra", lit(1.5))
      Artifact.update(dir, appends = Nil, replaces = Seq("sets" -> wide))
      val a = Artifact.read(spark, dir, "minhash")
      assert(a("sets").schema.catalogString == wide.schema.catalogString)
      assert(rows(a("sets")) == rows(wide))
      assert(rows(a("keys")) == rows(keysOf("a").unionByName(keysOf("b"))))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a manifest without a table's schema line is refused, naming the dir and the table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_artifact_noschema").toString
    try {
      Artifact.write(dir, "pair", Nil, Seq("keys" -> keysOf("a"), "sets" -> setsOf("a")))
      Artifact.writeManifest(spark, dir,
        Artifact.readManifest(spark, dir).get.filterNot(_.startsWith("schema.sets=")))
      val e = intercept[IllegalArgumentException] { Artifact.read(spark, dir, "pair") }
      assert(e.getMessage.contains(dir) && e.getMessage.contains("'sets'"), e.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("the MinHash artifact cycle: write and append run <= 2 jobs each, reads plan with none") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_artifact_jobs").toString
    try {
      val write = jobsDuring(Dedup.minhashIndex(docs.where(col("doc_id") % 2 === 0)).write(dir))
      val append = jobsDuring(Dedup.MinhashIndex.append(dir, docs.where(col("doc_id") % 2 === 1)))
      val read = jobsDuring(Dedup.MinhashIndex.read(spark, dir))
      graft.datapipe.Ann.sq8Write(graft.sources.Tables.embeddings(spark, sfDir), s"$dir/sq8")
      val sq8Read = jobsDuring(Artifact.read(spark, s"$dir/sq8", "sq8"))
      // one assertion, so every count shows when any pin fails
      assert(write <= 2 && append <= 2 && read == 0 && sq8Read == 0,
        s"jobs: index write $write, append $append, minhash read $read, sq8 read $sq8Read")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
