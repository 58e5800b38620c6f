package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.datapipe.Dedup
import graft.sources.Tables

/** What one execution may touch: the session, the input tables, a private
  * scratch area for artifacts, and the artifact-call timers. */
final class Ctx(val spark: SparkSession, val data: String, scratch: Path) {
  val artifactS: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  val artifactDirs: mutable.ArrayBuffer[Path] = mutable.ArrayBuffer()
  var inputBytes: Long = 0

  /** A new empty directory for one artifact, removed after the execution. */
  def freshDir(prefix: String): String = {
    val d = Files.createTempDirectory(scratch, prefix)
    artifactDirs += d
    d.toString
  }

  /** Times one public artifact call under `layer` (write, append, read, serve). */
  def artifact[T](layer: String)(call: => T): T = {
    val t0 = System.nanoTime()
    try call
    finally artifactS(layer) = artifactS.getOrElse(layer, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Bytes of the input table an artifact indexes (for the stored ratio). */
  def indexes(table: String): Unit =
    inputBytes += Files.size(java.nio.file.Paths.get(data, s"$table.parquet"))
}

/** One timed unit of a workload: a registered entry, or an artifact cycle
  * that calls the public write/append/read/serve functions itself. */
final case class Entry(name: String, build: Ctx => DataFrame)

final case class Workload(name: String, entries: Seq[Entry])

object Workloads {
  private lazy val registered = SparkEntry.queries

  private def registeredEntry(name: String): Entry = {
    val fn = registered.getOrElse(name, sys.error(s"no registered entry $name"))
    Entry(name, c => fn(c.spark, c.data))
  }

  // The artifact cycle mirrors the registered entry named in cycleTwin,
  // composed from the same public calls, but each call is timed and every
  // execution writes into a fresh directory, so no repeat can reuse an
  // artifact built by an earlier one.

  private val minhashCycle = Entry("cycle_minhash", { c =>
    c.indexes("documents")
    val docs = Tables.documents(c.spark, c.data)
    val dir = c.freshDir("minhash")
    c.artifact("write")(Dedup.minhashIndex(docs.where(col("doc_id") % 2 === 0)).write(dir))
    c.artifact("append")(Dedup.MinhashIndex.append(dir, docs.where(col("doc_id") % 2 === 1)))
    val index = c.artifact("read")(Dedup.MinhashIndex.read(c.spark, dir))
    c.artifact("serve")(Dedup.minhashStreamingFlag(docs.where(col("doc_id") % 10 === 0), index))
  })

  /** Registered entry a cycle reproduces (same output, same oracle). */
  val cycleTwin: Map[String, String] = Map(
    "cycle_minhash" -> "dedup_stream_flag_append")

  val all: Seq[Workload] = Seq(
    Workload("cqc_sql", Seq("sql_cqc", "sql_cqc_q20", "sql_ref_q5", "cqc_line3",
      "wcoj_triangle").map(registeredEntry)),
    Workload("datapipe", Seq(registeredEntry("dedup_cluster"), minhashCycle)))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))
}
