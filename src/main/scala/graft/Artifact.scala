package graft

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A persisted artifact read back from disk: its build parameters and
  * one frame per table. */
final case class Artifact(params: Map[String, String], tables: Map[String, DataFrame]) {
  def apply(table: String): DataFrame = tables(table)
}

/**
 * The ONE persisted-artifact protocol behind every build-once/serve-many
 * index and model (IVFADC, k-NN graph + HNSW layers, embedding and
 * MinHash gates, LM/NB models, SQ8) — FAISS `write_index`/`read_index`
 * shaped: a self-describing header in front of the payload.
 *
 *  - Layout: `<dir>/<table>/` parquet per table plus `<dir>/_manifest`,
 *    `key=value` lines holding the kind, the build parameters known without
 *    a Spark job, the table list and one `schema.<table>=<StructType JSON>`
 *    line per table. Anything a Spark job computes stays a table.
 *  - Reads plan with no job: [[read]] hands each table's declared schema
 *    to the parquet reader, so no footer is sampled to infer it. A
 *    manifest without a table's schema line is refused, naming the dir
 *    and the table.
 *  - Stage → commit: [[write]] stages every table concurrently into the
 *    hidden sibling `<parent>/.<name>.stage`, adds the manifest, then
 *    swaps it in (live → `.<name>.retired-<uuid>`, stage → live, retired
 *    deleted; a fresh or empty `dir` is simply replaced). A failure
 *    before the swap leaves the live artifact untouched; the stage is
 *    removed, and one left by a crash is cleared by the next attempt.
 *  - Appends: [[update]] stages every changed table the same way, then
 *    commits appends (one rename each, to `<dir>/<table>/append-<uuid>/`)
 *    BEFORE replacements (one retire → rename → delete each), so a crash
 *    between them leaves a readable store whose appended rows a replaced
 *    table does not reference yet. [[read]] lists tables recursively:
 *    committed appends are visible, hidden (`.`/`_`) paths never are.
 *    An appended table must match its declared schema (nullability
 *    aside) or the update throws before staging; a replaced table's
 *    schema line is rewritten in the manifest, last.
 *  - Contract: one writer per `dir` (the stage name is fixed) and no
 *    reader during a commit — between the two renames the live path does
 *    not exist; a crash there leaves the old content in the retired dir.
 */
object Artifact {
  private val manifest = "_manifest"
  private val schemaKey = "schema."

  def write(dir: String, kind: String, params: Seq[(String, Any)],
            tables: Seq[(String, DataFrame)]): Unit = {
    require(tables.nonEmpty, s"artifact $kind at $dir has no tables")
    val spark = tables.head._2.sparkSession
    val (fs, live, stage) = paths(spark, dir)
    staged(fs, stage, tables) {
      writeManifest(spark, stage.toString, ((("kind" -> kind) +: params :+
        ("tables" -> tables.map(_._1).mkString(","))) ++ schemaLines(tables))
        .map { case (k, v) => s"$k=$v" })
    }
    swap(fs, live, stage, new Path(live.getParent, s".${live.getName}.retired-${UUID.randomUUID()}"))
  }

  /** Validate `dir`'s manifest against `kind` and return its tables. */
  def read(spark: SparkSession, dir: String, kind: String): Artifact = {
    val m = manifestOf(spark, dir).toMap
    require(m.get("kind").contains(kind),
      s"$dir holds a '${m.getOrElse("kind", "?")}' artifact, not '$kind'")
    Artifact(m.filter { case (k, _) => k != "kind" && k != "tables" && !k.startsWith(schemaKey) },
      m("tables").split(",").map(t => t -> spark.read.schema(schemaOf(m, dir, t))
        .option("recursiveFileLookup", "true").parquet(s"$dir/$t")).toMap)
  }

  /** Append rows to some declared tables and replace others, as one
    * staged update. */
  def update(dir: String, appends: Seq[(String, DataFrame)],
             replaces: Seq[(String, DataFrame)] = Nil): Unit = {
    val changed = appends ++ replaces
    require(changed.nonEmpty, s"empty update of $dir")
    val spark = changed.head._2.sparkSession
    val lines = manifestOf(spark, dir)
    val m = lines.toMap
    val declared = m("tables").split(",").toSet
    val names = changed.map(_._1)
    require(names.distinct.size == names.size && names.forall(declared),
      s"update of $dir must name distinct declared tables: ${names.mkString(",")}")
    for ((t, df) <- appends) {
      val (want, got) = (schemaOf(m, dir, t).catalogString, df.schema.catalogString)
      require(want == got, s"append to table '$t' of $dir has schema $got, declared $want")
    }
    val (fs, live, stage) = paths(spark, dir)
    staged(fs, stage, changed)(())
    for ((t, _) <- appends)
      rename(fs, new Path(stage, t), new Path(live, s"$t/append-${UUID.randomUUID()}"))
    for ((t, _) <- replaces)
      swap(fs, new Path(live, t), new Path(stage, t), new Path(stage, s"$t.retired"))
    if (replaces.nonEmpty) {
      val fresh = schemaLines(replaces).toMap
      writeManifest(spark, dir, lines.map { case (k, v) => s"$k=${fresh.getOrElse(k, v)}" })
    }
    fs.delete(stage, true)
    ()
  }

  private def schemaLines(tables: Seq[(String, DataFrame)]): Seq[(String, String)] =
    tables.map { case (t, df) => s"$schemaKey$t" -> df.schema.json }

  private def schemaOf(m: Map[String, String], dir: String, table: String): StructType =
    DataType.fromJson(m.getOrElse(s"$schemaKey$table", throw new IllegalArgumentException(
      s"the artifact manifest under $dir declares no schema for table '$table'")))
      .asInstanceOf[StructType]

  private def paths(spark: SparkSession, dir: String): (FileSystem, Path, Path) = {
    val live = new Path(dir)
    (live.getFileSystem(spark.sparkContext.hadoopConfiguration), live,
      new Path(live.getParent, s".${live.getName}.stage"))
  }

  /** Write `tables` under a fresh `stage` ([[Par.all]]: a failing table
    * stops its siblings), then `finish`; on failure remove the stage
    * (best effort: a killed task of the failed attempt may still touch
    * it, which is why each table write overwrites). */
  private def staged(fs: FileSystem, stage: Path, tables: Seq[(String, DataFrame)])
                    (finish: => Unit): Unit = {
    fs.delete(stage, true)
    try {
      Par.all(tables.map { case (t, df) => () =>
        df.write.mode("overwrite").parquet(new Path(stage, t).toString) })
      finish
    } catch {
      case e: Throwable =>
        try fs.delete(stage, true) catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** Retire → rename → delete: replace `live` (missing is fine) by `staged`. */
  private def swap(fs: FileSystem, live: Path, staged: Path, retired: Path): Unit = {
    val had = fs.exists(live)
    if (had) rename(fs, live, retired)
    rename(fs, staged, live)
    if (had) fs.delete(retired, true)
    ()
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit = {
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to), s"artifact commit: renaming $from to $to failed")
  }

  /** `dir`'s manifest as ordered `key -> value` pairs. */
  private def manifestOf(spark: SparkSession, dir: String): Seq[(String, String)] =
    readManifest(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"no readable artifact manifest under $dir")).map(_.split("=", 2)).collect {
      case Array(k, v) => k -> v
    }

  /** Write `lines` as `dir/_manifest` via temp file + rename: a reader sees
    * the previous manifest, the new one or (in the delete/rename gap)
    * none — never a torn one. Shared with the snapshot store. */
  def writeManifest(spark: SparkSession, dir: String, lines: Seq[String]): Unit = {
    val p = new Path(dir, manifest)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s"$manifest.tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    fs.delete(p, false) // HDFS rename does not overwrite
    require(fs.rename(tmp, p), s"manifest commit rename failed under $dir")
  }

  /** `dir/_manifest`'s non-empty lines; None when absent or unreadable. */
  def readManifest(spark: SparkSession, dir: String): Option[Seq[String]] =
    try {
      val p = new Path(dir, manifest)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try in.readFully(0L, bytes) finally in.close()
        Some(new String(bytes, "UTF-8").split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
