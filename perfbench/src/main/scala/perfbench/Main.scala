package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.CacheRegistry
import graft.sources.Tables

/** One timed execution of a workload entry, split at the layer boundaries
  * the benchmark can see from outside the program. */
final case class Exec(
    pass: Int, entry: String,
    buildS: Double, planS: Double, execS: Double,
    error: Option[String], digest: String, rows: Long,
    artifactS: Map[String, Double], artifactBytes: Long, artifactFiles: Long,
    indexedBytes: Long, cacheTracked: Int, cacheStorageBytes: Long,
    build: Work, exec: Work, skew: Double) {
  def wallS: Double = buildS + planS + execS
  def ok: Boolean = error.isEmpty
}

final case class Pass(index: Int, kind: String, traced: Boolean, wallS: Double, execs: Seq[Exec])

final case class Options(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, scratch: String, expected: String,
    cores: Int, traceFile: Option[String],
    setupOnly: Boolean = false, earlierSetupS: Seq[Double] = Nil)

object Options {
  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(
      workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toDouble, trace = need("trace") == "1",
      data = need("data"), scratch = need("scratch"), expected = need("expected"),
      cores = need("cores").toInt,
      traceFile = kv.get("trace-file"),
      setupOnly = kv.get("setup-only").contains("1"),
      earlierSetupS = kv.get("setup-s").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).map(_.toDouble))
  }
}

/** The benchmark's JVM side: sets up graft's session, runs the workload's
  * entries in closed loop from one client thread, checks every output
  * digest, and prints the result JSON as its last stdout line. */
object Main {
  /** Fewest timed passes of an untraced run: each entry's median latency
    * then survives one pass slowed by the host. */
  val MinPasses = 3
  /** Fewest timed passes of a traced run: two traced (counts to compare)
    * and two untraced (the overhead baseline). */
  val MinTracedPasses = 4

  val Tables10: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def session(o: Options): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session start plus one scan of every base table through graft's loader. */
  def setUp(o: Options): SparkSession = {
    val spark = session(o)
    Tables10.foreach(t => Tables.table(spark, o.data, t).count())
    spark
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def treeSize(root: Path): (Long, Long) = {
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  def main(args: Array[String]): Unit = {
    val o = Options.parse(args)
    val workload = Workloads.byName(o.workload)
    val expected = Json.readStringMap(
      new String(Files.readAllBytes(Paths.get(o.expected)), "UTF-8"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val artifacts = Files.createDirectories(Paths.get(o.scratch, "artifacts"))

    // set-up, timed from JVM start; a set-up-only JVM prints just that
    // figure, and the main JVM reports the median of its own and those of
    // the set-up-only JVMs started before it (--setup-s)
    val spark = setUp(o)
    val coldSetupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    if (o.setupOnly) {
      spark.stop()
      System.out.println(coldSetupS)
      return
    }
    val setupS = o.earlierSetupS :+ coldSetupS
    val sc = spark.sparkContext
    val work = new SparkWork

    def runExec(pass: Int, entry: Entry, traced: Boolean): Exec = {
      CacheRegistry.unpersistAll()
      val ctx = new Ctx(spark, o.data, artifacts)
      def snap() = if (traced) work.snapshot(sc) else (Work(), 0)
      var buildS, planS, execS = 0.0
      var error: Option[String] = None
      var digest = ""
      var rows = 0L
      val (w0, k0) = snap()
      var w1 = w0
      var t = System.nanoTime()
      def lap(): Double = { val n = System.nanoTime(); val d = (n - t) / 1e9; t = n; d }
      try {
        val df = entry.build(ctx)
        buildS = lap()
        w1 = snap()._1
        t = System.nanoTime()
        val frame = Digest.frame(df)
        frame.queryExecution.executedPlan
        planS = lap()
        val got = Digest.collect(frame)
        execS = lap()
        digest = got.toString
        rows = got.rows
        if (ctx.artifactS.contains("serve"))
          ctx.artifactS("serve") += execS
        expected.get(entry.name) match {
          case Some(want) if want == digest =>
          case Some(want) => error = Some(s"digest $digest, expected $want")
          case None => error = Some(s"no recorded digest (got $digest)")
        }
      } catch {
        case NonFatal(e) => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val (w2, k2) = snap()
      val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val tracked = CacheRegistry.trackedCount
      val sizes = ctx.artifactDirs.map(treeSize)
      ctx.artifactDirs.foreach(deleteTree)
      Exec(pass, entry.name, buildS, planS, execS, error, digest, rows,
        ctx.artifactS.toMap, sizes.map(_._1).sum, sizes.map(_._2).sum, ctx.inputBytes,
        tracked, storage, w1 - w0, w2 - w1, if (traced) work.worstSkew(k0, k2) else 1.0)
    }

    def runPass(index: Int, kind: String, traced: Boolean): Pass = {
      if (traced) sc.addSparkListener(work)
      val order = new scala.util.Random(o.seed * 1000003L + index).shuffle(workload.entries)
      val t0 = System.nanoTime()
      val execs = order.map(e => runExec(index, e, traced))
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) { work.snapshot(sc); sc.removeSparkListener(work) }
      CacheRegistry.unpersistAll()
      Pass(index, kind, traced, wall, execs)
    }

    val passes = ArrayBuffer[Pass]()
    passes += runPass(0, "cold", traced = false)
    // timed passes until `seconds` have elapsed. Just-in-time compilation
    // keeps speeding passes up for several passes after the cold one; a
    // fixed minimum count keeps the per-entry medians at the same point of
    // that curve in every run, whatever the host's speed. A traced run
    // attaches the listener on passes ordered on, off, off, on, so that a
    // steady speed-up cancels in the difference of the two medians, the
    // tracing overhead
    val t0 = System.nanoTime()
    var n = 0
    while (n < (if (o.trace) MinTracedPasses else MinPasses) ||
        (System.nanoTime() - t0) / 1e9 < o.seconds) {
      passes += runPass(passes.size, "timed", traced = o.trace && (n % 4 == 0 || n % 4 == 3))
      n += 1
    }
    val rss = peakRssMb()
    spark.stop()

    val report = Report(workload, o, setupS, passes.toSeq, rss)
    o.traceFile.foreach(f => Files.write(Paths.get(f), report.traceJson.getBytes("UTF-8")))
    System.out.println(report.detailJson)
    System.out.println(report.resultJson)
    System.out.flush()
  }
}
