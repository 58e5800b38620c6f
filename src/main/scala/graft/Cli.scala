package graft

import org.apache.spark.sql.SparkSession

/**
 * Minimal CLI front end (the reference ships sqlplus-cli: a script file
 * of CREATE TABLE DDL + a query, executed end-to-end). Usage:
 *
 *   runMain graft.Cli <script.sql> [maxRows] [--dry-run]
 *     [--emit [--pair] [--output=path] [--object=Name] [--package=pkg]]
 *     [--serve[=port]]
 *
 * The script is semicolon-separated; every statement but the last runs
 * as stock Spark SQL (DDL: CREATE TABLE ... USING parquet LOCATION,
 * temp views, reference-style WITH-path DDL), the final SELECT goes
 * through the CQC door ([[graft.sql.CqcSql.script]]). Results print to
 * stdout. With `--dry-run` the final query is PLANNED, not run: the
 * chosen join tree, bound carriers, and routed fast path print instead.
 * With `--emit` the CLI prints a GENERATED standalone Scala program for
 * the final query ([[graft.sql.Emit.program]]) — the reference CLI's
 * compile artifact, named by `--object`/`--package` exactly as its
 * options do (sqlplus-cli CliFrontendOptions). `--emit --pair`
 * additionally prints the stock-SparkSQL comparison twin
 * ([[graft.sql.Emit.stockProgram]], `<object>SparkSQL`) — the paired
 * artifact the reference experiment codegen emits beside every
 * compiled program. With `--serve[=port]`
 * the CLI runs the script's DDL, then serves the web console
 * ([[graft.web.GraftServer]]) over the loaded session instead of
 * executing the final statement — the sqlplus-web workflow from the
 * same entry point.
 */
object Cli {

  /** `--serve` → default port 8090; `--serve=N` → N; absent → None. */
  private[graft] def parseServePort(args: Array[String]): Option[Int] =
    args.collectFirst {
      case "--serve" => 8090
      case a if a.startsWith("--serve=") => a.stripPrefix("--serve=").toInt
    }

  def main(args: Array[String]): Unit = {
    val dryRun = args.contains("--dry-run")
    val emit = args.contains("--emit")
    val objName = args.collectFirst { case a if a.startsWith("--object=") =>
      a.stripPrefix("--object=") }.getOrElse("GraftQuery")
    val pkgName = args.collectFirst { case a if a.startsWith("--package=") =>
      a.stripPrefix("--package=") }.getOrElse("graft.generated")
    val rest = args.filterNot(a => a.startsWith("--"))
    require(rest.nonEmpty,
      "usage: graft.Cli <script.sql> [maxRows] [--dry-run] [--emit [--object=N] [--package=P]]")
    val text = {
      val src = scala.io.Source.fromFile(rest(0))
      try src.mkString finally src.close()
    }
    // reuse an existing session (tests, notebooks) and leave it running;
    // stop only a session this main created itself
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val serve = parseServePort(args)
    if (serve.isDefined) {
      val port = serve.get
      // run the DDL so the console's session has the script's tables
      graft.sql.CqcSql.runDdl(spark, text)
      val server = new graft.web.GraftServer(spark, port).start()
      println(s"graft console at http://127.0.0.1:${server.boundPort}/ (Ctrl-C to stop)")
      Thread.currentThread.join()
    } else if (emit) {
      val query = graft.sql.CqcSql.runDdl(spark, text)
      val prog = graft.sql.Emit.program(spark, query, objName, pkgName)
      val twin =
        if (args.contains("--pair"))
          Some(graft.sql.Emit.stockProgram(spark, query, objName, pkgName))
        else None
      // reference parity: -o/--output writes the generated program to a
      // file (sqlplus-cli CliFrontendOptions OUTPUT_OPTION, CliFrontend
      // FileUtils.writeStringToFile); the twin lands beside it as
      // <stem>SparkSQL.scala, the sqlplus-example pairing convention
      args.collectFirst { case a if a.startsWith("--output=") =>
        a.stripPrefix("--output=") } match {
        case Some(outPath) =>
          graft.sql.Emit.writePair(java.nio.file.Paths.get(outPath), prog, twin)
            .foreach(p => println(s"wrote $p"))
        case None =>
          println(prog)
          twin.foreach { t =>
            println(s"// ========== comparison twin: ${objName}SparkSQL ==========")
            println(t)
          }
      }
    } else if (dryRun) println(graft.sql.CqcSql.explainScript(spark, text))
    else graft.sql.CqcSql.script(spark, text)
      .show(rest.lift(1).map(_.toInt).getOrElse(20), truncate = false)
    if (!preExisting) spark.stop()
  }
}
