package graft
import org.apache.spark.sql.execution.ExplainMode

/** Plan-capture tool for the optimization rounds: writes
  * `df.explain("formatted")` output for the named registered queries to
  * `<outDir>/<name>_<tag>.txt`. Not a query path — a measurement aid
  * (guide §1: capture the plan shape before and after every change).
  *
  * Usage: runMain graft.ExplainDump <outDir> <tag> <query...>
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in [[Bench]].
  *
  * Caveat for iterative operators (graph builds/walks, BPE rounds,
  * CC propagation): the captured plan is the FINAL frame's plan — the
  * part after the last localCheckpoint truncation; the eager
  * intermediate jobs do not appear in it. Those operators' shapes are
  * documented by their per-round frames in OPTIMIZATION notes instead.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <tag> <query...>")
    val outDir = args(0); val tag = args(1); val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[explain] unknown query: $n")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"explain: $n")
          val txt =
            try fn(spark, sfDir).queryExecution
              .explainString(ExplainMode.fromString("formatted"))
            catch { case scala.util.control.NonFatal(e) =>
              s"(explain failed: ${e.getClass.getSimpleName}: ${e.getMessage})" }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          CacheRegistry.unpersistAll()
          println(s"[explain] wrote $outDir/${n}_$tag.txt")
      }
    }
    spark.stop()
  }
}
