package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains share (Bench, Verify, ExplainDump,
  * the web console): `local[cpus]`, graft's SQL extensions, shuffle
  * partitions = cores, UTC session time, no UI, WARN logging. `Cli`
  * keeps its own builder for its env-driven master. */
object Session {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
