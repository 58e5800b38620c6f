package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.{CacheRegistry, SparkEntry}

/** Records the expected output digest of every workload entry on the
  * fixed testdata, and dumps each output with its DuckDB oracle query
  * so `record.py` can confirm the digest with `scripts/check.py`. An artifact
  * cycle must reproduce the registered entry it mirrors exactly.
  *
  * Args: --data DIR --scratch DIR --cores N --out DIGESTS_JSON --dump DIR */
object Record {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Options(workload = "", seed = 0, seconds = 0, trace = false,
      data = kv("data"), scratch = kv("scratch"), expected = "",
      cores = kv("cores").toInt, traceFile = None)
    val dump = kv("dump")
    val spark = Main.setUp(o)
    val ctx = new Ctx(spark, o.data, Files.createDirectories(Paths.get(o.scratch, "artifacts")))
    val digests = ListMap.newBuilder[String, String]
    val oracles = ListMap.newBuilder[String, String]
    for (w <- Workloads.all; e <- w.entries) {
      CacheRegistry.unpersistAll()
      val df = e.build(ctx)
      val d = Digest.of(df).toString
      val twin = Workloads.cycleTwin.get(e.name)
      twin.foreach { t =>
        val td = Digest.of(SparkEntry.queries(t)(spark, o.data)).toString
        require(td == d, s"${e.name} digest $d differs from its twin $t's $td")
      }
      SparkEntry.oracleSql.get(twin.getOrElse(e.name)).foreach { sql =>
        df.write.mode("overwrite").parquet(s"$dump/${e.name}")
        oracles += e.name -> sql
      }
      digests += e.name -> d
      System.err.println(s"[record] ${e.name} $d")
    }
    spark.stop()
    Files.write(Paths.get(kv("out")), Json.render(digests.result()).getBytes("UTF-8"))
    Files.write(Paths.get(dump, "oracle_sql.json"), Json.render(oracles.result()).getBytes("UTF-8"))
  }
}
