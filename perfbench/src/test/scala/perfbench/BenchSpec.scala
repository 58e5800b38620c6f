package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, when}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private def sample = spark.range(0, 500)
    .selectExpr("id", "cast(id % 7 as int) as k", "concat('s', id) as s", "id * 0.5 as d",
      "array(cast(id as float), 1.5f) as v")

  test("digest ignores partitioning and row order") {
    val base = Digest.of(sample)
    assert(base.rows == 500)
    assert(Digest.of(sample.repartition(5, col("k"))) == base)
    assert(Digest.of(sample.orderBy(col("id").desc).coalesce(1)) == base)
  }

  test("digest changes when one value changes") {
    val base = Digest.of(sample)
    val one = sample.withColumn("s", when(col("id") === 123, "x").otherwise(col("s")))
    assert(Digest.of(one) != base)
    assert(Digest.of(sample.where(col("id") =!= 7)) != base)
  }

  test("digest of an empty result is zero rows with a zero sum") {
    assert(Digest.of(sample.where(col("id") < 0)).toString == "0:0")
  }

  test("tail rule picks the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    // p90 leaves 10 samples above rank 90; p95 would leave only 5
    assert(Stats.tail(xs) == Some((90.0, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some((99.0, 990.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.0)
    assert(Stats.maxOverMedian(Seq(1.0, 1.0, 4.0)) == 4.0)
  }

  /** Names and units each mode must report, as BENCHMARK.json declares them. */
  private def declared(section: String): Map[String, String] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text).get(section)
    (0 until node.size).map(i => node.get(i)).map(m =>
      m.get("name").asText -> m.get("unit").asText).toMap
  }

  private def report(trace: Boolean): Report = {
    val entries = Seq(Entry("a", _ => sample), Entry("b", _ => sample))
    val o = Options("w", 1, 1, trace, "", "", "", 2, None)
    def exec(name: String, s: Double) = Exec(0, name, s, 0.1, 0.2, None, "1:1", 1,
      Map("write" -> 0.3), 10, 1, 5, 0, 0, Work(jobs = 2, stages = 3, tasks = 6, runMs = 100),
      Work(jobs = 1, stages = 1, tasks = 2, runMs = 10), 1.5)
    def pass(i: Int, kind: String, traced: Boolean) =
      Pass(i, kind, traced, 2.0 + i, Seq(exec("a", 1.0 + i), exec("b", 0.5)))
    Report(Workload("w", entries), o, Seq(10.0, 2.0, 2.5),
      Seq(pass(0, "cold", false), pass(1, "warmup", false), pass(2, "timed", trace),
        pass(3, "timed", false), pass(4, "timed", trace)), 100.0)
  }

  test("every declared metric is reported with its unit, in each mode") {
    for ((trace, section) <- Seq(false -> "end_to_end", true -> "per_layer")) {
      val got = report(trace).metrics.map { case (k, m) => k -> m.unit }
      assert(got == declared(section), s"$section: reported $got")
    }
  }

  test("result line has exactly the four top-level keys") {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(report(false).resultJson)
    val keys = scala.jdk.CollectionConverters.IteratorHasAsScala(node.fieldNames()).asScala.toSet
    assert(keys == Set("correct", "attempted", "failed", "metrics"))
    assert(node.get("attempted").asInt == 10 && node.get("failed").asInt == 0)
  }
}
