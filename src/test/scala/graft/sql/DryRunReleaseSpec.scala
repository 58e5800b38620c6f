package graft.sql

import graft.{CacheRegistry, SparkSpecBase}
import graft.sources.Tables
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The dry-run surfaces plan through the whole door, so the run persists
  * what an execution would (the keyed-aggregate fold, the reduced
  * relations). They must release exactly those frames: a web console
  * serving /api/plan on such a query must not grow the tracked buffer or
  * the session's cache per request. Executions keep their persists. */
class DryRunReleaseSpec extends SparkSpecBase {

  // sql_cqc's text: two keyed degree subqueries fold into their hosts,
  // and with the direct route off the body takes the reduced route
  private val sql =
    """SELECT g1.src AS src, g1.dst AS via1, g2.dst AS via2, g3.dst AS dst,
      |       c1.cnt AS cnt1, c2.cnt AS cnt2
      |FROM dr_edges g1, dr_edges g2, dr_edges g3,
      |     (SELECT src, COUNT(*) AS cnt FROM dr_edges GROUP BY src) c1,
      |     (SELECT src, COUNT(*) AS cnt FROM dr_edges GROUP BY src) c2
      |WHERE c1.src = g1.src AND g1.dst = g2.src AND g2.dst = g3.src
      |  AND g3.dst = c2.src AND c1.cnt < c2.cnt""".stripMargin

  private def withReducedRoute[A](f: => A): A = {
    Tables.edges(spark, sfDir).createOrReplaceTempView("dr_edges")
    val key = "spark.graft.direct.threshold"
    spark.conf.set(key, "0")
    try f finally spark.conf.unset(key)
  }

  private def cacheState = (CacheRegistry.trackedCount, spark.sharedState.cacheManager.isEmpty)

  test("every dry-run surface leaves the tracked buffer and the cache as it found them") {
    withReducedRoute {
      val (_, rec) = CqcSql.route(spark, sql)
      assert(rec.folded.nonEmpty && CacheRegistry.trackedCount > 2,
        "the query must fold and persist its reduced relations")
      CacheRegistry.unpersistAll()
      val surfaces: Seq[(String, () => Any)] = Seq(
        "explain" -> (() => CqcSql.explain(spark, sql)),
        "relations" -> (() => CqcSql.relations(spark, sql)),
        "structure" -> (() => CqcSql.structure(spark, sql)),
        "comparisons" -> (() => CqcSql.comparisons(spark, sql)),
        "candidates" -> (() => CqcSql.candidates(spark, sql)),
        "hypergraphDot" -> (() => CqcSql.hypergraphDot(spark, sql)),
        "Emit.program" -> (() => Emit.program(spark, sql)))
      for ((name, run) <- surfaces) {
        val before = cacheState
        run()
        assert(cacheState == before, s"$name left persists behind")
      }
    }
  }

  test("a dry run releases only its own frames: an execution's persists stay") {
    withReducedRoute {
      val df = CqcSql.solve(spark, sql)
      val before = cacheState
      assert(before._1 > 0 && !before._2)
      CqcSql.explain(spark, sql)
      assert(cacheState == before)
      assert(df.count() >= 0)
    }
  }

  test("executions keep their persists: the cached scans in sql_cqc's plan") {
    Tables.edges(spark, sfDir).createOrReplaceTempView("dr_edges")
    val plan = CqcSql.solve(spark, sql).queryExecution.executedPlan
    assert(collect(plan) { case s: InMemoryTableScanExec => s }.size == 2)
  }
}
