package graft.plans

import graft.SparkSpecBase
import graft.sources.Tables

class SemijoinReductionSpec extends SparkSpecBase {

  private def withRule[T](f: => T): T = {
    spark.conf.set(SemijoinReduction.confKey, "true")
    try f finally spark.conf.set(SemijoinReduction.confKey, "false")
  }

  private val sql =
    """SELECT g1.src AS a, g1.dst AS b, g2.dst AS c, g3.dst AS e
      |FROM sjr_edges g1, sjr_edges g2, sjr_edges g3
      |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst < 5""".stripMargin

  test("rule inserts left-semi reducers into a 3-way SQL join") {
    Tables.edges(spark, sfDir).createOrReplaceTempView("sjr_edges")
    val plan = withRule(spark.sql(sql).queryExecution.optimizedPlan.toString())
    assert(plan.contains("LeftSemi"))
    val without = spark.sql(sql).queryExecution.optimizedPlan.toString()
    assert(!without.contains("LeftSemi"))
  }

  test("reduction does not change results") {
    Tables.edges(spark, sfDir).createOrReplaceTempView("sjr_edges")
    val got = withRule(spark.sql(sql).collect().map(_.toSeq).toSet)
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("cyclic clusters are left untouched") {
    Tables.edges(spark, sfDir).createOrReplaceTempView("sjr_edges")
    val cyc =
      """SELECT count(*) FROM sjr_edges g1, sjr_edges g2, sjr_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src""".stripMargin
    val planWith = withRule(spark.sql(cyc).queryExecution.optimizedPlan.toString())
    assert(!planWith.contains("LeftSemi"))
    assert(withRule(spark.sql(cyc).head().getLong(0)) == spark.sql(cyc).head().getLong(0))
  }

  test("sql_frontend keeps its reducers after the conf is restored") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    spark.conf.set(SemijoinReduction.confKey, "false")
    val df = graft.SparkEntry.queries("sql_frontend")(spark, sfDir).groupBy().count()
    assert(spark.conf.get(SemijoinReduction.confKey) == "false")
    val got = df.head().getLong(0)
    val plan = df.queryExecution.executedPlan
    val semis = collect(plan) { case j: BaseJoinExec if j.joinType == LeftSemi => j }
    assert(semis.nonEmpty, s"expected LeftSemi reducers, got:\n$plan")
    // the reduction does not change the result
    val stock = spark.sql(
      """SELECT count(*) FROM graft_edges g1, graft_edges g2, graft_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst < 5""".stripMargin)
    assert(got == stock.head().getLong(0) && got > 0)
  }

  test("two-relation joins are not rewritten (below cluster threshold)") {
    Tables.edges(spark, sfDir).createOrReplaceTempView("sjr_edges")
    val two = "SELECT count(*) FROM sjr_edges g1, sjr_edges g2 WHERE g1.dst = g2.src"
    assert(!withRule(spark.sql(two).queryExecution.optimizedPlan.toString())
      .contains("LeftSemi"))
  }
}
