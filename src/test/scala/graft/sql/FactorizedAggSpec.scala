package graft.sql

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}

/** The door's factorized aggregates run as ONE message pass of
  * `Yannakakis.aggOverJoin`: counts, sums, cross-relation product sums
  * and extrema share the per-edge aggregates, with or without GROUP BY. */
class FactorizedAggSpec extends SparkSpecBase {

  import spark.implicits._

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  private val fast = "factorized aggregate fast path"

  private def ratedChain(extra: String): String = {
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("fa_rated")
    s"""SELECT SUM(CAST(g1.rating AS BIGINT) * CAST(g3.rating AS BIGINT)) AS s
       |FROM fa_rated g1, fa_rated g2, fa_rated g3
       |WHERE g1.dst = g2.src AND g2.dst = g3.src$extra""".stripMargin
  }

  test("a global cross-relation product SUM factorizes and equals stock") {
    val sql = ratedChain("")
    assert(CqcSql.explain(spark, sql).contains(fast), CqcSql.explain(spark, sql))
    val got = CqcSql.solve(spark, sql).collect()
    assert(got.length == 1 && !got.head.isNullAt(0))
    assert(got.toSeq == spark.sql(sql).collect().toSeq)
  }

  test("a global product SUM over an empty join is NULL") {
    val sql = ratedChain(" AND g1.src = -1")
    assert(CqcSql.explain(spark, sql).contains(fast), CqcSql.explain(spark, sql))
    val got = CqcSql.solve(spark, sql).collect()
    assert(got.length == 1 && got.head.isNullAt(0), got.toSeq)
    assert(spark.sql(sql).collect().head.isNullAt(0))
  }

  test("product SUM, COUNT and MIN share one pass: tree edges + 1 aggregates") {
    Seq((1, 10, 2L), (1, 11, 3L), (2, 10, 5L), (3, 12, 7L))
      .toDF("a", "b", "w").createOrReplaceTempView("fa_t1")
    Seq((10, 20, 4), (10, 21, 9), (11, 20, 1), (12, 22, 6))
      .toDF("b", "c", "x").createOrReplaceTempView("fa_t2")
    Seq((20, 100, 3L), (20, 101, 2L), (21, 102, 10L), (22, 103, 1L))
      .toDF("c", "d", "w").createOrReplaceTempView("fa_t3")
    val sql =
      """SELECT g1.a AS a, SUM(g1.w * g3.w) AS p, COUNT(*) AS n, MIN(g2.x) AS lo
        |FROM fa_t1 g1, fa_t2 g2, fa_t3 g3
        |WHERE g1.b = g2.b AND g2.c = g3.c
        |GROUP BY g1.a""".stripMargin
    assert(CqcSql.explain(spark, sql).contains(fast))
    val df = CqcSql.solve(spark, sql)
    val plan = df.queryExecution.optimizedPlan
    val treeEdges = 2 // a 3-relation chain
    assert(plan.collect { case a: Aggregate => a }.size == treeEdges + 1, plan)
    assert(plan.collect {
      case j: Join if j.condition.exists(_.exists(_.isInstanceOf[EqualNullSafe])) => j
    }.isEmpty, plan)
    val got = multiset(df)
    assert(got == multiset(spark.sql(sql)))
    assert(got.nonEmpty)
  }
}
