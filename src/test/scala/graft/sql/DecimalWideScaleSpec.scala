package graft.sql

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, lit}

/** r16: decimal sums with scale > 6 route through the factorized fast
  * paths on exact DECIMAL(38, s) arithmetic (graft.functions.DecimalExact)
  * instead of declining to stock — and the exact ops provably avoid the
  * scale shrink Spark's native decimal multiply applies. */
class DecimalWideScaleSpec extends SparkSpecBase {

  import spark.implicits._

  private def prep(): Unit =
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("dw_rated")

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  private def checkFast(sql: String, marker: String): Unit = {
    val plan = CqcSql.explain(spark, sql)
    assert(plan.contains(marker), s"expected '$marker' in:\n$plan")
    val fast = multiset(CqcSql.solve(spark, sql))
    graft.CacheRegistry.unpersistAll()
    val stock = multiset(spark.sql(sql))
    assert(fast == stock, s"fast path diverged from stock for:\n$sql")
    assert(fast.nonEmpty, s"shape exercises nothing:\n$sql")
  }

  test("DecimalExact: native multiply SHRINKS scale > 6, the exact op never does") {
    // a scale-10 partial sum times a large count: Spark's native decimal
    // multiply adjusts (38,10)x(20,0) by shrinking the scale; the exact
    // op keeps all 10 fractional digits and only nulls on magnitude
    val df = Seq(1).toDF("x").select(
      lit(new java.math.BigDecimal("1234.0000000001")).cast("decimal(38,10)").as("v"),
      lit(1000000000L).as("c"))
    val native = df.select((col("v") * col("c")).as("p"))
    val nScale = native.schema("p").dataType
      .asInstanceOf[org.apache.spark.sql.types.DecimalType].scale
    assert(nScale < 10, s"precondition: native multiply shrinks (got scale $nScale)")
    val exact = df.select(graft.functions.DecimalExact.timesCount(col("v"), col("c")).as("p"))
    assert(exact.schema("p").dataType ===
      org.apache.spark.sql.types.DecimalType(38, 10))
    assert(exact.collect()(0).getDecimal(0).toPlainString
      == "1234000000000.1000000000", "all ten fractional digits survive")
    // magnitude overflow yields NULL, the stock capped-accumulator class
    val over = df.select(graft.functions.DecimalExact.times(
      lit(new java.math.BigDecimal("1e28")).cast("decimal(38,0)"),
      lit(new java.math.BigDecimal("1e28")).cast("decimal(38,0)")).as("p"))
    assert(over.collect()(0).isNullAt(0))
  }

  test("scale-8 SUM routes the FAQ fast path and equals stock") {
    prep()
    checkFast(
      """SELECT r1.src AS a, SUM(CAST(r2.rating AS DECIMAL(20,8))) AS s,
        |       COUNT(*) AS n
        |FROM dw_rated r1, dw_rated r2
        |WHERE r1.dst = r2.src
        |GROUP BY r1.src""".stripMargin,
      "factorized aggregate fast path")
  }

  test("scale-8 SUM rolls up fast (the RollupFast declined shape, now routed)") {
    prep()
    checkFast(
      """SELECT r1.src AS a, r1.dst AS b,
        |       SUM(CAST(r2.rating AS DECIMAL(18,8))) AS s, COUNT(*) AS n
        |FROM dw_rated r1, dw_rated r2
        |WHERE r1.dst = r2.src
        |GROUP BY ROLLUP(r1.src, r1.dst)""".stripMargin,
      "factorized aggregate fast path")
  }

  test("cross-relation decimal product (scale 8+8) routes the semiring and equals stock") {
    prep()
    checkFast(
      """SELECT r1.src AS a,
        |       SUM(CAST(r1.rating AS DECIMAL(14,8)) * CAST(r2.rating AS DECIMAL(14,8))) AS s
        |FROM dw_rated r1, dw_rated r2
        |WHERE r1.dst = r2.src
        |GROUP BY r1.src""".stripMargin,
      "factorized aggregate fast path")
  }

  test("wide-scale SUM under a peeled outer join takes the eager-aggregation path") {
    prep()
    Tables.orders(spark, sfDir).createOrReplaceTempView("dw_orders")
    Tables.customer(spark, sfDir).createOrReplaceTempView("dw_customer")
    checkFast(
      """SELECT c.c_nationkey AS nat,
        |       SUM(CAST(o.o_totalprice AS DECIMAL(24,8))) AS s, COUNT(*) AS n
        |FROM dw_customer c LEFT OUTER JOIN dw_orders o
        |  ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_nationkey""".stripMargin,
      "eager aggregation under peeled outer join")
  }

  test("Yannakakis.aggOverJoin wide-scale decimal equals the enumerated sum") {
    import graft.cqc.{Agg, Rel, Yannakakis}
    val e = Tables.edges(spark, sfDir)
    val rated = e.select(col("src"), col("dst"),
      (col("dst").cast("decimal(10,0)") / lit(7)).cast("decimal(20,8)").as("w"))
    val rels = Seq(
      Rel("g1", e.toDF("src", "mid")),
      Rel("g2", rated.toDF("mid", "dst", "w")))
    val fast = Yannakakis.aggOverJoin(rels, Seq("src"), Seq(Agg.Sum("sum_w", Seq("w"))))
      .select(col("src"), col("sum_w").cast("decimal(38,8)").as("s"))
    graft.CacheRegistry.unpersistAll()
    val slow = e.toDF("src", "mid")
      .join(rated.toDF("mid", "dst", "w"), "mid")
      .groupBy("src").agg(org.apache.spark.sql.functions.sum("w").as("s0"))
      .select(col("src"), col("s0").cast("decimal(38,8)").as("s"))
    assert(multiset(fast) == multiset(slow))
  }

  test("double SUM still declines the fast paths (order-dependence guard intact)") {
    prep()
    val sql =
      """SELECT r1.src AS a, SUM(r2.rating) AS s
        |FROM dw_rated r1, dw_rated r2
        |WHERE r1.dst = r2.src
        |GROUP BY r1.src""".stripMargin
    assert(!CqcSql.explain(spark, sql).contains("factorized aggregate fast path"))
    assert(multiset(CqcSql.solve(spark, sql)) == multiset(spark.sql(sql)))
  }
}
