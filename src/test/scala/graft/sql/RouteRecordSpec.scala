package graft.sql

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}

/** The door's [[RouteRecord]] pinned by value: one test per route of the
  * table and one per class of stock decline. Each also checks the frame
  * against stock Spark, so a record can never pin a wrong result. */
class RouteRecordSpec extends SparkSpecBase {

  private def views(): Unit = {
    Tables.edges(spark, sfDir).createOrReplaceTempView("rr_edges")
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("rr_rated")
    Tables.customer(spark, sfDir).createOrReplaceTempView("rr_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("rr_orders")
    Tables.events(spark, sfDir).createOrReplaceTempView("rr_events")
  }

  /** Route `sql`, check the frame against stock, return the record. */
  private def routed(sql: String): RouteRecord = {
    views()
    val (df, rec) = CqcSql.route(spark, sql)
    val got = df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val want = spark.sql(sql).collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(got == want, s"door result differs from stock for:\n$sql")
    assert(CqcSql.recordOf(df).contains(rec), "the frame carries its record")
    rec
  }

  private def declinedBy(rec: RouteRecord): Decline = {
    assert(rec.route == "stock", rec)
    rec.declines.last._2
  }

  /** The block records of a run: the record and its nested blocks. */
  private def blocks(rec: RouteRecord): Seq[RouteRecord] =
    rec +: (rec.leaves ++ rec.nested).flatMap(blocks)

  /** Route `sql` with an ORDER BY key that is not among the block's
    * outputs. Analysed SQL never has one (a hidden sort key gets a
    * Project of its own above the Sort), so this guard of the finish is
    * defensive and the query is built by hand around an analysed plan. */
  private def orderedOffOutput(sql: String): RouteRecord = {
    views()
    val plan = spark.sql(sql).queryExecution.analyzed
    val hidden = plan.collectLeaves().flatMap(_.output).find(a => !plan.outputSet.contains(a)).get
    val order = Seq(SortOrder(hidden, Ascending))
    CqcSql.runRoutes(new DoorQuery(spark, plan, Nil, order, None, 0, distinct = false, plan))._2
  }

  private val path2 =
    "FROM rr_edges g1, rr_edges g2 WHERE g1.dst = g2.src"

  test("route: set operation — each branch through the door") {
    val rec = routed(s"SELECT g1.src AS a $path2 UNION ALL SELECT src AS a FROM rr_edges")
    assert(rec.route == "set operation" && rec.declines.isEmpty)
    assert(rec.nested.map(_.route) == Seq("enumeration", "enumeration"))
    assert(rec.rels.isEmpty && rec.outermost.contains(rec.nested.last))
  }

  test("route: grouping-sets rollup — inner aggregate through the door") {
    val rec = routed(s"SELECT g1.src AS a, COUNT(*) AS n $path2 GROUP BY ROLLUP(g1.src)")
    assert(rec.route == "grouping-sets rollup")
    assert(rec.declines == Seq("set operation" -> Decline("not a set operation")))
    assert(rec.nested.map(_.route) == Seq("factorized aggregate"))
  }

  test("route: outer factorized aggregate") {
    val rec = routed(
      """SELECT c.c_custkey AS k, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n
        |FROM rr_customer c LEFT OUTER JOIN rr_orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey""".stripMargin)
    assert(rec.route == "outer factorized aggregate")
    assert(rec.declines.map(_._1) == Seq("set operation", "grouping-sets rollup"))
    assert(rec.rels.map(_.name) == Seq("r0"))
  }

  test("route: factorized aggregate") {
    val rec = routed(s"SELECT g1.src AS a, COUNT(*) AS n, MAX(g2.dst) AS m $path2 GROUP BY g1.src")
    assert(rec.route == "factorized aggregate")
    assert(rec.declines.last == ("outer factorized aggregate" -> Decline("no peeled outer join")))
    assert(rec.rels.map(_.name) == Seq("r0", "r1") && rec.cmps.isEmpty)
  }

  test("route: ranked chain") {
    val rec = routed(
      """SELECT r.src AS n1, r.dst AS n2, s.dst AS n3, r.rating + s.rating AS total_rank
        |FROM rr_rated r, rr_rated s WHERE r.dst = s.src
        |ORDER BY total_rank DESC, n1 ASC, n2 ASC, n3 ASC LIMIT 5""".stripMargin)
    assert(rec.route == "ranked chain")
    assert(rec.declines.last == ("factorized aggregate" -> Decline("no GROUP BY")))
  }

  test("route: enumeration — projection, hash aggregate, window re-application") {
    val plain = routed(s"SELECT g1.src AS a, g2.dst AS c $path2 AND g1.src < g2.dst")
    assert(plain.route == "enumeration" && plain.detail == "")
    assert(plain.declines.last._1 == "ranked chain" && plain.cmps.size == 1)
    assert(plain.tree.isRight)
    val hashed = routed(s"SELECT g1.src AS a, COUNT(*) AS n $path2 AND g1.src < g2.dst GROUP BY g1.src")
    assert(hashed.route == "enumeration" && hashed.detail == " + hash aggregate")
    assert(hashed.declines.exists { case (r, d) =>
      r == "factorized aggregate" && d.reason.startsWith("comparisons") && !d.stock
    })
    val windowed = routed(
      s"SELECT g1.src AS a, RANK() OVER (PARTITION BY g1.src ORDER BY g2.dst) AS rk $path2")
    assert(windowed.route == "enumeration")
  }

  test("notes: CTE inlined, join keys lifted, keyed aggregate leaf folded") {
    val rec = routed(
      """WITH e AS (SELECT src, dst FROM rr_edges)
        |SELECT g1.src AS a, g2.dst AS c, d.n AS n
        |FROM e g1, e g2, (SELECT src, COUNT(*) AS n FROM rr_edges GROUP BY src) d
        |WHERE g1.dst + 1 = g2.src + 1 AND d.src = g1.src""".stripMargin)
    assert(rec.route == "enumeration")
    assert(rec.notes == Seq("inlined WITH-clause (CTE) definitions",
      "lifted 1 computed/null-safe equality to derived join keys (__vj)"))
    assert(rec.folded == Seq("r2") && rec.rels.map(_.name) == Seq("r0", "r1"))
  }

  test("decline: correlated subquery in the SELECT list") {
    val d = declinedBy(routed(
      s"SELECT g1.src AS a, (SELECT COUNT(*) FROM rr_edges e WHERE e.src = g1.src) AS c $path2"))
    assert(d == Decline(Decline.CorrelatedOutput, stock = true))
  }

  test("decline: leaf with duplicate output column names") {
    val d = declinedBy(routed(
      """SELECT g1.src AS a, x
        |FROM rr_edges g1 JOIN rr_edges g2 ON g1.dst = g2.src
        |LATERAL VIEW explode(array(g1.src, g2.dst)) t AS x""".stripMargin))
    assert(d == Decline(Decline.DuplicateLeafNames, stock = true))
  }

  test("decline: subquery predicate that cannot ride the renaming") {
    // correlated on a peeled outer side: the re-join renames that frame
    val d = declinedBy(routed(
      """SELECT c.c_custkey AS k, o.o_orderkey AS ok
        |FROM rr_customer c LEFT OUTER JOIN rr_orders o ON c.c_custkey = o.o_custkey
        |WHERE o.o_totalprice >= (SELECT MAX(o2.o_totalprice) FROM rr_orders o2
        |                         WHERE o2.o_custkey = o.o_custkey)""".stripMargin))
    assert(d == Decline(Decline.SubqueryPredicate, stock = true))
  }

  test("decline: aggregate rebuild failed") {
    // PIVOT's pivotfirst calls dataType on its children during transform:
    // the block holding it cannot be rebuilt over renamed attributes
    val rec = routed(
      s"""SELECT * FROM (SELECT g1.src AS a, g2.dst % 2 AS par, g2.dst AS v $path2)
         |PIVOT (SUM(v) AS s FOR par IN (0 AS even, 1 AS odd))""".stripMargin)
    val stock = blocks(rec).filter(_.route == "stock")
    assert(stock.size == 1, rec)
    val d = declinedBy(stock.head)
    assert(d.reason == Decline.AggregateRebuild && d.stock && d.cause.nonEmpty, d)
  }

  test("decline: unsupported window frame") {
    val d = declinedBy(routed(
      """SELECT e.user_id AS uid, e.event_id AS eid,
        |       COUNT(*) OVER (PARTITION BY e.user_id ORDER BY e.ts
        |         RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS n_day
        |FROM rr_events e, rr_customer c WHERE e.user_id = c.c_custkey""".stripMargin))
    assert(d == Decline(Decline.WindowFrame, stock = true))
  }

  test("decline: window rebuild failed") {
    // NTILE's bucket count is foldable but not a literal in the analysed
    // plan: the Column DSL cannot rebuild it
    val d = declinedBy(routed(
      s"SELECT g1.src AS a, NTILE(1 + 1) OVER (ORDER BY g1.src, g2.dst) AS t $path2"))
    assert(d == Decline(Decline.WindowRebuild, stock = true, "IllegalArgumentException"))
  }

  test("decline: ORDER BY on a non-output column of a set operation") {
    val rec = orderedOffOutput(s"SELECT g1.src AS a $path2 UNION ALL SELECT src AS a FROM rr_edges")
    assert(declinedBy(rec) == Decline(Decline.SetOpOrder, stock = true))
    assert(rec.declines.map(_._1) == Seq("set operation"))
  }

  test("decline: ORDER BY on a non-output column of grouping sets") {
    val rec = orderedOffOutput(s"SELECT g1.src AS a, COUNT(*) AS n $path2 GROUP BY CUBE(g1.src)")
    assert(declinedBy(rec) == Decline(Decline.GroupingSetsOrder, stock = true))
    assert(rec.declines.map(_._1) == Seq("set operation", "grouping-sets rollup"))
  }

  test("decline: ORDER BY on a non-output column of the main block") {
    val rec = orderedOffOutput(s"SELECT g1.src AS a, g2.dst AS c $path2")
    assert(declinedBy(rec) == Decline(Decline.OrderBy, stock = true))
    assert(rec.declines.last._1 == "enumeration" && rec.rels.size == 2)
  }
}
