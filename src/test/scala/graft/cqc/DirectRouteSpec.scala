package graft.cqc

import graft.SparkSpecBase
import graft.sql.CqcSql
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.col

/** Cost-gated direct enumeration (Yannakakis.routesDirect): bodies whose
  * every leaf is estimated under `spark.graft.direct.threshold` skip the
  * full reducer, the bound annotation, and the per-relation persists —
  * running the tree-ordered enumeration with every predicate at its
  * earliest binding. These tests pin:
  *   (a) result identity between the two routes (fixed shapes + a
  *       randomized battery),
  *   (b) the dry-run routing line flipping with the threshold,
  *   (c) threshold<=0 disabling the route entirely (the scale path),
  *       and a malformed threshold failing loudly,
  *   (d) the fold's multiplicity-neutral estHint keeping enriched
  *       leaves gate-eligible (Catalyst's join stats would multiply),
  *   (e) the direct route's physical plan: broadcast joins, no
  *       sort-merge join, no left-semi reducer passes.
  */
class DirectRouteSpec extends SparkSpecBase {

  private def withThreshold[A](v: String)(f: => A): A = {
    val key = "spark.graft.direct.threshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try f finally old match {
      case Some(o) => spark.conf.set(key, o)
      case None => spark.conf.unset(key)
    }
  }

  private def sorted(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.orderBy(df.columns.sorted.map(col): _*).collect().toSeq

  private def bothRoutes(sql: String): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
    val direct = sorted(CqcSql.solve(spark, sql))
    graft.CacheRegistry.unpersistAll()
    val reduced = withThreshold("0")(sorted(CqcSql.solve(spark, sql)))
    graft.CacheRegistry.unpersistAll()
    (direct, reduced)
  }

  private def view(): Unit =
    Tables.edges(spark, sfDir).createOrReplaceTempView("dr_edges")

  test("comparison chain: direct == reduced == stock") {
    view()
    val sql =
      """SELECT g1.src AS a, g2.src AS b, g3.src AS c, g3.dst AS d
        |FROM dr_edges g1, dr_edges g2, dr_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g1.src < g3.dst""".stripMargin
    val (direct, reduced) = bothRoutes(sql)
    assert(direct == reduced)
    assert(direct == sorted(spark.sql(sql)))
    assert(direct.nonEmpty)
  }

  test("degree subqueries + two comparisons (ref q3 shape): direct == reduced") {
    view()
    val sql =
      """SELECT g1.src AS src, g1.dst AS via, g2.dst AS dst, c1.cnt AS cnt1, c2.cnt AS cnt2
        |FROM dr_edges g1, dr_edges g2,
        |     (SELECT src, COUNT(*) AS cnt FROM dr_edges GROUP BY src) AS c1,
        |     (SELECT dst, COUNT(*) AS cnt FROM dr_edges GROUP BY dst) AS c2
        |WHERE g1.dst = g2.src AND c1.src = g1.src AND c2.dst = g2.dst
        |  AND c1.cnt < c2.cnt""".stripMargin
    val (direct, reduced) = bothRoutes(sql)
    assert(direct == reduced)
    assert(direct == sorted(spark.sql(sql)))
  }

  test("residual disjunction: direct == reduced") {
    view()
    val sql =
      """SELECT g1.src AS a, g2.dst AS b
        |FROM dr_edges g1, dr_edges g2
        |WHERE g1.dst = g2.src AND (g1.src < g2.dst OR g2.dst < 10)""".stripMargin
    val (direct, reduced) = bothRoutes(sql)
    assert(direct == reduced)
    assert(direct == sorted(spark.sql(sql)))
  }

  test("dry-run routing line flips with the threshold") {
    view()
    val sql =
      """SELECT g1.src AS a, g2.dst AS b
        |FROM dr_edges g1, dr_edges g2 WHERE g1.dst = g2.src""".stripMargin
    assert(CqcSql.explain(spark, sql).contains("direct broadcast enumeration"))
    withThreshold("0") {
      assert(CqcSql.explain(spark, sql).contains("semijoin-reduced enumeration"))
    }
    // threshold of 1 byte: nothing qualifies — the scale behavior
    withThreshold("1") {
      assert(CqcSql.explain(spark, sql).contains("semijoin-reduced enumeration"))
    }
  }

  test("a malformed threshold fails loudly, naming the key and the value") {
    view()
    val join =
      """SELECT g1.src AS a, g2.dst AS b
        |FROM dr_edges g1, dr_edges g2 WHERE g1.dst = g2.src""".stripMargin
    // an aggregate shape too: its route must not swallow the error into
    // a stock fallback
    val agg =
      """SELECT g1.src AS a, COUNT(*) AS n
        |FROM dr_edges g1, dr_edges g2 WHERE g1.dst = g2.src
        |GROUP BY g1.src""".stripMargin
    val e = Tables.edges(spark, sfDir)
    withThreshold("256k") {
      val errs = Seq(
        intercept[IllegalArgumentException](CqcSql.solve(spark, join)),
        intercept[IllegalArgumentException](CqcSql.solve(spark, agg)),
        intercept[IllegalArgumentException](Yannakakis.solve(Seq(
          Rel("g1", e.toDF("a", "b")), Rel("g2", e.toDF("b", "c"))))))
      errs.foreach(ex => assert(ex.getMessage.contains("spark.graft.direct.threshold") &&
        ex.getMessage.contains("'256k'"), ex.getMessage))
    }
  }

  test("fold estHint keeps enriched leaves gate-eligible and bounded by the host") {
    view()
    val sql =
      """SELECT g1.src AS a, g1.dst AS b, c1.cnt AS n
        |FROM dr_edges g1,
        |     (SELECT src, COUNT(*) AS cnt FROM dr_edges GROUP BY src) AS c1
        |WHERE c1.src = g1.src""".stripMargin
    val rels = CqcSql.relations(spark, sql)
    // the aggregate leaf folded away; the surviving host carries a hint
    assert(rels.size == 1, rels.map(_.name))
    val host = rels.head
    assert(host.estHint.isDefined)
    val rawEdges = Tables.edges(spark, sfDir)
    val rawEst = rawEdges.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(host.estHint.get <= rawEst,
      s"hint ${host.estHint.get} should be at most the host's raw estimate $rawEst")
    // and the dry-run still routes direct despite the fold join on top
    assert(CqcSql.explain(spark, sql).contains("direct broadcast enumeration"))
  }

  test("direct route physical plan: broadcast joins only, no SMJ, no left-semi") {
    view()
    val sql =
      """SELECT g1.src AS a, g2.src AS b, g3.dst AS c
        |FROM dr_edges g1, dr_edges g2, dr_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g1.src < g3.dst""".stripMargin
    val df = CqcSql.solve(spark, sql)
    df.count() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("LeftSemi"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("adversarial worst case: tiny leaves, 3-hop blowup, selective last hop") {
    // The gate's documented unsoundness, constructed exactly: every leaf
    // sits far under the 256 KB threshold (so the body routes DIRECT),
    // but the tree-ordered enumeration builds a ~1.3M-row dangling
    // intermediate (100 nodes x degree 24, 3 hops) that the selective
    // last hop (a single-key relation) then annihilates. The reducer
    // route semijoin-prunes the chain to the final rows BEFORE joining —
    // the O(input+output) guarantee the direct route forfeits. The claim
    // under test: the forfeit is COST ONLY — results stay identical to
    // the reduced route and to stock Spark (which runs the same
    // broadcast cascade at these sizes), and the cost stays a bounded
    // constant (in-memory broadcast joins), not a failure mode.
    import spark.implicits._
    val n = 100
    val deg = 24
    val edges = for (s <- 0 until n; k <- 1 to deg) yield (s, (s * 7 + k * 13) % n)
    edges.distinct.toDF("src", "dst").createOrReplaceTempView("adv_e")
    Seq(Tuple1(0)).toDF("v").createOrReplaceTempView("adv_s")
    val sql =
      """SELECT g1.src AS a, g1.dst AS b, g2.dst AS c, g3.dst AS d
        |FROM adv_e g1, adv_e g2, adv_e g3, adv_s s
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = s.v""".stripMargin
    // the shape does route direct (all leaves tiny)
    assert(CqcSql.explain(spark, sql).contains("direct broadcast enumeration"))
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (direct, tDirect) = timed(sorted(CqcSql.solve(spark, sql)))
    graft.CacheRegistry.unpersistAll()
    val (reduced, tReduced) = timed(withThreshold("0")(sorted(CqcSql.solve(spark, sql))))
    graft.CacheRegistry.unpersistAll()
    val (stock, tStock) = timed(sorted(spark.sql(sql)))
    assert(direct == reduced, "adversarial shape: direct != reduced")
    assert(direct == stock, "adversarial shape: direct != stock")
    assert(direct.nonEmpty)
    // measured record for BASELINE.md (not an assertion — host noise):
    info(f"rows=${direct.size} direct=$tDirect%.2fs reduced=$tReduced%.2fs stock=$tStock%.2fs")
  }

  test("randomized battery: direct == reduced == stock on planted graphs") {
    val rnd = new scala.util.Random(149042)
    for (round <- 1 to 12) {
      val n = 6 + rnd.nextInt(30)
      val edges = Seq.fill(40 + rnd.nextInt(120))((rnd.nextInt(n), rnd.nextInt(n)))
        .distinct
      import spark.implicits._
      edges.toDF("src", "dst").createOrReplaceTempView("drr_edges")
      val hops = 2 + rnd.nextInt(3)
      val joins = (1 until hops).map(i => s"g$i.dst = g${i + 1}.src").mkString(" AND ")
      val cmp = rnd.nextInt(3) match {
        case 0 => s"AND g1.src < g$hops.dst"
        case 1 => s"AND g1.src + g1.dst < g$hops.src + g$hops.dst"
        case _ => ""
      }
      val sql =
        s"""SELECT ${(1 to hops).map(i => s"g$i.src AS s$i").mkString(", ")}, g$hops.dst AS d
           |FROM ${(1 to hops).map(i => s"drr_edges g$i").mkString(", ")}
           |WHERE $joins $cmp""".stripMargin
      val (direct, reduced) = bothRoutes(sql)
      assert(direct == reduced, s"round $round: direct != reduced\n$sql")
      assert(direct == sorted(spark.sql(sql)), s"round $round: != stock\n$sql")
    }
  }
}
