package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, RepartitionOperation}

import graft.SparkSpecBase
import graft.sources.Tables

class SemijoinReductionSpec extends SparkSpecBase {
  import spark.implicits._

  private def withRule[T](f: => T): T = {
    spark.conf.set(SemijoinReduction.confKey, "true")
    try f finally spark.conf.set(SemijoinReduction.confKey, "false")
  }

  /** Rows as a sorted multiset: a reducer that drops or duplicates a row
    * changes it, unlike a set. */
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** LeftSemi joins of an optimized plan, a repartition-shared subtree
    * (a CTE def read more than once) counted once. */
  private def semijoinsOnce(plan: LogicalPlan): Int = {
    val seen = scala.collection.mutable.Set[LogicalPlan]()
    def walk(p: LogicalPlan): Int = p match {
      case r: RepartitionOperation if !seen.add(r.canonicalized) => 0
      case j: Join if j.joinType == LeftSemi => 1 + j.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(plan)
  }

  private def hasSemijoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists {
      case j: Join => j.joinType == LeftSemi
      case _ => false
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
    // the cluster alone, inside an IN subquery, and as a leaf of another
    // cluster
    val inSubquery = s"SELECT * FROM sjr_edges o WHERE o.src IN (SELECT a FROM ($sql) q)"
    val nested =
      s"""SELECT q.a, h.dst FROM ($sql) q, sjr_edges h, sjr_edges k
         |WHERE q.e = h.src AND h.dst = k.src""".stripMargin
    for (q <- Seq(sql, inSubquery, nested)) {
      val got = withRule(rowsOf(spark.sql(q)))
      val want = rowsOf(spark.sql(q))
      assert(got == want && want.nonEmpty, q)
    }
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
    spark.conf.set(SemijoinReduction.confKey, "false")
    val df = graft.SparkEntry.queries("sql_frontend")(spark, sfDir).groupBy().count()
    assert(spark.conf.get(SemijoinReduction.confKey) == "false")
    val got = df.head().getLong(0)
    val plan = df.queryExecution.executedPlan
    assert(planCensus(plan).semijoins > 0, s"expected LeftSemi reducers, got:\n$plan")
    // the reduction does not change the result
    Tables.edges(spark, sfDir).createOrReplaceTempView("sjr_edges")
    val stock = spark.sql(
      """SELECT count(*) FROM sjr_edges g1, sjr_edges g2, sjr_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst < 5""".stripMargin)
    assert(got == stock.head().getLong(0) && got > 0)
  }

  test("sql_frontend runs the 2(n-1) semijoins of one reduction, each once") {
    // n = 3 relations: 4 semijoins, planned once and executed once — a
    // reduced relation read by several semijoins and the join is shared,
    // not re-derived at every read
    val df = graft.SparkEntry.queries("sql_frontend")(spark, sfDir)
    assert(semijoinsOnce(df.queryExecution.optimizedPlan) == 4,
      df.queryExecution.optimizedPlan.toString)
    df.collect()
    val census = planCensus(df.queryExecution.executedPlan)
    assert(census.semijoins == 4, s"$census\n${df.queryExecution.executedPlan}")
    assert(census.reused > 0, census)
  }

  test("two-relation joins are not rewritten (below cluster threshold)") {
    Tables.edges(spark, sfDir).createOrReplaceTempView("sjr_edges")
    val two = "SELECT count(*) FROM sjr_edges g1, sjr_edges g2 WHERE g1.dst = g2.src"
    assert(!withRule(spark.sql(two).queryExecution.optimizedPlan.toString())
      .contains("LeftSemi"))
  }

  test("seeded property: the rule never changes the rows of a random acyclic join") {
    // chains r0 - r1 - ... and stars (hub r0 keyed to every spoke) of 3-5
    // relations over small key domains, so rows dangle and keys repeat;
    // each query filters one leaf and projects a subset of the columns
    val rnd = new scala.util.Random(20260611L)
    for (case_ <- 1 to 12) {
      val n = 3 + case_ % 3
      val star = case_ % 2 == 0
      for (j <- 0 until n) {
        // the star's hub carries one key column per spoke
        val width = if (star && j == 0) n - 1 else 2
        Seq.fill(5 + rnd.nextInt(20))(Seq.fill(width)(rnd.nextInt(5).toLong) :+ rnd.nextInt(10).toLong)
          .map(r => (r.init.padTo(4, 0L), r.last))
          .map { case (k, p) => (k(0), k(1), k(2), k(3), p) }
          .toDF("k0", "k1", "k2", "k3", "p").createOrReplaceTempView(s"sjr_r$j")
      }
      val conds =
        if (star) (1 until n).map(j => s"r0.k${j - 1} = r$j.k0")
        else (1 until n).map(j => s"r${j - 1}.k1 = r$j.k0")
      val filtered = rnd.nextInt(n)
      val cols = (0 until n).flatMap(j => Seq(s"r$j.k0", s"r$j.p"))
      val out = rnd.shuffle(cols).take(1 + rnd.nextInt(cols.size))
      val q =
        s"""SELECT ${out.mkString(", ")}
           |FROM ${(0 until n).map(j => s"sjr_r$j r$j").mkString(", ")}
           |WHERE ${conds.mkString(" AND ")} AND r$filtered.p < 7""".stripMargin
      val (reduced, got) = withRule { val df = spark.sql(q); (hasSemijoin(df), rowsOf(df)) }
      assert(reduced, s"case $case_ was not reduced:\n$q")
      assert(got == rowsOf(spark.sql(q)), s"case $case_:\n$q")
    }
  }

  test("a cyclic cluster and a cross-join component are left unchanged") {
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
      .createOrReplaceTempView("sjr_small")
    val cyclic =
      """SELECT g1.src, g2.src, g3.src FROM sjr_small g1, sjr_small g2, sjr_small g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src""".stripMargin
    // two equi-joined pairs with no condition between them
    val crossed =
      """SELECT g1.src, g2.dst, g3.src, g4.dst
        |FROM sjr_small g1, sjr_small g2, sjr_small g3, sjr_small g4
        |WHERE g1.dst = g2.src AND g3.dst = g4.src""".stripMargin
    for (q <- Seq(cyclic, crossed)) {
      val on = withRule(spark.sql(q).queryExecution.optimizedPlan)
      val off = spark.sql(q).queryExecution.optimizedPlan
      assert(on.sameResult(off), s"$q\n$on")
      assert(withRule(rowsOf(spark.sql(q))) == rowsOf(spark.sql(q)))
    }
  }
}
