package graft.sql

import graft.SparkSpecBase
import graft.sources.Tables

class CqcSqlSpec extends SparkSpecBase {

  private def prep(): Unit =
    Tables.edges(spark, sfDir).createOrReplaceTempView("cqcsql_edges")

  test("SQL with a cross-relation comparison matches stock Spark execution") {
    prep()
    val sql =
      """SELECT g1.src AS src, g1.dst AS via, g2.dst AS dst, c1.cnt AS cnt1, c2.cnt AS cnt2
        |FROM cqcsql_edges g1, cqcsql_edges g2,
        |     (SELECT src, COUNT(*) AS cnt FROM cqcsql_edges GROUP BY src) c1,
        |     (SELECT src, COUNT(*) AS cnt FROM cqcsql_edges GROUP BY src) c2
        |WHERE c1.src = g1.src AND g1.dst = g2.src AND g2.dst = c2.src
        |  AND c1.cnt < c2.cnt""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("LEFT OUTER JOIN is peeled and re-applied over the CQC result") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("cqcsql_rated")
    // inner 2-hop cluster, then an outer join whose ON carries an extra
    // filter — unmatched rows must survive with NULLs (q13 semantics)
    val sql =
      """SELECT g1.src AS a, g2.dst AS b, r.rating AS w
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |LEFT OUTER JOIN cqcsql_rated r
        |  ON g2.dst = r.src AND r.rating > 45.0
        |WHERE g1.dst = g2.src AND g1.src < 10""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    // must include null-extended rows, or the outer join degenerated
    assert(got.exists(r => r.last == null))
  }

  test("RIGHT OUTER JOIN peels the preserved right side into the cluster") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("cqcsql_ratedR")
    // the null-extended LEFT side is peeled; the preserved right side is
    // the CQC cluster; WHERE conjuncts on preserved attrs stay inside
    val sql2 =
      """SELECT g.src AS a, g.dst AS b, r.rating AS w
        |FROM cqcsql_ratedR r RIGHT OUTER JOIN cqcsql_edges g
        |  ON g.dst = r.src AND r.rating > 45.0
        |WHERE g.src < 10""".stripMargin
    val got2 = CqcSql.solve(spark, sql2).collect().map(_.toSeq).toSet
    val want2 = spark.sql(sql2).collect().map(_.toSeq).toSet
    assert(got2 == want2 && want2.nonEmpty)
    assert(got2.exists(r => r.last == null)) // null-extension survived
  }

  test("FULL OUTER JOIN: both sides CQC-evaluated, null-extended both ways") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("cqcsql_ratedF")
    // left side is itself a join-bearing block (recursed through the
    // door); right side a filtered base relation
    val sql =
      """SELECT p.a AS a, p.c AS c, r.rating AS w
        |FROM (SELECT g1.src AS a, g2.dst AS c
        |      FROM cqcsql_edges g1, cqcsql_edges g2
        |      WHERE g1.dst = g2.src AND g1.src < 5) p
        |FULL OUTER JOIN cqcsql_ratedF r
        |  ON p.c = r.src AND r.rating > 48.0""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    assert(got.exists(r => r.last == null))  // unmatched left rows survive
    assert(got.exists(r => r.head == null))  // unmatched right rows survive
  }

  test("aggregate pushdown UNDER the outer join: the join never materializes") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("cqcsql_ratedP")
    val sql =
      """SELECT g.src AS a, COUNT(*) AS n_rows, COUNT(r.rating) AS n_matched,
        |       SUM(r.src) AS s_key, AVG(r.src) AS a_key,
        |       AVG(NULLIF(r.src, 2)) AS a_nn
        |FROM cqcsql_edges g LEFT OUTER JOIN cqcsql_ratedP r
        |  ON g.dst = r.src AND r.rating > 45.0
        |GROUP BY g.src""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    // eager aggregation shows as aggregates BELOW the join: the generic
    // enumerate-then-aggregate plan has exactly one Aggregate node
    val nAggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAggs > 1, s"expected pre-join aggregates, got $nAggs")
    // TWO outer joins: multiplicities multiply; extrema ignore them
    val sql2 =
      """SELECT g.src AS a, COUNT(*) AS n_rows, COUNT(r1.rating) AS n1,
        |       SUM(r2.src) AS s2, MIN(r1.rating) AS mn1, MAX(r2.rating) AS mx2
        |FROM cqcsql_edges g
        |LEFT OUTER JOIN cqcsql_ratedP r1 ON g.dst = r1.src AND r1.rating > 45.0
        |LEFT OUTER JOIN cqcsql_ratedP r2 ON g.src = r2.dst AND r2.rating > 40.0
        |GROUP BY g.src""".stripMargin
    val got2 = CqcSql.solve(spark, sql2).collect().map(_.toSeq).toSet
    val want2 = spark.sql(sql2).collect().map(_.toSeq).toSet
    assert(got2 == want2 && want2.nonEmpty)
  }

  test("INNER-side SUM/MIN/MAX/AVG/COUNT under a peeled outer join stay eager") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("cqcsql_ratedIM")
    // aggregates over the PRESERVED side: extrema are multiplicity-free
    // (outer joins replicate preserved rows, never drop them), sums
    // weight per-cell inner sums by the outer match counts
    val sql =
      """SELECT g.src AS a, COUNT(*) AS n_rows,
        |       MIN(g.dst) AS mn_i, MAX(g.dst) AS mx_i,
        |       SUM(g.dst) AS s_i, AVG(g.dst) AS a_i, COUNT(g.dst) AS c_i,
        |       MIN(r.rating) AS mn_o
        |FROM cqcsql_edges g LEFT OUTER JOIN cqcsql_ratedIM r
        |  ON g.dst = r.src AND r.rating > 45.0
        |GROUP BY g.src""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    val nAggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAggs > 1, s"expected pre-join aggregates, got $nAggs")
    // multi-relation inner cluster: the inner aggregates message-pass
    // through the join tree before the outer side re-joins
    val sql2 =
      """SELECT g1.src AS a, COUNT(*) AS n,
        |       SUM(g2.dst) AS s2, MIN(g2.dst) AS mn2, MAX(r.rating) AS mx_o
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |LEFT OUTER JOIN cqcsql_ratedIM r ON g1.src = r.src AND r.rating > 45.0
        |WHERE g1.dst = g2.src
        |GROUP BY g1.src""".stripMargin
    val got2 = CqcSql.solve(spark, sql2).collect().map(_.toSeq).toSet
    val want2 = spark.sql(sql2).collect().map(_.toSeq).toSet
    assert(got2 == want2 && want2.nonEmpty)
  }

  test("outer join + aggregate (the Q13 core) through the door") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("cqcsql_rated2")
    val sql =
      """SELECT g.src AS a, CAST(COUNT(r.rating) AS BIGINT) AS n
        |FROM cqcsql_edges g LEFT OUTER JOIN cqcsql_rated2 r
        |  ON g.dst = r.src AND r.rating > 45.0
        |GROUP BY g.src""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("factorizable aggregate routes to message passing, no enumeration") {
    prep()
    val sql =
      """SELECT g1.src AS src, COUNT(*) AS cnt, SUM(g3.dst) AS sum_dst,
        |       MIN(g3.dst) AS min_dst, MAX(g3.dst + 1) AS max_dst1,
        |       AVG(g3.dst) AS avg_dst
        |FROM cqcsql_edges g1, cqcsql_edges g2, cqcsql_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src
        |GROUP BY g1.src
        |HAVING COUNT(*) > 3""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    // the fast path shows as per-hop message aggregates: the generic
    // enumerate+hashAgg plan has exactly ONE Aggregate node, message
    // passing has one per tree edge plus the final group
    val nAggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAggs > 1, s"expected message-passing aggregates, got $nAggs")
    // SUM over a shared join variable still routes fast (derived-column
    // seeding frees the single-relation restriction)
    val sql2 =
      """SELECT g1.src AS src, SUM(g2.src) AS s
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |GROUP BY g1.src""".stripMargin
    val got2 = CqcSql.solve(spark, sql2).collect().map(_.toSeq).toSet
    val want2 = spark.sql(sql2).collect().map(_.toSeq).toSet
    assert(got2 == want2 && want2.nonEmpty)
    // COUNT(expr) with real nulls rides the sum machinery (null indicator)
    val sqlN =
      """SELECT g1.src AS src, COUNT(NULLIF(g2.dst, 2)) AS n_not2
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |GROUP BY g1.src""".stripMargin
    val gotN = CqcSql.solve(spark, sqlN).collect().map(_.toSeq).toSet
    val wantN = spark.sql(sqlN).collect().map(_.toSeq).toSet
    assert(gotN == wantN && wantN.nonEmpty)
    // a comparison disables the fast path but stays correct
    val sql3 =
      """SELECT g1.src AS src, COUNT(*) AS cnt
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src AND g1.src < g2.dst
        |GROUP BY g1.src""".stripMargin
    val got3 = CqcSql.solve(spark, sql3).collect().map(_.toSeq).toSet
    val want3 = spark.sql(sql3).collect().map(_.toSeq).toSet
    assert(got3 == want3 && want3.nonEmpty)
  }

  test("nested subquery blocks recurse through the door (two-level Q13 shape)") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("cqcsql_rated3")
    // inner block: outer join + aggregate; outer block: histogram GROUP BY
    val sql =
      """SELECT n, CAST(COUNT(*) AS BIGINT) AS dist
        |FROM (SELECT g.src AS src, CAST(COUNT(r.rating) AS BIGINT) AS n
        |      FROM cqcsql_edges g LEFT OUTER JOIN cqcsql_rated3 r
        |        ON g.dst = r.src AND r.rating > 45.0
        |      GROUP BY g.src) counts
        |GROUP BY n""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    // a join-bearing derived table under a WHERE on its output
    val sql2 =
      """SELECT p.a AS a, p.b AS b, e.dst AS c
        |FROM (SELECT g1.src AS a, g2.dst AS b
        |      FROM cqcsql_edges g1, cqcsql_edges g2
        |      WHERE g1.dst = g2.src) p, cqcsql_edges e
        |WHERE p.b = e.src AND p.a < 5""".stripMargin
    val got2 = CqcSql.solve(spark, sql2).collect().map(_.toSeq).toSet
    val want2 = spark.sql(sql2).collect().map(_.toSeq).toSet
    assert(got2 == want2 && want2.nonEmpty)
  }

  test("subquery predicates: scalar / correlated / EXISTS / IN through the door") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("cqcsql_ratedS")
    def check(sql: String): Unit = {
      val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
      val want = spark.sql(sql).collect().map(_.toSeq).toSet
      assert(got == want && want.nonEmpty, sql)
    }
    // uncorrelated scalar subquery inside a 2-relation CQC body
    check("""SELECT g1.src AS a, g2.dst AS c FROM cqcsql_edges g1, cqcsql_edges g2
            |WHERE g1.dst = g2.src AND g1.src > (SELECT AVG(src) FROM cqcsql_edges)""".stripMargin)
    // correlated scalar subquery (the q17 shape), single-leaf refs
    check("""SELECT g1.src AS a, g1.dst AS b FROM cqcsql_edges g1, cqcsql_edges g2
            |WHERE g1.dst = g2.src
            |  AND g1.src < (SELECT AVG(r.rating) FROM cqcsql_ratedS r WHERE r.src = g1.src)""".stripMargin)
    // EXISTS and IN (the q4/q18/q22 shapes)
    check("""SELECT g1.src AS a, g2.dst AS c FROM cqcsql_edges g1, cqcsql_edges g2
            |WHERE g1.dst = g2.src
            |  AND EXISTS (SELECT 1 FROM cqcsql_ratedS r WHERE r.src = g1.src AND r.rating > 45)""".stripMargin)
    check("""SELECT g1.src AS a, g2.dst AS c FROM cqcsql_edges g1, cqcsql_edges g2
            |WHERE g1.dst = g2.src
            |  AND g1.src IN (SELECT src FROM cqcsql_ratedS WHERE rating > 45)""".stripMargin)
    // a subquery predicate SPANNING two leaves falls back to stock, stays correct
    check("""SELECT g1.src AS a, g2.dst AS c FROM cqcsql_edges g1, cqcsql_edges g2
            |WHERE g1.dst = g2.src
            |  AND g1.src + g2.dst > (SELECT AVG(src) FROM cqcsql_edges)""".stripMargin)
  }

  test("window functions peel off the door; the join beneath is CQC-evaluated") {
    prep()
    // running count + rank over a 2-hop join body
    val sql =
      """SELECT g1.src AS a, g2.dst AS c,
        |       ROW_NUMBER() OVER (PARTITION BY g1.src ORDER BY g2.dst, g1.dst) AS rn,
        |       COUNT(*) OVER (PARTITION BY g1.src) AS n_per_src
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src AND g1.src < 8""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq)
      .groupBy(r => (r.head, r(1))).view.mapValues(_.toSet).toMap
    val want = spark.sql(sql).collect().map(_.toSeq)
      .groupBy(r => (r.head, r(1))).view.mapValues(_.toSet).toMap
    assert(got == want && want.nonEmpty)
    // window over a GROUP BY subtree (aggregate recursed, rank on top)
    val sql2 =
      """SELECT src, n, RANK() OVER (ORDER BY n DESC, src ASC) AS rnk
        |FROM (SELECT g1.src AS src, COUNT(*) AS n
        |      FROM cqcsql_edges g1, cqcsql_edges g2
        |      WHERE g1.dst = g2.src GROUP BY g1.src) d""".stripMargin
    val got2 = CqcSql.solve(spark, sql2).collect().map(_.toSeq).toSet
    val want2 = spark.sql(sql2).collect().map(_.toSeq).toSet
    assert(got2 == want2 && want2.nonEmpty)
  }

  test("ORDER BY on a non-selected column falls back to stock, stays correct") {
    prep()
    val sql =
      """SELECT g1.src AS a, g2.dst AS c
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |ORDER BY g1.dst ASC, a ASC, c ASC LIMIT 7""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSeq
    val want = spark.sql(sql).collect().map(_.toSeq).toSeq
    assert(got == want && want.nonEmpty)
  }

  test("ranked cyclic SQL: ORDER BY + LIMIT over a triangle body") {
    prep()
    val sql =
      """SELECT g1.src AS a, g2.src AS b, g3.src AS c
        |FROM cqcsql_edges g1, cqcsql_edges g2, cqcsql_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src
        |ORDER BY a ASC, b ASC, c ASC LIMIT 10""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq)
    val want = spark.sql(sql).collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq && want.nonEmpty)
  }

  test("cross-relation disjunction applies at the join, not post-enumeration") {
    prep()
    val sql =
      """SELECT g1.src AS a, g1.dst AS b, g2.dst AS c
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |  AND ((g1.src < 5 AND g2.dst > 90) OR (g1.src > 95 AND g2.dst < 10))""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("single-relation predicates are pushed into their leaf") {
    prep()
    val sql =
      """SELECT g1.src AS a, g2.dst AS b
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src AND g1.src < 50 AND g2.dst >= 10""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("computed comparisons are lifted to Cmp and annotation-pruned") {
    prep()
    // each side is arithmetic over ONE relation's attrs (the reference
    // q2/q10 sum-comparison shape) — the door must turn it into a Cmp so
    // Yannakakis prunes with a per-join-key bound BEFORE enumeration.
    // Annotation is a reduced-route feature: tiny spec inputs would take
    // the direct route (where the comparison applies at its earliest
    // enumeration binding instead), so pin the scale path explicitly.
    val sql =
      """SELECT g1.src AS a, g1.dst AS b, g2.dst AS c
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src AND g1.src + g1.dst < g2.dst * 2""".stripMargin
    spark.conf.set("spark.graft.direct.threshold", "0")
    try {
      val df = CqcSql.solve(spark, sql)
      val got = df.collect().map(_.toSeq).toSet
      val want = spark.sql(sql).collect().map(_.toSeq).toSet
      assert(got == want && want.nonEmpty)
      // the bound-annotation join must exist in the plan (not a residual)
      assert(df.queryExecution.analyzed.toString.contains("__bound0"),
        "computed comparison should produce a bound-annotation carrier")
    } finally spark.conf.unset("spark.graft.direct.threshold")
  }

  test("a comparison side spanning two relations stays a residual filter") {
    prep()
    val sql =
      """SELECT g1.src AS a, g1.dst AS b, g2.dst AS c
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src AND g1.src + g2.dst < g1.dst + 3""".stripMargin
    val df = CqcSql.solve(spark, sql)
    assert(df.collect().map(_.toSeq).toSet == spark.sql(sql).collect().map(_.toSeq).toSet)
    assert(!df.queryExecution.analyzed.toString.contains("__bound0"))
  }

  test("same-relation equality is applied as a leaf filter, not dropped") {
    prep()
    val sql =
      """SELECT g1.src AS a, g2.dst AS b
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.src = g1.dst AND g1.dst = g2.src""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want)
    // the predicate must actually bite: without it the result is larger
    val without = spark.sql(sql.replace("g1.src = g1.dst AND ", ""))
      .collect().map(_.toSeq).toSet
    assert(want.size < without.size)
  }

  test("transitive equalities collapsing two attrs of one leaf are filtered") {
    prep()
    // g1.src = g2.src AND g2.src = g1.dst implies g1.src = g1.dst
    val sql =
      """SELECT g1.src AS a, g2.dst AS b
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.src = g2.src AND g2.src = g1.dst""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("GROUP BY aggregation over the CQC join matches stock Spark") {
    prep()
    val sql =
      """SELECT g1.src AS a, COUNT(*) AS n, SUM(g2.dst) AS s
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src AND g1.src < 40
        |GROUP BY g1.src""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("HAVING over a selected aggregate") {
    prep()
    val sql =
      """SELECT g1.src AS a, COUNT(*) AS n
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |GROUP BY g1.src
        |HAVING COUNT(*) > 30""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("HAVING over a NON-selected aggregate (analyzer's helper Project)") {
    prep()
    val sql =
      """SELECT g1.src AS a, SUM(g2.dst) AS s
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |GROUP BY g1.src
        |HAVING COUNT(*) > 30""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("ORDER BY + LIMIT plans as a ranked top-k (TakeOrderedAndProject)") {
    prep()
    val sql =
      """SELECT g1.src AS a, g1.dst AS b, g2.dst AS c
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |ORDER BY c DESC, a ASC, b ASC LIMIT 7""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSeq
    val want = spark.sql(sql).collect().map(_.toSeq).toSeq
    assert(got == want && want.size == 7) // exact order: total tie-break
    assert(df.queryExecution.executedPlan.toString().contains("TakeOrderedAndProject"))
  }

  test("ORDER BY + LIMIT over a GROUP BY aggregate") {
    prep()
    val sql =
      """SELECT g1.src AS a, COUNT(*) AS n
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |GROUP BY g1.src
        |ORDER BY n DESC, a ASC LIMIT 5""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSeq
    val want = spark.sql(sql).collect().map(_.toSeq).toSeq
    assert(got == want && want.nonEmpty)
  }

  test("SELECT DISTINCT dedups the CQC result") {
    prep()
    val sql =
      """SELECT DISTINCT g1.src AS a, g2.dst AS c
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq)
    val want = spark.sql(sql).collect().map(_.toSeq)
    assert(got.toSet == want.toSet && got.length == want.length && want.nonEmpty)
  }

  test("cyclic SQL routes through GHD") {
    prep()
    val sql =
      """SELECT g1.src AS a, g2.src AS b, g3.src AS c
        |FROM cqcsql_edges g1, cqcsql_edges g2, cqcsql_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src AND g3.dst = g1.src""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("bounded window frame (n PRECEDING) survives the door") {
    // 'ROWS BETWEEN 2 PRECEDING AND CURRENT ROW' reaches the analyzed plan
    // as UnaryMinus(Literal(2)) — before the foldable-bound fix the frame
    // was silently dropped and the sum ran UNBOUNDED PRECEDING
    Tables.orders(spark, sfDir).createOrReplaceTempView("wfo_orders")
    Tables.customer(spark, sfDir).createOrReplaceTempView("wfo_customer")
    val sql =
      """SELECT o.o_custkey AS ck, o.o_orderkey AS ok,
        |       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(14,2)))
        |         OVER (PARTITION BY o.o_custkey ORDER BY o.o_orderdate, o.o_orderkey
        |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS s3
        |FROM wfo_orders o, wfo_customer c
        |WHERE o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("non-reproducible window frame falls back to stock, never a wrong frame") {
    // RANGE with an interval bound has no Column-DSL equivalent: the door
    // must return the stock result, not silently run a default frame
    Tables.events(spark, sfDir).createOrReplaceTempView("wfr_events")
    Tables.customer(spark, sfDir).createOrReplaceTempView("wfr_customer")
    val sql =
      """SELECT e.user_id AS uid, e.event_id AS eid,
        |       COUNT(*) OVER (PARTITION BY e.user_id ORDER BY e.ts
        |         RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS n_day
        |FROM wfr_events e, wfr_customer c
        |WHERE e.user_id = c.c_custkey AND c.c_mktsegment = 'BUILDING'""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("AVG over a NULLABLE column divides by non-null count") {
    prep()
    // SQL AVG divides by the NON-NULL count, not the join-row count: the
    // factorized path must carry a null-indicator sum as the denominator
    spark.sql(
      """SELECT src AS k, CASE WHEN dst % 3 = 0 THEN NULL ELSE dst END AS v
        |FROM cqcsql_edges""".stripMargin).createOrReplaceTempView("avgn_t")
    val sql =
      """SELECT g.src AS src, AVG(t.v) AS avg_v
        |FROM cqcsql_edges g, avgn_t t
        |WHERE g.dst = t.k
        |GROUP BY g.src""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("COUNT of a null literal is 0, not the join-row count") {
    prep()
    val sql =
      """SELECT g1.src AS src, COUNT(NULL) AS n, COUNT(*) AS total
        |FROM cqcsql_edges g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |GROUP BY g1.src""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    assert(got.forall(r => r(1) == 0L)) // COUNT(NULL) = 0 per group
  }

  test("script door: CREATE TABLE DDL then a SELECT through the CQC pipeline") {
    // a reference-style session script: register a parquet-backed table
    // via DDL, then query it through the door in the same script
    spark.sql("DROP TABLE IF EXISTS ddl_lineitem")
    val df = CqcSql.script(spark,
      s"""CREATE TABLE ddl_lineitem USING parquet LOCATION '$sfDir/lineitem.parquet';
         |CREATE OR REPLACE TEMPORARY VIEW ddl_edges AS
         |  SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst
         |  FROM ddl_lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0;
         |SELECT g1.src AS a, g2.dst AS c, COUNT(*) AS n
         |FROM ddl_edges g1, ddl_edges g2
         |WHERE g1.dst = g2.src
         |GROUP BY g1.src, g2.dst""".stripMargin)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(
      """SELECT g1.src AS a, g2.dst AS c, COUNT(*) AS n
        |FROM ddl_edges g1, ddl_edges g2
        |WHERE g1.dst = g2.src
        |GROUP BY g1.src, g2.dst""".stripMargin).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS ddl_lineitem")
  }

  test("decimal SUM under a peeled outer join (eager aggregation), stock-typed") {
    prep()
    spark.sql(
      """SELECT src AS k, CAST(dst AS DECIMAL(14,2)) AS dv
        |FROM cqcsql_edges""".stripMargin).createOrReplaceTempView("decout_t")
    val sql =
      """SELECT g.src AS a, COUNT(*) AS n, SUM(t.dv) AS s
        |FROM cqcsql_edges g LEFT OUTER JOIN decout_t t ON g.dst = t.k
        |GROUP BY g.src""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    assert(df.schema("s").dataType == spark.sql(sql).schema("s").dataType)
    val nAggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAggs > 1, s"expected pre-join aggregates, got $nAggs")
  }

  test("ranked top-k join from SQL text routes to the pruned rank chain") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("rjoin_rated")
    val sql =
      """SELECT r.src AS node1, r.dst AS node2, s.dst AS node3,
        |       r.rating + s.rating AS total_rank
        |FROM rjoin_rated r, rjoin_rated s
        |WHERE r.dst = s.src
        |ORDER BY total_rank DESC, node1 ASC, node2 ASC, node3 ASC LIMIT 10""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSeq
    val want = spark.sql(sql).collect().map(_.toSeq).toSeq
    assert(got == want && want.size == 10)
    // the rank-chain prune shows as a Window (rank over cum) in the plan;
    // the plain door path has no window
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isDefined, "expected the per-key rank prune window")
    graft.CacheRegistry.unpersistAll()
  }

  test("cross-relation product SUM routes to the sum-of-products semiring") {
    prep()
    // Σ x_A·y_B factorizes over the join tree (reference q2 sum shape):
    // the door must seed per-relation factors and message-pass, never
    // enumerate — mixed here with COUNT(*) and a plain SUM, all weight
    // columns of the same message pass
    val sql =
      """SELECT g1.src AS k, COUNT(*) AS n,
        |       SUM(g1.dst * g3.dst) AS sp,
        |       SUM(g1.dst * g2.dst * g3.dst) AS sp3,
        |       SUM(g3.src) AS s1
        |FROM cqcsql_edges g1, cqcsql_edges g2, cqcsql_edges g3
        |WHERE g1.dst = g2.src AND g2.dst = g3.src
        |GROUP BY g1.src""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    val nAggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAggs > 1, s"expected message-passing aggregates, got $nAggs")
  }

  test("product SUM + second aggregate keeps the NULL-key group (null-safe merge)") {
    prep()
    // a nullable GROUP BY key must survive the product SUM next to a
    // second aggregate — SQL grouping treats NULL as a group
    spark.sql(
      """SELECT src, dst,
        |       CASE WHEN src % 5 = 0 THEN NULL ELSE src % 3 END AS gk
        |FROM cqcsql_edges""".stripMargin).createOrReplaceTempView("nullg_t")
    val sql =
      """SELECT g1.gk AS k, COUNT(*) AS n, SUM(g1.dst * g2.dst) AS sp
        |FROM nullg_t g1, cqcsql_edges g2
        |WHERE g1.dst = g2.src
        |GROUP BY g1.gk""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(want.exists(_.head == null), "oracle must contain a NULL-key group")
    assert(got == want)
  }

  test("decimal SUM rides the factorized fast path, exact and stock-typed") {
    prep()
    spark.sql(
      """SELECT src AS k, CAST(dst AS DECIMAL(14,2)) AS dv
        |FROM cqcsql_edges""".stripMargin).createOrReplaceTempView("decsum_t")
    val sql =
      """SELECT g1.src AS src, COUNT(*) AS n, SUM(t.dv) AS s
        |FROM cqcsql_edges g1, cqcsql_edges g2, decsum_t t
        |WHERE g1.dst = g2.src AND g2.dst = t.k
        |GROUP BY g1.src""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    // schema must match stock exactly (decimal(24,2), not the widened
    // semiring intermediate)
    assert(df.schema("s").dataType == spark.sql(sql).schema("s").dataType)
    // and it must have taken the message-passing path, not enumeration
    val nAggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAggs > 1, s"expected message-passing aggregates, got $nAggs")
  }

  test("decimal SUM with scale > 6 stays on the stock path (no scale-shrinking semiring)") {
    prep()
    // allowPrecisionLoss can shrink scales > 6 under the 38-precision cap
    // when the semiring cross-multiplies — those SUMs must not reroute
    spark.sql(
      """SELECT src AS k, CAST(dst AS DECIMAL(20,8)) AS dv
        |FROM cqcsql_edges""".stripMargin).createOrReplaceTempView("decs8_t")
    val sql =
      """SELECT g1.src AS src, SUM(t.dv) AS s
        |FROM cqcsql_edges g1, cqcsql_edges g2, decs8_t t
        |WHERE g1.dst = g2.src AND g2.dst = t.k
        |GROUP BY g1.src""".stripMargin
    val df = CqcSql.solve(spark, sql)
    val got = df.collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
    assert(df.schema("s").dataType == spark.sql(sql).schema("s").dataType)
  }

  test("SUM over a double column matches stock bit-for-bit (no semiring reroute)") {
    prep()
    Tables.ratedEdges(spark, sfDir).createOrReplaceTempView("sumd_rated")
    // double addition is non-associative: the door must leave double SUMs
    // on the stock-ordered generic path, not the factorized semiring
    val sql =
      """SELECT g.src AS src, SUM(r.rating) AS sum_w
        |FROM cqcsql_edges g, sumd_rated r
        |WHERE g.dst = r.src
        |GROUP BY g.src""".stripMargin
    val got = CqcSql.solve(spark, sql).collect().map(_.toSeq).toSet
    val want = spark.sql(sql).collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }
}
