package graft.sql

import graft.{CacheRegistry, SparkEntry, SparkSpecBase}

/** Route census: every registered entry that builds through the SQL door
  * takes the route pinned here, read from the record its frame carries
  * ([[CqcSql.recordOf]]). An entry that starts or stops going through the
  * door, or moves to another route, fails the census. Builds every entry
  * at sf0.001 (plans only; eager operator jobs run as in Verify). */
class RouteCensusSpec extends SparkSpecBase {

  private val routes: Map[String, String] = Map(
    "sql_cqc" -> "enumeration",
    "sql_cqc_agg" -> "factorized aggregate",
    "sql_cqc_agg_fast" -> "factorized aggregate",
    "sql_cqc_anyk" -> "ranked chain",
    "sql_cqc_cte" -> "factorized aggregate",
    "sql_cqc_cyclic" -> "enumeration",
    "sql_cqc_cyclic_dense" -> "factorized aggregate",
    "sql_cqc_disj" -> "enumeration",
    "sql_cqc_eqexpr" -> "factorized aggregate",
    "sql_cqc_expr" -> "enumeration",
    "sql_cqc_gb_computed" -> "factorized aggregate",
    "sql_cqc_nullsafe" -> "factorized aggregate",
    "sql_cqc_outer" -> "outer factorized aggregate",
    "sql_cqc_outer_minmax" -> "outer factorized aggregate",
    "sql_cqc_prod_fast" -> "factorized aggregate",
    "sql_cqc_q11" -> "factorized aggregate",
    "sql_cqc_q13" -> "factorized aggregate",
    "sql_cqc_q15" -> "enumeration",
    "sql_cqc_q2" -> "enumeration",
    "sql_cqc_q20" -> "enumeration",
    "sql_cqc_q21" -> "factorized aggregate",
    "sql_cqc_q8" -> "enumeration",
    "sql_cqc_q9" -> "enumeration",
    "sql_cqc_qualify" -> "enumeration",
    "sql_cqc_rankjoin" -> "ranked chain",
    "sql_cqc_rollup" -> "grouping-sets rollup",
    "sql_cqc_semi" -> "enumeration",
    "sql_cqc_subq" -> "enumeration",
    "sql_cqc_subq_corr" -> "enumeration",
    "sql_cqc_subq_span" -> "enumeration",
    "sql_cqc_topk" -> "enumeration",
    "sql_cqc_union" -> "set operation",
    "sql_cqc_window" -> "enumeration",
    "sql_cqc_window_fast" -> "enumeration",
    "sql_lateral" -> "enumeration",
    "sql_pivot" -> "enumeration",
    "sql_recursive" -> "factorized aggregate",
    "sql_ref_q10" -> "enumeration",
    "sql_ref_q11" -> "enumeration",
    "sql_ref_q2" -> "enumeration",
    "sql_ref_q3" -> "enumeration",
    "sql_ref_q4" -> "enumeration",
    "sql_ref_q5" -> "enumeration",
    "sql_ref_q6" -> "enumeration",
    "sql_ref_q7" -> "enumeration",
    "sql_ref_q8" -> "enumeration",
    "sql_ref_q9" -> "enumeration",
    "sql_unpivot" -> "enumeration"
  )

  test("every door entry takes its pinned route") {
    val seen = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, build) =>
      val route = CqcSql.recordOf(build(spark, sfDir)).map(name -> _.route)
      CacheRegistry.unpersistAll()
      route
    }.toMap
    val moved = (seen.keySet ++ routes.keySet).toSeq.sorted
      .filter(n => seen.get(n) != routes.get(n))
      .map(n => s"$n: pinned ${routes.getOrElse(n, "-")}, routed ${seen.getOrElse(n, "-")}")
    assert(moved.isEmpty, moved.mkString("\n"))
  }
}
