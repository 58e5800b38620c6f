package graft.wcoj

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Triangle queries over an edge list `edges(src, dst)` (reference:
 * sqlplus-core evaluates cyclic queries as GHD bags run by Leapfrog Trie
 * Join with HyperCube partitioning, sqlplus-lib
 * wcoj/LeapfrogTrieJoinIterator.scala). The count runs on [[Lftj]], the
 * one worst-case-optimal evaluator; [[triangles]] is the plain
 * binary-join enumeration that specs use as the reference.
 */
object Wcoj {

  /**
   * Count closed directed 3-walks a->b->c->a in `edges(src, dst)` — the
   * semantics of the triple self-join `g1 ⋈ g2 ⋈ g3` over DISTINCT edges:
   * each distinct-vertex triangle appears once per rotation, and
   * self-loop and mutual-pair walks count too, because LFTJ binds equal
   * values to distinct variables. Duplicate edges count once and rows
   * with a NULL end are dropped ([[Lftj.enumerate]]). Returns a single-row
   * DataFrame with the bigint column `triangles`.
   */
  def triangleCount(edges: DataFrame): DataFrame =
    Lftj.enumerate(edges.select(col("src"), col("dst")),
        Seq(("a", "b"), ("b", "c"), ("c", "a")), Seq("a", "b", "c"))
      .agg(count(lit(1)).as("triangles"))

  /**
   * Enumerate triangles with their vertices (a,b,c).
   */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val g1 = e.select(col("src").as("a"), col("dst").as("b"))
    val g2 = e.select(col("src").as("b"), col("dst").as("c"))
    val g3 = e.select(col("src").as("c"), col("dst").as("a"))
    g1.join(g2, Seq("b"), "inner").join(g3, Seq("c", "a"), "inner")
      .select(col("a"), col("b"), col("c"))
  }
}
