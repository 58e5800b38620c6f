package graft.wcoj

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One hypercube-replicated tuple: cell id, pattern index, values in trie
  * order (public: Catalyst codegen instantiates it). */
case class CubeRow(pid: Int, rel: Int, k1: Long, k2: Long)

/**
 * Leapfrog Trie Join over hypercube-partitioned binary relations — the
 * worst-case-optimal join path for cyclic graph patterns (reference:
 * sqlplus-lib wcoj/LeapfrogTrieJoinIterator.scala with the HyperCube
 * shuffle in helper/ImplicitConversions.scala:338-397).
 *
 * Spark-first realization of the custom-operator escape hatch: the one
 * place the brief's preference order reaches (d) `mapPartitions`, because
 * a multiway intersection genuinely cannot be expressed as binary joins
 * without losing the AGM bound. Each edge tuple is replicated to the
 * hypercube cells consistent with its two bound coordinates
 * (`side^(n-2)` cells for n variables); each cell runs classic LFTJ over
 * sorted in-memory tries. Cell size is |E| * side^(n-2) / side^n =
 * |E|/side² expected — sized to fit an executor, independent of skew in
 * the join RESULT. Every output binding determines all n coordinates, so
 * it is produced by exactly one cell: no cross-cell dedup needed.
 *
 * The only evaluator of cyclic patterns in graft: [[Wcoj.triangleCount]],
 * the [[Ghd]] certificate bags and the registered cyclic entries all
 * reach it through [[enumerate]] or [[enumerateMulti]].
 */
object Lftj {

  /** Deterministic coordinate hash (no modulo-alignment artifacts). */
  private def coord(k: Long, side: Int): Int =
    Math.floorMod((k * 0x9E3779B97F4A7C15L) >>> 17, side.toLong).toInt

  /**
   * Shared input validation for both doors ([[enumerate]] and
   * [[enumerateMulti]]). Rejects up front the two shapes that would
   * otherwise SILENTLY lose bindings:
   *  - a self-loop pattern (u, u): only one hypercube coordinate is bound
   *    while replication still enumerates side^(n-2) free cells, so one
   *    dimension is never varied and tuples miss cells (a self-loop EDGE
   *    is fine: distinct variables may bind equal values);
   *  - a varOrder variable covered by no pattern: recurse() would hit an
   *    empty participant set and return 0 rows, masking a caller mistake.
   */
  private[graft] def validate(
      patterns: Seq[(String, String)], varOrder: Seq[String]): Unit = {
    val vars = varOrder.toSet
    require(varOrder.length >= 2, "need at least two variables")
    patterns.foreach { case (u, v) =>
      require(vars.contains(u) && vars.contains(v),
        s"pattern ($u,$v) uses a variable outside varOrder $varOrder")
      require(u != v,
        s"self-loop pattern ($u,$u) unsupported here: pre-filter edges on " +
          "src = dst instead")
    }
    varOrder.foreach { v =>
      require(patterns.exists(p => p._1 == v || p._2 == v),
        s"variable $v is bound by no pattern — the join would be empty/cartesian")
    }
  }

  /** Cost-aware hypercube side (cubeSide = 0 selects this): the smallest
    * side giving (a) at least `defaultParallelism` cells (side^n) so
    * every core owns work, and (b) per-cell tries bounded — expected
    * tuples per cell is |input|/side², so side >= sqrt(|input|/cap)
    * keeps a cell's sorted arrays executor-sized however large the input
    * grows. Input size comes from Catalyst stats (no extra job).
    * Replication is side^(n-2) per tuple, so the smallest admissible
    * side also minimizes shuffle volume — static defaults either
    * over-replicate small inputs or blow cell memory on large ones. */
  private[graft] def autoSide(spark: SparkSession, statBytes: BigInt, n: Int): Int = {
    val cores = spark.sparkContext.defaultParallelism.max(1)
    // ~32 stat-bytes per binary tuple (two longs + row overhead);
    // 2M tuples/cell keeps a cell's sorted tries in the tens of MB
    val tuples = (statBytes / 32).toDouble.max(1.0)
    val forCores = math.ceil(math.pow(cores.toDouble, 1.0 / n)).toInt
    val forMemory = math.ceil(math.sqrt(tuples / 2e6)).toInt
    math.max(2, math.max(forCores, forMemory))
  }

  /**
   * Enumerate all bindings of `varOrder` such that every `patterns(r)`
   * (u, v) — meaning an edge u->v — exists in `edges(src, dst)`.
   * Returns one column per variable, in `varOrder`. Rows with a NULL key
   * are dropped (inner-equi-join semantics: NULL joins nothing), and the
   * bindings are DISTINCT: duplicate edges do not duplicate them.
   */
  def enumerate(
      edges: DataFrame,
      patterns: Seq[(String, String)],
      varOrder: Seq[String],
      cubeSide: Int = 0): DataFrame = {
    validate(patterns, varOrder)
    val n = varOrder.length
    val side = if (cubeSide > 0) cubeSide
      else autoSide(edges.sparkSession, edges.queryExecution.optimizedPlan.stats.sizeInBytes, n)
    val pats = patInfo(patterns, varOrder, side)

    solveCells(replicated(edges, pats, n, side), pats, n, varOrder)
  }

  /** The one input step of both doors: drop rows with a NULL key, then
    * cast the pair to long as columns (x, y). */
  private def longKeys(df: DataFrame): DataFrame = {
    val Array(c1, c2) = df.columns
    df.where(col(c1).isNotNull && col(c2).isNotNull)
      .select(col(c1).cast("long").as("x"), col(c2).cast("long").as("y"))
  }

  /** Hypercube replication: fix the two bound coordinates, enumerate the
    * rest — ONE scan of the edge list feeds every pattern. Exposed
    * package-private so the skew spec can measure realized per-cell
    * loads (the property the |E|/side² sizing claim rests on). */
  private[graft] def replicated(
      edges: DataFrame, pats: Seq[(Int, Int, Int, Boolean, Int)],
      n: Int, side: Int): org.apache.spark.sql.Dataset[CubeRow] = {
    val spark = edges.sparkSession
    import spark.implicits._
    longKeys(edges).as[(Long, Long)].mapPartitions { it =>
      it.flatMap { case (x, y) =>
        pats.iterator.flatMap { case (r, i, j, swapped, nCells) =>
          replicateOne(x, y, r, i, j, swapped, nCells, n, side)
        }
      }
    }
  }

  /** Per-cell replicated-input loads for a pattern query at a given side
    * — the skew diagnostic: `(pid, load)` rows, one per non-empty cell. */
  private[graft] def cellLoads(
      edges: DataFrame, patterns: Seq[(String, String)],
      varOrder: Seq[String], cubeSide: Int): DataFrame = {
    validate(patterns, varOrder)
    val n = varOrder.length
    val pats = patInfo(patterns, varOrder, cubeSide)
    replicated(edges, pats, n, cubeSide)
      .groupBy(col("pid"))
      .agg(count(lit(1)).as("load"))
  }

  /**
   * Multi-relation WCOJ: each pattern (u, v) is bound by ITS OWN binary
   * relation `inputs(r)._1` (columns in (u, v) order) rather than one
   * shared edge list — the general GHD-bag form, where a cyclic bag's
   * member relations carry different leaf filters. Null keys are dropped
   * (inner-equi-join semantics: NULL joins nothing). Output bindings are
   * DISTINCT (set semantics — the certificate contract [[Ghd]] relies
   * on); inputs with duplicate tuples do not produce duplicate bindings.
   */
  def enumerateMulti(
      inputs: Seq[(DataFrame, (String, String))],
      varOrder: Seq[String],
      cubeSide: Int = 0): DataFrame = {
    val patterns = inputs.map(_._2)
    validate(patterns, varOrder)
    val spark = inputs.head._1.sparkSession
    import spark.implicits._
    val n = varOrder.length
    val side = if (cubeSide > 0) cubeSide
      else autoSide(spark,
        inputs.map(_._1.queryExecution.optimizedPlan.stats.sizeInBytes).sum, n)
    val pats = patInfo(patterns, varOrder, side)

    val tagged = inputs.zipWithIndex.map { case ((df, _), r) =>
      longKeys(df).select(lit(r).as("r"), col("x"), col("y"))
    }.reduce(_ unionAll _).as[(Int, Long, Long)]

    val rows = tagged.mapPartitions { it =>
      it.flatMap { case (r, x, y) =>
        val (_, i, j, swapped, nCells) = pats(r)
        replicateOne(x, y, r, i, j, swapped, nCells, n, side)
      }
    }
    solveCells(rows, pats, n, varOrder)
  }

  /** (pattern index, earlier-var position, later-var position, swapped?,
    * number of free cells each tuple replicates to) per pattern. */
  private def patInfo(
      patterns: Seq[(String, String)],
      varOrder: Seq[String],
      side: Int): Seq[(Int, Int, Int, Boolean, Int)] = {
    val varIdx = varOrder.zipWithIndex.toMap
    val n = varOrder.length
    patterns.zipWithIndex.map { case ((u, v), r) =>
      val (iu, iv) = (varIdx(u), varIdx(v))
      val (i, j, swapped) = if (iu < iv) (iu, iv, false) else (iv, iu, true)
      (r, i, j, swapped, math.pow(side, n - 2).toInt)
    }
  }

  /** Replicate one tuple of pattern `r` to every hypercube cell consistent
    * with its two bound coordinates. */
  private def replicateOne(
      x: Long, y: Long, r: Int, i: Int, j: Int, swapped: Boolean,
      nCells: Int, n: Int, side: Int): Iterator[CubeRow] = {
    val (k1, k2) = if (swapped) (y, x) else (x, y)
    val ci = coord(k1, side)
    val cj = coord(k2, side)
    (0 until nCells).iterator.map { code =>
      var pid = 0
      var rem = code
      var d = 0
      var mul = 1
      while (d < n) {
        val c =
          if (d == i) ci
          else if (d == j) cj
          else { val cc = rem % side; rem /= side; cc }
        pid += c * mul
        mul *= side
        d += 1
      }
      CubeRow(pid, r, k1, k2)
    }
  }

  /** Group replicated tuples by cell, leapfrog each cell, project vars. */
  private def solveCells(
      rows: org.apache.spark.sql.Dataset[CubeRow],
      pats: Seq[(Int, Int, Int, Boolean, Int)],
      n: Int,
      varOrder: Seq[String]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val nRels = pats.length
    val patPos = pats.map { case (_, i, j, _, _) => (i, j) }.toArray
    val bindings = rows
      .groupByKey(_.pid)
      .flatMapGroups { (_, it) =>
        // build sorted tries per pattern; dedup so inputs with repeated
        // tuples still yield set-semantics bindings (certificate contract)
        val bufs = Array.fill(nRels)(new ArrayBuffer[(Long, Long)]())
        it.foreach(r => bufs(r.rel) += ((r.k1, r.k2)))
        val tries = bufs.map(b => b.sortInPlace().distinct.toArray)
        if (tries.exists(_.isEmpty)) Iterator.empty
        else lftj(tries, patPos, n)
      }

    bindings.toDF("b").select(
      varOrder.zipWithIndex.map { case (v, i) => col("b").getItem(i).as(v) }: _*)
  }

  /**
   * Classic in-memory LFTJ: for each variable level in order, leapfrog-
   * intersect the sorted candidate ranges of every pattern involving that
   * variable, narrowing ranges as bindings accumulate; run once per
   * hypercube cell by [[solveCells]].
   */
  private def lftj(
      tries: Array[Array[(Long, Long)]],
      pats: Array[(Int, Int)], // (earlier var, later var) per pattern
      n: Int): Iterator[Array[Long]] = {
    // LAZY enumeration: per-cell memory is bounded by the INPUT (the
    // tries + O(depth * nRels) range copies), never the output — a dense
    // pattern streams its rows through the mapGroups iterator instead of
    // buffering them (the earlier ArrayBuffer form OOM'd exactly there).
    val bind = new Array[Long](n)

    // first index in [from, until) of t with t(i)._1 >= key (k1 search)
    def lower1(t: Array[(Long, Long)], from: Int, until: Int, key: Long): Int = {
      var a = from; var b = until
      while (a < b) { val m = (a + b) >>> 1; if (t(m)._1 < key) a = m + 1 else b = m }
      a
    }
    def lower2(t: Array[(Long, Long)], from: Int, until: Int, key: Long): Int = {
      var a = from; var b = until
      while (a < b) { val m = (a + b) >>> 1; if (t(m)._2 < key) a = m + 1 else b = m }
      a
    }
    def valueAt(r: Int, isK1: Boolean, p: Int): Long =
      if (isK1) tries(r)(p)._1 else tries(r)(p)._2

    // patterns whose earlier var is `lv`: candidates are k1 over range;
    // patterns whose later var is `lv`: k1 fixed earlier, candidates k2
    val partsByLevel: Array[Array[(Int, Boolean)]] = Array.tabulate(n) { lv =>
      (tries.indices.filter(r => pats(r)._1 == lv).map(r => (r, true)) ++
        tries.indices.filter(r => pats(r)._2 == lv).map(r => (r, false))).toArray
    }

    // Each level owns ITS OWN [lo, hi) range copies, so a parent's target
    // iterator can advance immediately while the child is still being
    // consumed lazily. `bind` is shared: flatMap sets bind(lv) right
    // before creating the child iterator and the child is fully drained
    // before the next target — the leaf clones it.
    def level(lv: Int, lo: Array[Int], hi: Array[Int]): Iterator[Array[Long]] = {
      if (lv == n) return Iterator.single(bind.clone())
      val parts = partsByLevel(lv)
      if (parts.isEmpty) return Iterator.empty // validate() rejects this up front
      val pos = Array.tabulate(parts.length)(i => lo(parts(i)._1))

      // leapfrog intersection, one (target, narrowed ranges) at a time
      val targets = new Iterator[(Long, Array[Int], Array[Int])] {
        private var done = false
        private var pending: (Long, Array[Int], Array[Int]) = null

        private def seek(): Unit = {
          while (!done && pending == null) {
            // compute the max head; advance everyone to >= it until all equal
            var target = Long.MinValue
            var idx = 0
            while (idx < parts.length && !done) {
              val (r, isK1) = parts(idx)
              if (pos(idx) >= hi(r)) done = true
              else {
                val v = valueAt(r, isK1, pos(idx))
                if (v > target) target = v
              }
              idx += 1
            }
            if (!done) {
              var allEqual = true
              idx = 0
              while (idx < parts.length && !done) {
                val (r, isK1) = parts(idx)
                if (valueAt(r, isK1, pos(idx)) < target) {
                  allEqual = false
                  pos(idx) =
                    if (isK1) lower1(tries(r), pos(idx), hi(r), target)
                    else lower2(tries(r), pos(idx), hi(r), target)
                  if (pos(idx) >= hi(r)) done = true
                }
                idx += 1
              }
              if (!done && allEqual) {
                // child ranges: narrow `first` patterns to k1 == target
                val cLo = lo.clone(); val cHi = hi.clone()
                var pi = 0
                while (pi < parts.length) {
                  val (r, isK1) = parts(pi)
                  if (isK1) {
                    cLo(r) = pos(pi)
                    cHi(r) = lower1(tries(r), pos(pi), hi(r), target + 1)
                  }
                  pi += 1
                }
                pending = (target, cLo, cHi)
                // advance every participant past `target` for the next seek
                pi = 0
                while (pi < parts.length && !done) {
                  val (r, isK1) = parts(pi)
                  pos(pi) =
                    if (isK1) lower1(tries(r), pos(pi), hi(r), target + 1)
                    else lower2(tries(r), pos(pi), hi(r), target + 1)
                  if (pos(pi) >= hi(r)) done = true
                  pi += 1
                }
              }
            }
          }
        }
        def hasNext: Boolean = { if (pending == null) seek(); pending != null }
        def next(): (Long, Array[Int], Array[Int]) = {
          if (!hasNext) throw new NoSuchElementException
          val t = pending; pending = null; t
        }
      }

      targets.flatMap { case (target, cLo, cHi) =>
        bind(lv) = target
        level(lv + 1, cLo, cHi)
      }
    }

    level(0, Array.fill(tries.length)(0), Array.tabulate(tries.length)(r => tries(r).length))
  }
}
