package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextOps.h60Sql

/**
 * Approximate-nearest-neighbor and embedding near-dup operators over an
 * `embedding: array<float>` column.
 *
 * Scale design:
 *  - brute-force top-k is the correctness baseline: the (small) query set
 *    is broadcast against the full collection — one pass, no shuffle of
 *    the big side, intermediates bounded by |Q| x |collection| rows that
 *    immediately collapse through a per-query top-k window.
 *  - the scale path buckets vectors by random-hyperplane LSH signatures
 *    (banded, like MinHash LSH): candidates join on (band, bucket) keys,
 *    never all-pairs; skewed buckets are bounded by the band bit width.
 *
 * All arithmetic is double-precision left-fold (`aggregate` over
 * `zip_with`) which DuckDB's ORDERED `list_reduce(list_transform(...))`
 * reproduces bit-for-bit, so oracles are exact (r12: was `list_sum`,
 * whose unspecified association was only luck-identical — see dotSql). Hyperplane weights are md5-derived —
 * deterministic and identical across engines.
 */
object Ann {

  /** Query-set predicate shared by the ANN ops (every 50th vector). */
  val queryMod = 50
  val topK = 5

  // ------------------------------------------------------- cosine (exact)

  /** Double-precision left-fold dot product of two arrays (declarative
    * form — used where one side is array<double>, e.g. hyperplanes). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine over two array<float> columns — the native fused Catalyst
    * expression ([[graft.functions.CosineSimilarity]]); bit-identical to
    * `dot(a,b)/(norm(a)*norm(b))` but one codegen'd loop per row. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine(a, b)

  /** Sequential left fold (`list_reduce`), NOT `list_sum`: the Spark
    * side folds doubles left-to-right (`aggregate`'s acc, and the fused
    * [[graft.functions.CosineSimilarity]] loop), and `list_sum` does not
    * guarantee that association — an ADC pair whose pre-round cosine
    * straddled a 0.5e-6 boundary hash-diverged exactly once at sf0.001
    * (r12 find). `list_reduce` is the ordered fold, so every cosine
    * mirror is BIT-identical to the Spark fold, not luck-identical;
    * `0 + x1` is exact in IEEE, so the missing explicit init is free.
    * All arrays here are fixed-dim embeddings — never empty. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1]::DOUBLE * p[2]::DOUBLE), (acc, v) -> acc + v)"

  def normSql(a: String): String =
    s"sqrt(list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (acc, v) -> acc + v))"

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}))"

  // -------------------------------------------------- brute-force top-k

  /**
   * Exact cosine top-k: broadcast the query subset against the full
   * collection, rank per query (ties by neighbor id), keep k.
   */
  def bruteForceTopK(emb: DataFrame): DataFrame = {
    val q = emb.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("sim"))
  }

  val bruteForceTopKSql: String = {
    val cos = cosineSql("q.embedding", "e.embedding")
    s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $queryMod = 0)
       |SELECT q.vec_id AS q_id, e.vec_id AS nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q.vec_id
       |                               ORDER BY $cos DESC, e.vec_id) AS BIGINT) AS rnk,
       |       round($cos, 6) AS sim
       |FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ------------------------------------------- hyperplane LSH signatures

  /** Number of hyperplanes for the single-table ANN bucket index
    * (default sized for the test corpus; see [[lshPlanesFor]]). */
  val lshPlanes = 8
  val dim = 64

  /** Plane count sized to the corpus: expected bucket population is
    * N / 2^planes, so planes ≈ log2(N / target) holds bucket size — and
    * therefore per-query candidate cost — CONSTANT as the collection
    * grows. A fixed plane count is the quadratic-candidate trap: bucket
    * size N/2^planes makes the bucket join grow as N².
    *
    * INTEGER arithmetic (smallest p in [4, 62] with target·2^p ≥ n),
    * not `ceil(log2(...))`: the graph oracles mirror this formula in
    * DuckDB as a pure integer CASE chain ([[lshPlanesCaseSql]]), and a
    * libm log evaluated at an exact power-of-two boundary is only
    * faithfully rounded — the two engines could disagree by one plane
    * exactly where it matters (r16; same class as the banned
    * transcendentals in the fixed-point operators). */
  def lshPlanesFor(n: Long, targetBucket: Int = 32): Int = {
    var p = 4
    // past the Long overflow point the shifted threshold goes
    // non-positive; no threshold can catch n there, so p runs to the
    // cap — the same arm the SQL rendering's ELSE 62 takes (r16
    // advice: the overflow is now explicit, not accidental)
    while (p < 62 && { val t = targetBucket.toLong << p; t <= 0 || t < n }) p += 1
    p
  }

  /** [[lshPlanesFor]] rendered as a DuckDB integer CASE chain over a
    * count expression — exact by construction (no log2 on either
    * engine). */
  def lshPlanesCaseSql(nExpr: String, targetBucket: Int = 32): String =
    (4 until 62).map(p => (p, targetBucket.toLong << p))
      .takeWhile(_._2 > 0) // stop at the last non-overflowed threshold —
      // every emitted WHEN is meaningful; larger n falls to ELSE 62,
      // exactly [[lshPlanesFor]]'s overflow arm (r16 advice)
      .map { case (p, t) => s"WHEN $nExpr <= $t THEN $p" }
      .mkString("CASE ", " ", " ELSE 62 END")

  /** Deterministic md5-derived hyperplane weight in [-1, 1], computed
    * driver-side (same md5 → identical to the SQL rendering below). */
  private def weight(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    ((java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2001L) - 1000L) / 1000.0
  }

  private def weightSql(p: String, d: String): String =
    s"((${h60Sql(s"concat($p, ':', $d)")} % 2001) - 1000) / 1000.0"

  /** Hyperplane weight vectors as driver-side constants. */
  def hyperplaneWeights(nPlanes: Int, planeBase: Int): Seq[Array[Double]] =
    (planeBase until planeBase + nPlanes).map(p => Array.tabulate(dim)(d => weight(p, d)))

  /**
   * Bucket id per vector: sign bit of the projection onto each of
   * `nPlanes` hyperplanes (planes offset by `planeBase` select a distinct
   * plane family per band), packed into a long. The planes are
   * CONSTANTS, folded into one literal projection per plane — the whole
   * bucketing is a single map-side pass, no join and no shuffle.
   */
  def buckets(emb: DataFrame, nPlanes: Int, planeBase: Int = 0): DataFrame = {
    val planes = hyperplaneWeights(nPlanes, planeBase)
    val bucket = planes.zipWithIndex.map { case (w, p) =>
      when(dot(typedLit(w.toSeq), col("embedding")) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    emb.select(col("vec_id"), bucket.as("bucket"))
  }

  private def bucketsSql(nPlanes: Int, planeBase: Int): String = {
    // mirror of [[buckets]]: per-plane literal weight lists via the same
    // md5 derivation, summed CASE bits, one scan
    val terms = (0 until nPlanes).map { p =>
      val wvec = s"list_transform(range(0, $dim), d -> ${weightSql((planeBase + p).toString, "d")})"
      s"CASE WHEN ${dotSql(wvec, "e.embedding")} > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("\n         + ")
    s"""SELECT e.vec_id,
       |       CAST($terms AS BIGINT) AS bucket
       |FROM embeddings e""".stripMargin
  }

  // ------------------------------------------------------ LSH-bucketed ANN

  /**
   * LSH-bucketed ANN: queries probe only their own hyperplane bucket, then
   * exact cosine ranks the candidates. The bucket join replaces the
   * all-pairs crossJoin — the 100 TB path.
   */
  def lshTopK(emb: DataFrame): DataFrame = lshTopK(emb, lshPlanes)

  /** Parameterized form — pick `planes` with [[lshPlanesFor]] as the
    * collection grows. */
  def lshTopK(emb: DataFrame, planes: Int): DataFrame = {
    val bk = buckets(emb, planes)
    val side = emb.join(bk, "vec_id")
    val q = side.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket"))
    val scored = side.join(q, Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("sim"))
  }

  val lshTopKSql: String = {
    val cos = cosineSql("q.embedding", "e.embedding")
    s"""WITH bk AS (${bucketsSql(lshPlanes, 0)}),
       |side AS (SELECT e.vec_id, e.embedding, bk.bucket
       |         FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id),
       |q AS (SELECT * FROM side WHERE vec_id % $queryMod = 0)
       |SELECT q.vec_id AS q_id, e.vec_id AS nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q.vec_id
       |                               ORDER BY $cos DESC, e.vec_id) AS BIGINT) AS rnk,
       |       round($cos, 6) AS sim
       |FROM q JOIN side e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ------------------------------------------------- multiprobe LSH ANN

  /**
   * Multiprobe LSH: each query probes its own bucket PLUS every bucket at
   * hamming distance 1 on the plane signature (`planes + 1` probes). A
   * true neighbor lands in a different bucket exactly when some planes
   * split the pair; 1-flip probing recovers every single-plane split —
   * the standard recall lever that does NOT widen buckets (candidate
   * cost is `(planes+1) · N / 2^planes` per query, still constant-bucket
   * scale-safe, vs halving `planes`, which doubles EVERY bucket).
   * Probe buckets are distinct by construction (xor of distinct flips),
   * so no candidate dedup is needed.
   */
  def lshMultiprobeTopK(emb: DataFrame): DataFrame = lshMultiprobeTopK(emb, lshPlanes)

  def lshMultiprobeTopK(emb: DataFrame, planes: Int): DataFrame = {
    val bk = buckets(emb, planes)
    val side = emb.join(bk, "vec_id")
    val q = side.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket"))
    val flips = array((lit(0L) +: (0 until planes).map(p => lit(1L << p))): _*)
    val probes = q.select(col("q_id"), col("q_emb"),
        explode(flips).as("flip"), col("bucket"))
      .select(col("q_id"), col("q_emb"),
        col("bucket").bitwiseXOR(col("flip")).as("bucket"))
    val scored = side.join(probes, Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("sim"))
  }

  val lshMultiprobeTopKSql: String = {
    val cos = cosineSql("q.q_emb", "e.embedding")
    s"""WITH bk AS (${bucketsSql(lshPlanes, 0)}),
       |side AS (SELECT e.vec_id, e.embedding, bk.bucket
       |         FROM embeddings e JOIN bk ON e.vec_id = bk.vec_id),
       |q0 AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket
       |       FROM side WHERE vec_id % $queryMod = 0),
       |q AS (
       |  SELECT q_id, q_emb,
       |         xor(bucket, CASE WHEN f = 0 THEN 0 ELSE 1 << (f - 1) END) AS bucket
       |  FROM q0, (SELECT unnest(range(0, ${lshPlanes + 1})) AS f)
       |)
       |SELECT q.q_id AS q_id, e.vec_id AS nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q.q_id
       |                               ORDER BY $cos DESC, e.vec_id) AS BIGINT) AS rnk,
       |       round($cos, 6) AS sim
       |FROM q JOIN side e ON e.bucket = q.bucket AND e.vec_id <> q.q_id
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ------------------------------------------- k-NN graph (NN-descent)

  /** NN-descent parameters (build constants — the oracle regenerates the
    * identical rounds). Fewer init planes than the serving LSH: the
    * GRAPH build wants populated buckets for seed diversity, the probe
    * path wants small ones; [[lshPlanesFor]] scales both with N.
    * SEVERAL independent bands are load-bearing, not a recall tweak: a
    * single band's top-k graph is transitively closed inside its own
    * bucket, so neighbor-of-neighbor expansion can NEVER escape it and
    * NN-descent stalls at the seed recall (measured: 1 band froze at
    * 0.16 across rounds; 3 bands climb 0.42 → 0.52 → 0.56). Cross-band
    * edges are the deterministic stand-in for the paper's random init.
    *
    * The plane count is NOT a constant (r16 advice fix): every graph
    * entry point auto-sizes with [[lshPlanesFor]] (floor 4) and the
    * oracles recompute the same count from `count(*)` via
    * [[lshPlanesCaseSql]] — a fixed plane count made the seed self-join
    * quadratic in N, contradicting the scale claim. */
  val knnBands = 3
  val knnRounds = 2

  /** The graph tier's shared (vec_id, embedding) projection: reuses the
    * caller's frame when it is already exactly that projection AND
    * already cached — [[graphSearch]] chains three operators over one
    * collection, and re-projecting would cache the vectors three times
    * over (r16 review fix). */
  private def epOf(emb: DataFrame): DataFrame =
    if (emb.columns.toSeq == Seq("vec_id", "embedding") &&
        emb.storageLevel != org.apache.spark.storage.StorageLevel.NONE) emb
    else graft.CacheRegistry.persistTracked(
      emb.select(col("vec_id"), col("embedding")))

  /** Per-vertex top-k re-rank shared by the build ([[knnGraph]]) and the
    * append ([[knnGraphAppend]]) — ONE definition of the dedup/score/
    * rank contract (vec_id ≠ nbr_id, DISTINCT, cosine, (cos desc, id
    * asc) window, keep k), mirrored on the SQL side by [[graphTopkSql]]
    * (r16 review fix: the append had re-implemented it verbatim). */
  private def graphTopkOf(emb: DataFrame, k: Int)(cands: DataFrame): DataFrame = {
    val d = cands.where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id")).distinct()
    val scored = d
      .join(emb.select(col("vec_id"), col("embedding").as("__ea")), Seq("vec_id"))
      .join(emb.select(col("vec_id").as("nbr_id"), col("embedding").as("__eb")),
        Seq("nbr_id"))
      .select(col("vec_id"), col("nbr_id"), cosine(col("__ea"), col("__eb")).as("cos"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /**
   * k-NN GRAPH via bounded-round NN-DESCENT (Dong et al., WWW '11) — the
   * graph-index ANN family (HNSW/NSG's construction primitive) the
   * quantization matrix (IVF/PQ/SQ8) doesn't cover. Deterministic
   * restatement for engine-exactness:
   *
   *  - INIT: each vector's seed candidates are its LSH bucket mates
   *    ([[buckets]] — map-side, no all-pairs); top-k by (cosine desc,
   *    id) forms graph G₀.
   *  - ROUND: U = G ∪ Gᵀ (the undirected neighborhood — reverse edges
   *    are NN-descent's key trick), candidates = U ∪ (U ∘ U)
   *    (neighbor-of-neighbor join), re-rank, keep top-k. Candidate
   *    volume per vertex is ≤ (2k)² — bounded by construction, never
   *    quadratic in N; every step is an equi-join or a bounded window.
   *
   * Rounds are FIXED (not converge-tested): determinism for the oracle,
   * and NN-descent's recall gain is front-loaded (2 rounds ≈ the knee).
   */
  def knnGraph(emb: DataFrame, planes: Int = 0, rounds: Int = knnRounds,
               k: Int = topK): DataFrame = {
    val e = epOf(emb)
    // planes <= 0 auto-sizes the seed bands with the corpus: expected
    // bucket population is N / 2^planes, so [[lshPlanesFor]] (target 32)
    // keeps the per-band self-join LINEAR in N — a fixed plane count is
    // the quadratic-candidate trap at collection scale. The oracles
    // recompute the identical count ([[lshPlanesCaseSql]]); the count()
    // here rides the persisted projection.
    val nPlanes = if (planes > 0) planes else lshPlanesFor(e.count(), 32)
    // dedup BEFORE ranking: the union routes propose the same edge
    // repeatedly, and row_number over duplicates would emit them
    // (mirrors the oracle's SELECT DISTINCT literally) — graphTopkOf
    def topkOf(cands: DataFrame): DataFrame = graphTopkOf(e, k)(cands)
    val seeds = (0 until knnBands).map { band =>
      // bucket the PERSISTED projection — three bands would otherwise
      // rescan the base relation once each
      val bk = buckets(e, nPlanes, planeBase = band * nPlanes)
      bk.as("l").join(bk.as("r"), col("l.bucket") === col("r.bucket"))
        .select(col("l.vec_id").as("vec_id"), col("r.vec_id").as("nbr_id"))
    }.reduce(_ unionByName _)
    // each round's graph is localCheckpoint'ed, NOT just persisted: a
    // persist caches DATA but the logical plan keeps the whole build
    // lineage, and every round references its predecessor 4× (u twice,
    // nn twice) — downstream actions then re-ANALYZE the full tree per
    // round (the dedup_cluster iteration class; measured as multi-second
    // driver stalls between sub-second jobs before truncation)
    var g = topkOf(seeds).transform(graft.Checkpoints.truncate(_))
    for (_ <- 1 to rounds) {
      val u = g.select(col("vec_id"), col("nbr_id"))
        .unionByName(g.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
      val nn = u.as("a").join(u.as("b"), col("a.nbr_id") === col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("b.nbr_id").as("nbr_id"))
      g = topkOf(u.unionByName(nn)).transform(graft.Checkpoints.truncate(_))
    }
    g.select(col("vec_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
      round(col("cos"), 6).as("sim"))
  }

  /** `recall_ok` threshold (hits within the true top-k per query) shared
    * by the Spark companion and its SQL rendering — ONE constant so the
    * two gates can never drift apart (r16 advice fix; was a `2` literal
    * in each). */
  val recallGate = 2

  /** Attach the exact-top-k companion to an approximate neighbor frame
    * `(q_id, nbr_id, rnk, sim)` over the query subset: per edge a `hit`
    * flag (neighbor is in the true top-k), per query `n_hit` and a
    * `recall_ok` gate — the sketch entries' measured-accuracy contract.
    * The exact side is brute force over the query subset only (N/|q| of
    * the all-pairs cost), broadcast against the collection. */
  private def withExactCompanion(approx: DataFrame, emb: DataFrame): DataFrame = {
    val q = emb.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val we = Window.partitionBy("q_id").orderBy(col("__c").desc, col("e_nbr").asc)
    val ex = emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("e_nbr"),
        cosine(col("q_emb"), col("embedding")).as("__c"))
      .withColumn("__r", row_number().over(we)).where(col("__r") <= topK)
      .select(col("q_id"), col("e_nbr"))
    val wq = Window.partitionBy("q_id")
    approx.join(ex, approx("q_id") === ex("q_id") && col("nbr_id") === col("e_nbr"), "left")
      .select(approx("q_id"), col("nbr_id"), col("rnk"), col("sim"),
        col("e_nbr").isNotNull.as("hit"))
      .withColumn("n_hit", sum(when(col("hit"), 1L).otherwise(0L)).over(wq))
      .withColumn("recall_ok", col("n_hit") >= recallGate)
  }

  /** `ann_knngraph` entry: the NN-descent graph restricted to the query
    * subset, with the exact companion; the graph itself is built over
    * the FULL collection. Planes AUTO-SIZE with the corpus
    * ([[lshPlanesFor]]; the oracle recomputes the identical count via
    * [[lshPlanesCaseSql]]) — the r16 advice fix for the fixed-plane
    * quadratic-seed trap. */
  def knnGraphChecked(emb: DataFrame): DataFrame =
    graphCheckedFrom(knnGraph(emb), emb)

  // -------------------------------------------- graph-search serving

  /** Beam width and step count for [[graphSearch]] (build constants —
    * the oracle regenerates the identical walk). */
  val searchBeam = 8
  val searchSteps = 3

  /**
   * GREEDY BEAM SEARCH over the NN-descent graph — the HNSW layer-0
   * serving pattern, completing the graph tier: build once
   * ([[knnGraph]]), then answer queries by walking the graph instead of
   * scanning the collection. Deterministic restatement: each query's
   * beam SEEDS from its own LSH bucket mates across the graph's bands
   * plus one global fixed entry (the smallest vec_id) — the LSH-seeded
   * entry that replaces HNSW's hierarchy (a single fixed entry measured
   * 0.7/5 mean hits on this data: three greedy steps cannot cross a
   * weakly-clustered space, which is exactly why HNSW has upper
   * layers). Each step scores beam ∪ graph-neighbors-of-beam
   * (UNDIRECTED — reverse edges double the escape routes) against the
   * query and keeps the best [[searchBeam]]; after [[searchSteps]]
   * steps the answer is the top-k of EVERYTHING VISITED. Per-query cost
   * is seeds + steps × beam × degree — independent of N given the graph
   * and [[lshPlanesFor]]-bounded buckets; every step is one equi-join +
   * a bounded rank.
   */
  def graphSearch(emb: DataFrame, k: Int = topK): DataFrame = {
    // ONE persisted projection serves the graph build, the per-step
    // scoring, the query subset, the entry aggregate AND the band-bucket
    // passes (epOf reuse — knnGraph and graphSearchOver both recognize
    // the already-persisted frame instead of re-caching it; r16 review
    // fix for the triple cache)
    val ep = epOf(emb)
    // planes auto-size with the corpus (r16 advice fix) — the SAME count
    // knnGraph's own auto path computes, so the walked graph and the
    // seed buckets can never use different band families
    val planes = lshPlanesFor(ep.count(), 32)
    graphSearchOver(knnGraph(ep, planes = planes), ep, planes, k)
  }

  /** The beam walk standing alone over an ALREADY-BUILT graph `g`
    * (`vec_id, nbr_id, …`) and vector collection `ep` — the serving half
    * of the graph tier's deployment split ([[GraphIndex]]). `planes`
    * must be the band width the graph was built with (persisted in the
    * index manifest) so the per-query seed buckets match the build's. */
  def graphSearchOver(g: DataFrame, ep0: DataFrame, planes: Int,
                      k: Int = topK): DataFrame =
    graphSearchOverWithVisited(g, ep0, planes, k)._1

  /** [[graphSearchOver]] plus the per-query DISTINCT scored-candidate
    * counts — the search's true cost unit, exposed so the hierarchical
    * serve's candidate-count drop is assertable (HnswSpec). */
  /** ONE definition of the beam-walk machinery shared by the flat and
    * hierarchical serves (r17 review find — the tie-break order, rnk
    * cast, 6dp rounding, self-exclusion and n_scored aggregation define
    * the serve contract the hash-verified oracles pin; duplicating them
    * invites silent drift). Plan-hygiene notes, once for both callers:
    * the undirected closure uses disjoint column names (src, dst)
    * because the beam's lineage contains the und frame after step 1 and
    * shared names trip the self-join checker; und and every evolving
    * beam are localCheckpoint'ed, NOT just persisted — each step's plan
    * embeds its predecessor several times, and an un-truncated loop
    * makes Catalyst re-analyze the whole graph-build lineage per action
    * (the documented dedup_cluster iteration class; bit an OOM at
    * step 3 before truncation). */
  private final class GraphWalk(ep0: DataFrame) {
    val ep: DataFrame = epOf(ep0)
    private val e = ep.select(col("vec_id").as("cand"), col("embedding").as("__ce"))
    val q: DataFrame = ep.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // (q_id, cand, cos) for EVERY candidate any step scored, each frame
    // already materialized (localCheckpoint in scoreNoted) — cosine is a
    // pure function of (q_emb, __ce), so a pair re-scored by a later
    // step carries bit-identical cos and the union's DISTINCT is exactly
    // the distinct visited-pair set
    private var scoredAcc: DataFrame = null

    private def noteScored(sc: DataFrame): Unit = {
      val slim = sc.select(col("q_id"), col("cand"), col("cos"))
      scoredAcc = if (scoredAcc == null) slim else scoredAcc.unionByName(slim)
    }
    def visited: DataFrame = scoredAcc.select(col("q_id"), col("cand"))

    /** Score `c` ONCE — join the query vectors and the collection,
      * cosine, per-query rank — and MATERIALIZE the ranked rows
      * (r17-opt, guide §1.2/§2.4): the beam filter, both of the next
      * step's uses of the beam, and the final top-k all read this one
      * materialization. The previous shape checkpointed only the
      * rank-filtered beam and re-ran every step's scoring joins a second
      * time when `finish` evaluated the visited union — the whole walk
      * was paid twice. */
    private def scoreNoted(c: DataFrame): DataFrame = {
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand").asc)
      val sc = c.join(q, Seq("q_id"))
        .join(e, Seq("cand"))
        .select(col("q_id"), col("cand"), cosine(col("q_emb"), col("__ce")).as("cos"))
        .withColumn("rnk", row_number().over(w))
        .transform(graft.Checkpoints.truncate(_))
      noteScored(sc)
      sc
    }

    def undOf(g: DataFrame): DataFrame =
      g.select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        .unionByName(g.select(col("nbr_id").as("src"), col("vec_id").as("dst")))
        .distinct().transform(graft.Checkpoints.truncate(_))

    /** `steps` expand/score/keep-`width` rounds from `start` over `und`;
      * the start set and every step's candidate set are scored-and-noted
      * (same visited union as the pre-r17-opt note-then-score shape —
      * callers no longer note the start themselves); returns the final
      * beam. */
    def walk(und: DataFrame, start: DataFrame, width: Int, steps: Int): DataFrame = {
      var beam = scoreNoted(start).where(col("rnk") <= width)
        .select(col("q_id"), col("cand"))
      for (_ <- 1 to steps) {
        val expand = beam.join(und, beam("cand") === und("src"))
          .select(beam("q_id"), col("dst").as("cand"))
        val cands = beam.unionByName(expand).distinct()
        beam = scoreNoted(cands).where(col("rnk") <= width)
          .select(col("q_id"), col("cand"))
      }
      beam
    }

    /** Top-k of everything visited (self excluded) + per-query scored-
      * candidate counts — the serve contract, stated once. Ranks the
      * ALREADY-MATERIALIZED per-step scores; no scoring join runs here. */
    def finish(k: Int): (DataFrame, DataFrame) = {
      val vis = scoredAcc.distinct()
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cand").asc)
      val res = vis.where(col("cand") =!= col("q_id"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= k)
        .select(col("q_id"), col("cand").as("nbr_id"),
          col("rnk").cast("long").as("rnk"), round(col("cos"), 6).as("sim"))
      (res, vis.groupBy("q_id").agg(count(lit(1)).as("n_scored")))
    }
  }

  private[datapipe] def graphSearchOverWithVisited(
      g: DataFrame, ep0: DataFrame, planes: Int,
      k: Int = topK): (DataFrame, DataFrame) = {
    val w = new GraphWalk(ep0)
    // one-row aggregate × cross join: the global entry point without a
    // driver collect
    val entry = w.ep.agg(min(col("vec_id")).as("cand"))
    // per-query seeds: the query's own bucket mates in each band
    val bandSeeds = (0 until knnBands).map { band =>
      val bk = buckets(w.ep, planes, planeBase = band * planes)
      bk.where(col("vec_id") % queryMod === 0)
        .select(col("vec_id").as("q_id"), col("bucket"))
        .join(bk.select(col("vec_id").as("cand"), col("bucket")), Seq("bucket"))
        .select(col("q_id"), col("cand"))
    }.reduce(_ unionByName _)
    // single-use now (walk scores-and-notes the start itself), so the
    // seed set needs no eager materialization of its own — its lineage
    // dies at scoreNoted's checkpoint one job later (r17-opt)
    val cands0 =
      bandSeeds.unionByName(w.q.select(col("q_id")).crossJoin(entry))
        .distinct()
    w.walk(w.undOf(g), cands0, searchBeam, searchSteps)
    w.finish(k)
  }

  /** `ann_graph_search` entry: the beam-search answers with the exact
    * companion. */
  def graphSearchChecked(emb: DataFrame): DataFrame =
    withExactCompanion(graphSearch(emb), emb)

  // ---------------------- HNSW-style hierarchical serving (r17)

  /** Upper-layer membership thinning: layer ℓ keeps ~1/8^ℓ of the
    * collection, by deterministic content hash of the vec_id (HNSW's
    * geometric level assignment, derandomized — id clustering cannot
    * bias a hash) — so L2 ⊂ L1 ⊂ L0 and every layer is reproducible in
    * SQL. */
  val hnswDecay = 8
  val hnswUpperLayers = 2

  /** Descent search width: HNSW walks upper layers NARROW (its upper
    * ef is 1; we keep 2 for the deterministic tie-break safety) — the
    * hierarchy's point is that the entry the descent hands down is
    * already near the query, so layer 0 runs the SAME beam/steps as
    * the flat serve from a far better start. */
  val hnswUpperBeam = 2
  val hnswUpperSteps = 2

  private[datapipe] def layerPred(l: Int): Column =
    TextOps.h60(concat(lit("hl:"), col("vec_id").cast("string"))) %
      lit(BigInt(hnswDecay).pow(l).toLong) === 0

  /** Build the upper-layer k-NN graphs (layer 1..[[hnswUpperLayers]]):
    * each an NN-descent graph over its members only, planes auto-sized
    * to the LAYER's count — a layer is just a smaller collection. */
  /** One upper layer's NN-descent graph — the unit [[hnswUpperGraphs]]
    * and the parallel build/write paths share. */
  private def hnswUpperGraph(ep: DataFrame, l: Int): DataFrame = {
    val lep = graft.CacheRegistry.persistTracked(ep.where(layerPred(l)))
    knnGraph(lep, planes = lshPlanesFor(math.max(lep.count(), 1L)))
  }

  def hnswUpperGraphs(ep0: DataFrame): Seq[DataFrame] = {
    val ep = epOf(ep0)
    // the layer builds are INDEPENDENT pipelines over the shared
    // persisted projection — overlap them (r18, guide §2.6) so one
    // build's eager-checkpoint jobs back-fill the other's straggler
    // tails; outputs unchanged (HnswSpec pins them)
    graft.Par.all((1 to hnswUpperLayers).map(l => () => hnswUpperGraph(ep, l)))
  }

  /**
   * HIERARCHICAL beam search (r17 — VERDICT #3, the HNSW upper layers):
   * enter at the TOP layer's smallest vertex (plus the global smallest
   * as an always-present fallback for a thin corpus whose top layer is
   * empty), walk each upper layer narrow ([[hnswUpperBeam]]), hand the
   * beam down as the next layer's seeds, and run the standard
   * [[searchBeam]]/[[searchSteps]] walk on layer 0 from the descended
   * entries. Replaces the flat serve's LSH bucket seeding: per query
   * the descent scores O(layers × beam × degree) candidates instead of
   * bands × bucket mates — and, the part that matters at collection
   * scale, serving no longer re-buckets ALL N vectors per query batch
   * (the flat seeds' three band passes over the collection); it touches
   * only graph edges and layer members. At 10^10 vectors the upper
   * layers bound the entry cost logarithmically, exactly HNSW's
   * argument.
   */
  def graphSearchHierOver(g0: DataFrame, uppers: Seq[DataFrame],
                          ep0: DataFrame, k: Int = topK): DataFrame =
    graphSearchHierOverWithVisited(g0, uppers, ep0, k)._1

  private[datapipe] def graphSearchHierOverWithVisited(
      g0: DataFrame, uppers: Seq[DataFrame], ep0: DataFrame,
      k: Int = topK): (DataFrame, DataFrame) = {
    require(uppers.length == hnswUpperLayers,
      s"expected $hnswUpperLayers upper layers, got ${uppers.length}")
    val w = new GraphWalk(ep0)
    // entry: top layer's smallest member + the global smallest (the
    // fallback keeps a thin corpus with an empty top layer servable);
    // one-row aggregates crossed in, no driver collect
    val entryTop = w.ep.where(layerPred(hnswUpperLayers))
      .agg(min(col("vec_id")).as("cand"))
    val entryGlobal = w.ep.agg(min(col("vec_id")).as("cand"))
    // single-use (the first walk scores-and-notes its start itself) —
    // no eager materialization needed here (r17-opt)
    var seeds = w.q.select(col("q_id")).crossJoin(entryTop)
      .unionByName(w.q.select(col("q_id")).crossJoin(entryGlobal))
      .where(col("cand").isNotNull).distinct()
    // narrow descent, top layer downward; each layer's final beam is
    // the next layer's seed set
    for (l <- hnswUpperLayers to 1 by -1)
      seeds = w.walk(w.undOf(uppers(l - 1)), seeds, hnswUpperBeam, hnswUpperSteps)
    // layer 0: the flat serve's own walk. Seeds = the best searchBeam
    // of EVERYTHING the descent scored (not just the last narrow beam):
    // the upper walks already paid for those candidates, so widening
    // the handoff costs no new scoring and recovers the diversity the
    // narrow descent squeezed out
    w.walk(w.undOf(g0), w.visited.distinct(), searchBeam, searchSteps)
    w.finish(k)
  }

  /** Inline hierarchical entry: build layer 0 + upper layers over the
    * collection, serve hierarchically, attach the exact companion. */
  def graphSearchHierChecked(emb: DataFrame): DataFrame = {
    val ep = epOf(emb)
    // ALL THREE layer builds run concurrently (r18 — VERDICT item 3,
    // guide §2.6): layer 0 plus the two uppers are independent
    // NN-descent pipelines whose eager per-round checkpoints otherwise
    // serialize on the driver; overlapping them fills the idle cores
    // each build's tiny rounds leave. Outputs unchanged — every build
    // is deterministic and shares only the persisted projection.
    val layers = graft.Par.all(
      (() => knnGraph(ep, planes = lshPlanesFor(ep.count()))) +:
        (1 to hnswUpperLayers).map(l => () => hnswUpperGraph(ep, l)))
    withExactCompanion(graphSearchHierOver(layers.head, layers.tail, ep), ep)
  }

  /** Persisted hierarchical index: the [[knnGraphWrite]] artifact plus
    * one edge table per upper layer (`edges_l1`, `edges_l2`) — layer
    * membership is derivable (content hash), so only graphs persist. */
  def hnswWrite(emb: DataFrame, dir: String): Unit = {
    val ep = epOf(emb)
    val planes = lshPlanesFor(ep.count(), 32)
    // the three layer builds overlapped, same as the inline
    // hierarchical serve (r18, guide §2.6), then written as ONE artifact
    val layers = graft.Par.all(
      (() => knnGraph(ep, planes = planes)) +:
        (1 to hnswUpperLayers).map(l => () => hnswUpperGraph(ep, l)))
    GraphIndex(layers.head, ep, planes, knnBands, knnRounds, topK, layers.tail).write(dir)
  }

  /** Serve the hierarchy from disk: layer-0 edges, vectors and the
    * upper-layer edges, all from the [[GraphIndex]] artifact. */
  def graphSearchHierFileChecked(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): DataFrame = {
    val idx = GraphIndex.read(spark, dir)
    withExactCompanion(graphSearchHierOver(idx.edges, idx.uppers, idx.vectors),
      idx.vectors)
  }

  private def layerPredSql(c: String, l: Int): String =
    s"(${h60Sql(s"concat('hl:', $c)")} % ${BigInt(hnswDecay).pow(l).toLong} = 0)"

  /** DuckDB mirror of [[graphSearchHierChecked]]: the layer-0 graph
    * chain ([[knnGraphCtesSql]]), one auto-sized NN-descent chain per
    * upper layer over its hash-thinned members, then the literal
    * descent — entry seeds, [[hnswUpperSteps]] narrow steps per upper
    * layer, layer-0 seeded by the best [[searchBeam]] of everything the
    * descent scored, the standard walk, top-k of all visited, exact
    * companion. Round CTE indices offset per layer (`u1x`, `u2x`) so
    * the chains never collide. */
  def graphSearchHnswSql: String = {
    val r = knnRounds
    val qCos = cosineSql("q.q_emb", "e.embedding")
    def beamSql(src: String, name: String, width: Int): String =
      s"""$name AS MATERIALIZED (
         |  SELECT q_id, cand FROM (
         |    SELECT c.q_id, c.cand,
         |           row_number() OVER (PARTITION BY c.q_id
         |                              ORDER BY $qCos DESC, c.cand) AS rn
         |    FROM $src c JOIN q ON q.q_id = c.q_id
         |    JOIN embeddings e ON e.vec_id = c.cand)
         |  WHERE rn <= $width)""".stripMargin
    // upper-layer graph chains: per layer an auto-sized plane count over
    // the MEMBER count, member-only band buckets, seed self-joins and
    // the shared NN-descent rounds
    val layerCtes = (1 to hnswUpperLayers).map { l =>
      val np = s"npl$l"
      val bks = (0 until knnBands).map { b =>
        val plane = s"($np.np * $b + t.p)"
        val wvec = s"list_transform(range(0, $dim), d -> ${weightSql(plane, "d")})"
        s"""hbk${l}_$b AS MATERIALIZED (
           |  SELECT e.vec_id,
           |         CAST(sum(CASE WHEN ${dotSql(wvec, "e.embedding")} > 0
           |                       THEN (CAST(1 AS BIGINT) << t.p) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM embeddings e, $np, unnest(range(0, $np.np)) AS t(p)
           |  WHERE ${layerPredSql("e.vec_id", l)}
           |  GROUP BY e.vec_id)""".stripMargin
      }.mkString(",\n")
      val seedUnion = (0 until knnBands).map(b =>
        s"SELECT l.vec_id AS vec_id, r.vec_id AS nbr_id FROM hbk${l}_$b l " +
          s"JOIN hbk${l}_$b r ON l.bucket = r.bucket").mkString(" UNION ALL ")
      val rounds = (1 to r).map(i =>
        graphRoundSql(10 * l + i, s"hg${l}_${i - 1}", s"hg${l}_$i")).mkString(",\n")
      s"""$np AS (SELECT ${lshPlanesCaseSql("n")} AS np FROM
         |  (SELECT count(*) AS n FROM embeddings WHERE ${layerPredSql("vec_id", l)})),
         |$bks,
         |${graphTopkSql(seedUnion, s"hg${l}_0")},
         |$rounds,
         |hund$l AS MATERIALIZED (SELECT DISTINCT vec_id AS src, nbr_id AS dst FROM (
         |  SELECT vec_id, nbr_id FROM hg${l}_$r
         |  UNION ALL SELECT nbr_id, vec_id FROM hg${l}_$r))""".stripMargin
    }.mkString(",\n")
    // the descent: seeds, then per upper layer (top down) the narrow
    // beam + steps; every step's candidate set joins the visited union
    val seedCte =
      s"""hs0 AS MATERIALIZED (SELECT DISTINCT q_id, cand FROM (
         |  SELECT q_id, (SELECT min(vec_id) FROM embeddings
         |                WHERE ${layerPredSql("vec_id", hnswUpperLayers)}) AS cand FROM q
         |  UNION ALL
         |  SELECT q_id, (SELECT min(vec_id) FROM embeddings) AS cand FROM q)
         |  WHERE cand IS NOT NULL)""".stripMargin
    val descents = (hnswUpperLayers to 1 by -1).map { l =>
      val seedSrc = if (l == hnswUpperLayers) "hs0" else s"hb${l + 1}_$hnswUpperSteps"
      val steps = (1 to hnswUpperSteps).map { i =>
        s"""hc${l}_$i AS MATERIALIZED (SELECT DISTINCT q_id, cand FROM (
           |  SELECT q_id, cand FROM hb${l}_${i - 1}
           |  UNION ALL
           |  SELECT b.q_id, u.dst AS cand FROM hb${l}_${i - 1} b
           |  JOIN hund$l u ON u.src = b.cand)),
           |${beamSql(s"hc${l}_$i", s"hb${l}_$i", hnswUpperBeam)}""".stripMargin
      }.mkString(",\n")
      s"""${beamSql(seedSrc, s"hb${l}_0", hnswUpperBeam)},
         |$steps""".stripMargin
    }.mkString(",\n")
    val upperVisited = ("SELECT q_id, cand FROM hs0" +:
      (1 to hnswUpperLayers).flatMap(l =>
        (1 to hnswUpperSteps).map(i => s"SELECT q_id, cand FROM hc${l}_$i")))
      .mkString("\n  UNION ALL ")
    val zeroSteps = (1 to searchSteps).map { i =>
      s"""hc0_$i AS MATERIALIZED (SELECT DISTINCT q_id, cand FROM (
         |  SELECT q_id, cand FROM hb0_${i - 1}
         |  UNION ALL
         |  SELECT b.q_id, u.dst AS cand FROM hb0_${i - 1} b
         |  JOIN hund0 u ON u.src = b.cand)),
         |${beamSql(s"hc0_$i", s"hb0_$i", searchBeam)}""".stripMargin
    }.mkString(",\n")
    val allVisited = ("SELECT q_id, cand FROM hvu" +:
      (1 to searchSteps).map(i => s"SELECT q_id, cand FROM hc0_$i"))
      .mkString("\n  UNION ALL ")
    s"""${knnGraphCtesSql()},
       |$layerCtes,
       |hund0 AS MATERIALIZED (SELECT DISTINCT vec_id AS src, nbr_id AS dst FROM (
       |  SELECT vec_id, nbr_id FROM g$r
       |  UNION ALL SELECT nbr_id, vec_id FROM g$r)),
       |$seedCte,
       |$descents,
       |hvu AS MATERIALIZED (SELECT DISTINCT q_id, cand FROM (
       |  $upperVisited)),
       |${beamSql("hvu", "hb0_0", searchBeam)},
       |$zeroSteps,
       |hfv AS (SELECT DISTINCT q_id, cand FROM (
       |  $allVisited) WHERE cand <> q_id),
       |hres AS MATERIALIZED (
       |  SELECT q_id, cand AS nbr_id, rn AS rnk, cosv FROM (
       |    SELECT f.q_id, f.cand, $qCos AS cosv,
       |           row_number() OVER (PARTITION BY f.q_id
       |                              ORDER BY $qCos DESC, f.cand) AS rn
       |    FROM hfv f JOIN q ON q.q_id = f.q_id
       |    JOIN embeddings e ON e.vec_id = f.cand)
       |  WHERE rn <= $topK)
       |${companionSelectSql("SELECT q_id, nbr_id, rnk, cosv FROM hres")}""".stripMargin
  }

  /** Per-vertex top-k re-rank CTE shared by every graph oracle: DISTINCT
    * candidate edges rescored from raw embeddings, ranked (cos desc, id
    * asc), kept to k — the literal mirror of the Spark `topkOf`. */
  private def graphTopkSql(cands: String, name: String, k: Int = topK): String =
    s"""$name AS MATERIALIZED (
       |  SELECT vec_id, nbr_id, cosv, rnk FROM (
       |    SELECT vec_id, nbr_id, cosv,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY cosv DESC, nbr_id) AS rnk
       |    FROM (SELECT d.vec_id, d.nbr_id,
       |                 ${cosineSql("ea.embedding", "eb.embedding")} AS cosv
       |          FROM (SELECT DISTINCT vec_id, nbr_id FROM ($cands)
       |                WHERE vec_id <> nbr_id) d
       |          JOIN embeddings ea ON ea.vec_id = d.vec_id
       |          JOIN embeddings eb ON eb.vec_id = d.nbr_id))
       |  WHERE rnk <= $k)""".stripMargin

  /** One NN-descent round in SQL over graph CTE `prev` → `u$i`/`$gname`:
    * undirected closure, neighbor-of-neighbor expansion, top-k re-rank.
    * `srcPred` (a predicate over the given source-vertex column ref)
    * confines the recomputed vertex set (the append oracle's
    * affected-only rounds); the full-rebuild form passes `true`. */
  private def graphRoundSql(i: Int, prev: String, gname: String,
                            srcPred: String => String = _ => "true"): String =
    s"""u$i AS MATERIALIZED (SELECT DISTINCT vec_id, nbr_id FROM (
       |  SELECT vec_id, nbr_id FROM $prev
       |  UNION ALL SELECT nbr_id, vec_id FROM $prev)),
       |${graphTopkSql(
        s"SELECT vec_id, nbr_id FROM u$i WHERE ${srcPred("vec_id")} UNION ALL " +
          s"SELECT a.vec_id, b.nbr_id FROM u$i a JOIN u$i b ON a.nbr_id = b.vec_id " +
          s"WHERE ${srcPred("a.vec_id")}",
        gname)}""".stripMargin

  /** Dynamic band-bucket CTE body: plane count read from the `np` CTE at
    * RUN time (the [[lshPlanesFor]] auto-sizing, mirrored exactly — r16
    * advice fix for the fixed-plane quadratic-seed trap), planes summed
    * via a lateral `unnest(range(0, np))` instead of unrolled terms. */
  private def bucketsDynSql(band: Int): String = {
    val plane = s"(np.np * $band + t.p)"
    val wvec = s"list_transform(range(0, $dim), d -> ${weightSql(plane, "d")})"
    s"""SELECT e.vec_id,
       |       CAST(sum(CASE WHEN ${dotSql(wvec, "e.embedding")} > 0
       |                     THEN (CAST(1 AS BIGINT) << t.p) ELSE 0 END) AS BIGINT) AS bucket
       |FROM embeddings e, np, unnest(range(0, np.np)) AS t(p)
       |GROUP BY e.vec_id""".stripMargin
  }

  /** The identical NN-descent fixpoint in DuckDB: generated CTE chain —
    * plane count recomputed from `count(*)` ([[lshPlanesCaseSql]] over
    * the rows satisfying `basePred`), init from the same md5 hyperplane
    * buckets, each round MATERIALIZED (same exponential-inlining hazard
    * as the BPE oracle), plus the query subset and exact-companion CTEs.
    * Shared by [[knnGraphSql]], [[graphSearchSql]] and the append
    * oracle so the graph the serving walks can never drift from the
    * graph entry's own oracle. `basePred` (a predicate over the given
    * vec_id column ref) confines the BUILD collection (the append
    * oracle's frozen even-half build); buckets are computed for every
    * vector (per-row hashes — new arrivals reuse them), the seed join
    * filters both sides. */
  private def knnGraphCtesSql(basePred: String => String = _ => "true"): String = {
    val bandCtes = (0 until knnBands).map(b =>
      s"bk$b AS MATERIALIZED (${bucketsDynSql(b)})").mkString(",\n")
    val seedUnion = (0 until knnBands).map(b =>
      s"SELECT l.vec_id AS vec_id, r.vec_id AS nbr_id FROM bk$b l " +
        s"JOIN bk$b r ON l.bucket = r.bucket " +
        s"WHERE (${basePred("l.vec_id")}) " +
        s"AND (${basePred("r.vec_id")})").mkString(" UNION ALL ")
    val exCos = cosineSql("q.q_emb", "e.embedding")
    s"""WITH np AS (SELECT ${lshPlanesCaseSql("n")} AS np FROM
       |  (SELECT count(*) AS n FROM embeddings WHERE ${basePred("vec_id")})),
       |$bandCtes,
       |${graphTopkSql(seedUnion, "g0")},
       |${(1 to knnRounds).map(i => graphRoundSql(i, s"g${i - 1}", s"g$i")).mkString(",\n")},
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id % $queryMod = 0),
       |ex AS MATERIALIZED (
       |  SELECT q_id, e_nbr FROM (
       |    SELECT q.q_id, e.vec_id AS e_nbr,
       |           row_number() OVER (PARTITION BY q.q_id
       |                              ORDER BY $exCos DESC, e.vec_id) AS rr
       |    FROM q JOIN embeddings e ON e.vec_id <> q.q_id)
       |  WHERE rr <= $topK)""".stripMargin
  }

  /** The exact-companion final select shared by the graph oracles:
    * `src` must expose (q_id, nbr_id, rnk, cosv) restricted to the
    * query subset. */
  private def companionSelectSql(src: String): String =
    s"""SELECT r.q_id, r.nbr_id,
       |       CAST(r.rnk AS BIGINT) AS rnk, round(r.cosv, 6) AS sim,
       |       (ex.e_nbr IS NOT NULL) AS hit,
       |       CAST(sum(CASE WHEN ex.e_nbr IS NOT NULL THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY r.q_id) AS BIGINT) AS n_hit,
       |       (CAST(sum(CASE WHEN ex.e_nbr IS NOT NULL THEN 1 ELSE 0 END)
       |             OVER (PARTITION BY r.q_id) AS BIGINT) >= $recallGate) AS recall_ok
       |FROM ($src) r LEFT JOIN ex
       |  ON ex.q_id = r.q_id AND ex.e_nbr = r.nbr_id""".stripMargin

  def knnGraphSql: String =
    s"""${knnGraphCtesSql()}
       |${companionSelectSql(
        s"SELECT vec_id AS q_id, nbr_id, rnk, cosv FROM g$knnRounds " +
          s"WHERE vec_id % $queryMod = 0")}""".stripMargin

  /** The identical beam walk in DuckDB: the shared graph CTEs, the
    * undirected edge set, one (candidates, scored-beam) CTE pair per
    * step, the visited union ranked for the final answer — every piece
    * MATERIALIZED (each step references its predecessor several
    * times). */
  def graphSearchSql: String = {
    val qCos = cosineSql("q.q_emb", "e.embedding")
    def beamSql(src: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT q_id, cand FROM (
         |    SELECT c.q_id, c.cand,
         |           row_number() OVER (PARTITION BY c.q_id
         |                              ORDER BY $qCos DESC, c.cand) AS rn
         |    FROM $src c JOIN q ON q.q_id = c.q_id
         |    JOIN embeddings e ON e.vec_id = c.cand)
         |  WHERE rn <= $searchBeam)""".stripMargin
    val steps = (1 to searchSteps).map { i =>
      val prev = s"sb${i - 1}"
      s"""c$i AS MATERIALIZED (SELECT DISTINCT q_id, cand FROM (
         |  SELECT q_id, cand FROM $prev
         |  UNION ALL
         |  SELECT b.q_id, u.nbr_id AS cand FROM $prev b
         |  JOIN und u ON u.vec_id = b.cand)),
         |${beamSql(s"c$i", s"sb$i")}""".stripMargin
    }.mkString(",\n")
    val seedUnion = (0 until knnBands).map(b =>
      s"SELECT bq.vec_id AS q_id, s.vec_id AS cand FROM bk$b bq " +
        s"JOIN bk$b s ON s.bucket = bq.bucket WHERE bq.vec_id % $queryMod = 0")
      .mkString("\n  UNION ALL ")
    val visUnion = ("SELECT q_id, cand FROM c0" +:
      (1 to searchSteps).map(i => s"SELECT q_id, cand FROM c$i")).mkString("\n  UNION ALL ")
    s"""${knnGraphCtesSql()},
       |und AS MATERIALIZED (SELECT DISTINCT vec_id, nbr_id FROM (
       |  SELECT vec_id, nbr_id FROM g$knnRounds
       |  UNION ALL SELECT nbr_id, vec_id FROM g$knnRounds)),
       |c0 AS MATERIALIZED (SELECT DISTINCT q_id, cand FROM (
       |  $seedUnion
       |  UNION ALL
       |  SELECT q_id, (SELECT min(vec_id) FROM embeddings) AS cand FROM q)),
       |${beamSql("c0", "sb0")},
       |$steps,
       |fv AS (SELECT DISTINCT q_id, cand FROM (
       |  $visUnion) WHERE cand <> q_id),
       |res AS MATERIALIZED (
       |  SELECT q_id, cand AS nbr_id, rn AS rnk, cosv FROM (
       |    SELECT f.q_id, f.cand, $qCos AS cosv,
       |           row_number() OVER (PARTITION BY f.q_id
       |                              ORDER BY $qCos DESC, f.cand) AS rn
       |    FROM fv f JOIN q ON q.q_id = f.q_id
       |    JOIN embeddings e ON e.vec_id = f.cand)
       |  WHERE rn <= $topK)
       |${companionSelectSql("SELECT q_id, nbr_id, rnk, cosv FROM res")}""".stripMargin
  }

  // ----------------------------------- persisted k-NN graph index (r16)

  /**
   * The graph tier's deployment split (the [[IvfpqIndex]] pattern at the
   * graph-index tier — FAISS/HNSW build-once/serve-many): the NN-descent
   * graph, the vector collection and the build hyperparameters live as
   * a disk artifact; serving ([[graphSearchFileChecked]]) walks the
   * disk-resident graph instead of rebuilding it per query batch — at
   * collection scale the rebuild is hours of cluster time, the walk is
   * seconds.
   *
   *  - `edges`   — `(vec_id, nbr_id, rnk, sim)`: the graph, REPLACED
   *    wholesale on append (an [[graft.Artifact.update]] replacement —
   *    appends update affected vertices' edge lists in place, so the
   *    artifact is a rewrite, not an accumulation; it is k·N slim rows,
   *    the cheap side of the index).
   *  - `vectors` — `(vec_id, embedding)`: append-able
   *    ([[graft.Artifact.update]]), read recursively.
   *  - `edges_l1`.. — the HNSW upper layers ([[hnswWrite]]), if any.
   *  - `(planes, bands, rounds, k)` — manifest parameters: the FROZEN
   *    build parameters every append and serve must reuse (re-deriving
   *    planes from the grown count would silently re-band the whole
   *    graph).
   */
  case class GraphIndex(edges: DataFrame, vectors: DataFrame, planes: Int,
                        bands: Int, rounds: Int, k: Int,
                        uppers: Seq[DataFrame] = Nil) {
    def write(dir: String): Unit =
      graft.Artifact.write(dir, "graph",
        Seq("planes" -> planes, "bands" -> bands, "rounds" -> rounds, "k" -> k),
        Seq("vectors" -> vectors, "edges" -> edges) ++
          uppers.zipWithIndex.map { case (u, i) => s"edges_l${i + 1}" -> u })

    def params: (Int, Int, Int, Int) = (planes, bands, rounds, k)
  }
  object GraphIndex {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): GraphIndex = {
      val a = graft.Artifact.read(spark, dir, "graph")
      GraphIndex(a("edges"), a("vectors"), a.params("planes").toInt,
        a.params("bands").toInt, a.params("rounds").toInt, a.params("k").toInt,
        (1 to hnswUpperLayers).flatMap(l => a.tables.get(s"edges_l$l")))
    }
  }

  /** Build half of the graph deployment split: auto-sized NN-descent
    * graph + vectors + frozen build parameters, written once. */
  def knnGraphWrite(emb: DataFrame, dir: String): Unit = {
    val ep = epOf(emb)
    val planes = lshPlanesFor(ep.count(), 32)
    GraphIndex(knnGraph(ep, planes = planes), ep, planes, knnBands, knnRounds, topK).write(dir)
  }

  /** Query-subset + exact-companion wrapper shared by the inline and
    * disk-resident graph entries — `g` is any `(vec_id, nbr_id, rnk,
    * sim)` graph over collection `emb`. */
  private def graphCheckedFrom(g: DataFrame, emb: DataFrame): DataFrame = {
    val gq = g.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("nbr_id"), col("rnk"), col("sim"))
    withExactCompanion(gq, emb)
  }

  /** `ann_knngraph_file` entry: the disk-resident graph restricted to the
    * query subset, with the exact companion — output identical to
    * [[knnGraphChecked]] over the same collection (same oracle). */
  def knnGraphFileChecked(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame = {
    val idx = GraphIndex.read(spark, dir)
    graphCheckedFrom(idx.edges, idx.vectors)
  }

  /** `ann_graph_search_file` entry: the beam walk ([[graphSearchOver]])
    * over the DISK-RESIDENT graph and vectors, band width from the
    * frozen manifest — output identical to [[graphSearchChecked]] over the
    * same collection (same oracle). */
  def graphSearchFileChecked(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    val idx = GraphIndex.read(spark, dir)
    withExactCompanion(graphSearchOver(idx.edges, idx.vectors, idx.planes),
      idx.vectors)
  }

  /**
   * Incremental ingest for the persisted graph (the FAISS-`add()` recipe
   * at the graph tier): new vectors bucket against the FROZEN band
   * parameters, and NN-descent rounds recompute ONLY the affected
   * vertices — a new vector, or an existing vertex sharing a seed
   * bucket with one. Everything else keeps its frozen edge list
   * untouched, so the append's compute is proportional to the
   * neighborhood of the new batch, not to N. Semantics, exactly
   * (mirrored by [[knnGraphAppendSql]]):
   *
   *  1. affected = every vertex appearing as the source of a seed pair
   *     with at least one NEW side (new vertices always self-pair, so
   *     all of them are affected).
   *  2. round 0: each affected vertex re-ranks (frozen edges ∪ new seed
   *     pairs) — the top-k-merge identity `topk(topk(A) ∪ B) =
   *     topk(A ∪ B)` is what makes the frozen list a sufficient stand-in
   *     for the original candidates.
   *  3. `rounds` NN-descent rounds over the COMBINED graph (frozen +
   *     evolving affected part), candidates confined to affected
   *     sources.
   *
   * One [[graft.Artifact.update]]: vectors append and the edge table is
   * REPLACED, both atomically, after the new graph fully materializes.
   * vec_id disjointness is the caller's contract, as with [[ivfpqAppend]].
   */
  def knnGraphAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                     newVecs: DataFrame): Unit = {
    val idx = GraphIndex.read(spark, dir)
    val (planes, bands, rounds, k) = idx.params
    val newV = graft.CacheRegistry.persistTracked(
      newVecs.select(col("vec_id"), col("embedding")))
    val all = graft.CacheRegistry.persistTracked(
      idx.vectors.unionByName(newV))
    val newIds = newV.select(col("vec_id"))
    // the shared build contract — ONE topkOf for build and append
    def topkOf(cands: DataFrame): DataFrame = graphTopkOf(all, k)(cands)
    // seed pairs with at least one new side: per band, bucket the grown
    // collection with the FROZEN planes and flag each side
    val seedsNew = (0 until bands).map { band =>
      val bk = buckets(all, planes, planeBase = band * planes)
        .join(newIds.withColumn("__new", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("bucket"),
          coalesce(col("__new"), lit(false)).as("__new"))
      bk.as("l").join(bk.as("r"), col("l.bucket") === col("r.bucket"))
        .where(col("l.__new") || col("r.__new"))
        .select(col("l.vec_id").as("vec_id"), col("r.vec_id").as("nbr_id"))
    }.reduce(_ unionByName _)
    val affected = seedsNew.select(col("vec_id")).distinct().transform(graft.Checkpoints.truncate(_))
    // the frozen part never changes across rounds — checkpoint once
    val frozen = idx.edges.join(affected, Seq("vec_id"), "left_anti")
      .transform(graft.Checkpoints.truncate(_))
    val oldAff = idx.edges.select(col("vec_id"), col("nbr_id"))
      .join(affected, Seq("vec_id"), "left_semi")
    // round 0 + NN-descent rounds confined to affected sources; each
    // evolving frame localCheckpoint'ed (the documented iteration class)
    var gaff = topkOf(oldAff.unionByName(seedsNew)).transform(graft.Checkpoints.truncate(_))
    for (_ <- 1 to rounds) {
      val full = frozen.select(col("vec_id"), col("nbr_id"))
        .unionByName(gaff.select(col("vec_id"), col("nbr_id")))
      val u = full.unionByName(
        full.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")))
      val uAff = u.join(affected, Seq("vec_id"), "left_semi")
      val nn = uAff.as("a").join(u.as("b"), col("a.nbr_id") === col("b.vec_id"))
        .select(col("a.vec_id").as("vec_id"), col("b.nbr_id").as("nbr_id"))
      gaff = topkOf(uAff.unionByName(nn)).transform(graft.Checkpoints.truncate(_))
    }
    val newEdges = frozen.unionByName(
      gaff.select(col("vec_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("sim")))
    // every crash window recoverable (r16 review fix — swapping edges
    // before appending vectors left a window where edges referenced
    // vectors absent from the store): the update stages both tables
    // (fully materializing the computation, which reads the live edges
    // + old vectors), commits the vector append, then the edge swap — a
    // crash between leaves new vectors merely unindexed
    graft.Artifact.update(dir, appends = Seq("vectors" -> newV),
      replaces = Seq("edges" -> newEdges))
  }

  /** DuckDB mirror of build-on-even-half + [[knnGraphAppend]] of the odd
    * half: the frozen-graph CTE chain over `vec_id % 2 = 0` (its plane
    * count from the EVEN count — the frozen band parameters), the
    * at-least-one-new seed pairs, the affected set, round 0's
    * frozen-edges ∪ new-seeds re-rank, then the affected-confined
    * NN-descent rounds over the combined graph; query subset and exact
    * companion over the FULL collection. Round CTE indices offset by
    * [[knnRounds]] so the two chains' `u$i` names never collide. */
  def knnGraphAppendSql: String = {
    val r = knnRounds
    val nsdUnion = (0 until knnBands).map(b =>
      s"SELECT l.vec_id AS vec_id, r.vec_id AS nbr_id FROM bk$b l " +
        s"JOIN bk$b r ON l.bucket = r.bucket " +
        s"WHERE (l.vec_id % 2 <> 0 OR r.vec_id % 2 <> 0)").mkString(" UNION ALL ")
    val affPred = (c: String) => s"$c IN (SELECT vec_id FROM aff)"
    val roundCtes = (1 to r).map { i =>
      s"""${graphRoundSql(r + i, s"f${i - 1}", s"ga$i", affPred)},
         |f$i AS MATERIALIZED (SELECT vec_id, nbr_id FROM frz
         |  UNION ALL SELECT vec_id, nbr_id FROM ga$i)""".stripMargin
    }.mkString(",\n")
    s"""${knnGraphCtesSql(c => s"$c % 2 = 0")},
       |nsd AS MATERIALIZED ($nsdUnion),
       |aff AS MATERIALIZED (SELECT DISTINCT vec_id FROM nsd),
       |frz AS MATERIALIZED (SELECT vec_id, nbr_id, cosv, rnk FROM g$r
       |  WHERE vec_id NOT IN (SELECT vec_id FROM aff)),
       |${graphTopkSql(
        s"SELECT vec_id, nbr_id FROM g$r WHERE ${affPred("vec_id")} " +
          s"UNION ALL SELECT vec_id, nbr_id FROM nsd", "ga0")},
       |f0 AS MATERIALIZED (SELECT vec_id, nbr_id FROM frz
       |  UNION ALL SELECT vec_id, nbr_id FROM ga0),
       |$roundCtes
       |${companionSelectSql(
        s"SELECT vec_id AS q_id, nbr_id, rnk, cosv FROM " +
          s"(SELECT vec_id, nbr_id, rnk, cosv FROM frz " +
          s"UNION ALL SELECT vec_id, nbr_id, rnk, cosv FROM ga$r) " +
          s"WHERE vec_id % $queryMod = 0")}""".stripMargin
  }

  /**
   * Stateless streaming ingest gate for the persisted k-NN graph (r17 —
   * VERDICT #6, the 21b recipe at the graph tier): arriving vectors
   * bucket with the FROZEN band parameters and probe the index's
   * vertices — one row per (arrival, frozen vertex it would affect,
   * matching band), with the exact cosine carried for the consumer's
   * decision. This is precisely [[knnGraphAppend]]'s affected-set
   * predicate evaluated per arrival BEFORE paying the append: a
   * pipeline batches arrivals, inspects their blast radius, and
   * schedules the (expensive) append off the hot path. Stream side is
   * stateless end-to-end — the band buckets are literal-plane
   * projections, the probe a stream-static equi-join, the verify a
   * map-side cosine; no watermark, no state store. Works identically
   * on a batch frame (the hash-verified entry form).
   */
  def knnGraphStreamFlag(stream: DataFrame, idx: GraphIndex): DataFrame = {
    knnGraphStreamFlagWith(stream, idx.vectors, idx.planes, idx.bands)
  }

  /** Inline form: frozen parameters auto-sized from the corpus the way
    * [[knnGraphWrite]] froze them — batch-parity with the index form. */
  def knnGraphStreamFlag(stream: DataFrame, corpus: DataFrame): DataFrame = {
    val ep = epOf(corpus)
    knnGraphStreamFlagWith(stream, ep, lshPlanesFor(ep.count()), knnBands)
  }

  private def knnGraphStreamFlagWith(stream: DataFrame, vectors: DataFrame,
                                     planes: Int, bands: Int): DataFrame = {
    // arrival side: all bands in ONE map-side projection (explode of
    // literal-plane bucket structs — streaming-safe, no self-union)
    val bandStructs = (0 until bands).map { b =>
      val ws = hyperplaneWeights(planes, planeBase = b * planes)
      val bucket = ws.zipWithIndex.map { case (w, p) =>
        when(dot(typedLit(w.toSeq), col("embedding")) > 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    val arr = stream.select(col("vec_id"), col("embedding"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("embedding"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // index side: the SAME single-pass explode as the arrival side (r17
    // review find — a per-band union re-scans the vector table once per
    // band, and the static side of a stream-static join re-executes
    // every micro-batch); lean keys first, vectors joined only onto the
    // hits (the embedStreamingFlag probe discipline)
    val keys = vectors.select(col("vec_id").as("corpus_id"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("corpus_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    arr.join(keys, Seq("band", "bucket"))
      .where(col("vec_id") =!= col("corpus_id"))
      .join(vectors.select(col("vec_id").as("corpus_id"),
        col("embedding").as("corpus_emb")), "corpus_id")
      .withColumn("sim", cosine(col("embedding"), col("corpus_emb")))
      .select(col("vec_id"), col("corpus_id").as("affects"), col("band"),
        round(col("sim"), 6).as("sim"))
  }

  /** DuckDB mirror of the inline [[knnGraphStreamFlag]]: dynamic plane
    * count over the full collection, the same frozen-band buckets
    * ([[bucketsDynSql]]), probe side filtered by `probePred`. */
  def knnGraphStreamFlagSql(probePred: String = "true"): String = {
    val bandCtes = (0 until knnBands).map(b =>
      s"gbk$b AS MATERIALIZED (${bucketsDynSql(b)})").mkString(",\n")
    val unions = (0 until knnBands).map(b =>
      s"SELECT vec_id, $b AS band, bucket FROM gbk$b").mkString("\n  UNION ALL\n  ")
    val cos = cosineSql("e1.embedding", "e2.embedding")
    s"""WITH np AS (SELECT ${lshPlanesCaseSql("n")} AS np FROM
       |  (SELECT count(*) AS n FROM embeddings)),
       |$bandCtes,
       |gbands AS (
       |  $unions
       |),
       |cand AS (
       |  SELECT a.vec_id, b.vec_id AS affects, a.band
       |  FROM gbands a JOIN gbands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.vec_id <> b.vec_id AND ($probePred)
       |)
       |SELECT c.vec_id, c.affects, c.band, round($cos, 6) AS sim
       |FROM cand c JOIN embeddings e1 ON e1.vec_id = c.vec_id
       |            JOIN embeddings e2 ON e2.vec_id = c.affects""".stripMargin
  }

  // ------------------------------------------------------------ IVF ANN

  /** Number of IVF centroids and probed lists per query. */
  val ivfCentroids = 16
  val ivfProbes = 2

  /**
   * IVF (inverted-file) ANN: a coarse quantizer assigns every vector to
   * its nearest centroid (one inverted list per centroid); queries probe
   * only the [[ivfProbes]] nearest lists and rank their members exactly
   * — search cost is |probed lists|, not |collection|.
   *
   * Centroid training = deterministic k-means seeding (the first
   * [[ivfCentroids]] vectors) plus ONE exact Lloyd refinement: assign
   * all vectors to their seed, then recompute each centroid as the
   * per-dimension mean of its members. The mean is engine-exact: the
   * per-dimension float sum runs in DECIMAL (order-independent), and
   * only the final single division + 6dp round happens in double — so
   * DuckDB reproduces the trained centroids bit-for-bit and the oracle
   * stays a hash compare. More Lloyd rounds at production scale are the
   * same two dataflow steps repeated.
   */
  def ivfTopK(emb: DataFrame): DataFrame = ivfTopK(emb, 1)

  /** Parameterized Lloyd depth: `rounds` exact refinements, each the same
    * two dataflow steps (assign all vectors to their nearest centroid,
    * recompute per-dimension decimal-exact means) — convergence at
    * production scale is this loop with a larger `rounds`. */
  /** Seed centroids: the first `k` vectors. */
  private def ivfSeed(emb: DataFrame, k: Int = ivfCentroids): DataFrame =
    emb.where(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))

  /**
   * Collapse a SLIM `(idCol, candCol, __sim)` candidate fanout to the
   * top-`keep` candidates per id.
   *
   * keep==1 (the dominant path: inverted-list build, Lloyd rounds,
   * SemDeDup assignment) runs as a partial-aggregable
   * `max(struct(__sim, -cand))`: the fanout combines MAP-SIDE, so the
   * exchange under the pick carries ONE tiny `(id, best)` row per
   * vector instead of the exploded frame — and never any vector
   * payload, because callers score on a slim projection and re-join
   * the payload by id afterwards (r11 finding: the row_number window
   * over the crossJoin-exploded frame shuffled sqrt(K)× the
   * collection's vector mass per assignment pass). keep>1 (the probe
   * side, query-sized) keeps the window, but still over the slim frame
   * only.
   *
   * Ordering is `__sim` DESC then candidate id ASC — identical to
   * `row_number() OVER (ORDER BY __sim DESC, cand ASC)` including NaN
   * placement (max treats NaN as greatest, exactly where a DESC sort
   * ranks it), so the DuckDB QUALIFY mirrors stay hash-exact.
   */
  private def pickTop(slim: DataFrame, idCol: String, candCol: String,
                      keep: Int): DataFrame =
    if (keep == 1)
      slim.select(col(idCol),
          struct(col("__sim"), (-col(candCol)).as("__nc")).as("__b"))
        .groupBy(col(idCol))
        .agg(max(col("__b")).as("__b"))
        .select(col(idCol), (-col("__b.__nc")).as(candCol))
    else {
      val w = Window.partitionBy(idCol).orderBy(col("__sim").desc, col(candCol).asc)
      slim.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= keep)
        .select(col(idCol), col(candCol))
    }

  /** Nearest-candidate join: score `of(idCol, ofEmb)` against every row
    * of the broadcast, centroid-sized `cand(candId, candEmb)` and return
    * `of`'s columns plus the winning `candId` (top-`keep` rows per id
    * for keep>1). The crossJoin fanout exists only as a slim
    * `(id, candId, sim)` projection collapsed by [[pickTop]]; the
    * payload re-joins by id, so the collection's vector mass crosses
    * exactly ONE exchange regardless of K. */
  private def nearestJoin(of: DataFrame, idCol: String, ofEmb: String,
      cand: DataFrame, candId: String, candEmb: String, keep: Int): DataFrame = {
    val slim = of.select(col(idCol), col(ofEmb))
      .crossJoin(broadcast(cand.select(col(candId), col(candEmb))))
      .select(col(idCol), col(candId),
        cosine(col(candEmb), col(ofEmb)).as("__sim"))
    of.join(pickTop(slim, idCol, candId, keep), Seq(idCol))
      .select(of.columns.map(col).toIndexedSeq :+ col(candId): _*)
  }

  /** FLAT assignment: nearest centroid by cosine (ties -> lower centroid
    * id), scoring ALL K centroids per vector. Used only where the left
    * side is centroid-table-sized (the coarse-layer construction) or
    * inside the Lloyd trainer — at production scale the trainer runs on
    * a bounded deterministic sample (FAISS-style, ~256·K training
    * vectors), so its per-round flat scan is sample×K, never
    * collection×K. Collection-scale assignment goes through
    * [[ivfAssign2]]. */
  private[datapipe] def ivfAssign(
      of: DataFrame, idCol: String, cent: DataFrame, keep: Int): DataFrame =
    nearestJoin(of, idCol, "embedding", cent, "cid", "c_emb", keep)

  /** Coarse-layer width: ceil(sqrt(K)) coarse centroids over K fine. */
  private[datapipe] def coarseK(k: Int): Int =
    math.ceil(math.sqrt(k.toDouble)).toInt

  /** Centroid count at/above which assignment goes two-level. Below it
    * the flat scan is CHEAPER: the coarse layer costs an extra Lloyd
    * pass over the centroid table plus a second broadcast-join stage
    * per assignment, and √K buys nothing at small K (measured ~+1s per
    * IVF entry at the K=16 test default, r11 closing sweep). FAISS
    * makes the same small-collection cut. The switch is keyed ONLY on
    * `k`, and every DuckDB oracle builder branches on the same
    * constant, so either regime stays a hash-exact compare. */
  val ivf2MinK = 64

  /** Coarse quantizer over the TRAINED fine centroids: seed = the fine
    * centroids with cid < ceil(sqrt(K)), one decimal-exact Lloyd
    * refinement over the K-row centroid table (the same trainer as the
    * fine layer — [[ivfLloyd]] — on a relation that is centroid-sized,
    * so the flat scan inside it is K×sqrt(K) flops total, not
    * collection-scale). */
  private[datapipe] def ivfCoarse(cent: DataFrame, kc: Int): DataFrame =
    ivfLloyd(cent.select(col("cid").as("vec_id"), col("c_emb").as("embedding")),
      cent.where(col("cid") < kc))

  /** Branch map `(cid, c_emb, gid)`: each fine centroid under its
    * nearest trained coarse centroid (ties -> lower gid). Broadcast-
    * sized: K rows. */
  private[datapipe] def ivfBranches(cent: DataFrame, coarse: DataFrame): DataFrame = {
    val g = coarse.select(col("cid").as("gid"), col("c_emb").as("g_emb"))
    nearestJoin(cent, "cid", "c_emb", g, "gid", "g_emb", 1)
  }

  /**
   * TWO-LEVEL collection-scale assignment (the 100 TB shape): stage 1
   * scores the ceil(sqrt(K)) coarse centroids and picks ONE branch per
   * vector; stage 2 scores only that branch's fine centroids. Per-vector
   * scored-centroid count is sqrt(K) + |branch| ~ 2·sqrt(K) instead of
   * K — at the 65,536-K clamp that is ~512 dot products per vector, a
   * 128× flop cut on the dominant cost of indexing 10^10+ vectors.
   * Both picks run through [[pickTop]]: slim `(id, cand, sim)` frames
   * that combine map-side, so the collection's vector mass crosses ONE
   * exchange (the stage-1 payload re-join) regardless of K — the branch
   * join is broadcast and stage 2 reuses the stage-1 partitioning.
   * The forfeit is boundary recall: a vector whose true nearest fine
   * centroid lives in a non-picked branch assigns to its best in-branch
   * centroid (and a probe side asking `keep` lists can get fewer when
   * the picked branch is narrower than `keep`) — the standard
   * coarse-quantizer trade; widening the stage-1 pick is the lever.
   * Deterministic end-to-end, mirrored CTE-for-CTE by the DuckDB oracle
   * (see [[ivfListsCtes]]).
   */
  private[datapipe] def ivfAssign2(
      of: DataFrame, idCol: String, cent: DataFrame, k: Int, keep: Int): DataFrame = {
    if (k < ivf2MinK) return ivfAssign(of, idCol, cent, keep)
    // cache-pin the quantizer (K-row relations): coarse is referenced
    // by both the branch map and the stage-1 pick, and ivfTopK calls
    // this twice (inverted lists + query probe) — the pins canonically
    // dedup in the CacheManager, so the coarse Lloyd pass trains ONCE
    // per operator instead of per call (r11 review fix)
    val coarse = graft.CacheRegistry.persistTracked(ivfCoarse(cent, coarseK(k)))
    val branches = graft.CacheRegistry.persistTracked(ivfBranches(cent, coarse))
    // LIVE coarse layer only: a refined coarse centroid can own ZERO
    // fine centroids (the classic empty-cluster case) — letting stage 1
    // pick such a gid would inner-join to nothing in stage 2 and
    // silently DROP the vector, breaking the one-decision-row-per-
    // vector contract (r11 advice, medium). Restricting the stage-1
    // candidates to gids that own >= 1 fine centroid keeps assignment
    // total; mirrored by the oracle's `glive` CTE.
    val glive = coarse.select(col("cid").as("gid"), col("c_emb").as("g_emb"))
      .join(branches.select(col("gid")).distinct(), Seq("gid"), "left_semi")
    val picked = nearestJoin(of, idCol, "embedding", glive, "gid", "g_emb", 1)
    // stage 2: the branch join is broadcast (branches is K rows), so the
    // picked frame's vector payload never re-shuffles — the slim score
    // frame collapses through [[pickTop]] on the stage-1 partitioning
    val slim2 = picked.select(col(idCol), col("embedding"), col("gid"))
      .join(broadcast(branches), "gid")
      .select(col(idCol), col("cid"),
        cosine(col("c_emb"), col("embedding")).as("__sim"))
    picked.drop("gid").join(pickTop(slim2, idCol, "cid", keep), Seq(idCol))
      .select(of.columns.map(col).toIndexedSeq :+ col("cid"): _*)
  }

  /** Per-vector scored-centroid mass of the two-level assignment —
    * stage 1 (sqrt(K) coarse per vector) + stage 2 (the picked branch's
    * width); spec aid for the ~2·sqrt(K) bound. */
  private[datapipe] def ivfScoredCentroids(
      emb: DataFrame, rounds: Int, k: Int): (Long, Long) = {
    val cent = (1 to rounds).foldLeft(ivfSeed(emb, k))((c, _) => ivfLloyd(emb, c))
    val coarse = ivfCoarse(cent, coarseK(k))
    val branches = ivfBranches(cent, coarse)
    val glive = coarse.select(col("cid").as("gid"), col("c_emb").as("g_emb"))
      .join(branches.select(col("gid")).distinct(), Seq("gid"), "left_semi")
    val picked = nearestJoin(emb, "vec_id", "embedding", glive, "gid", "g_emb", 1)
    val n = emb.count()
    val live = glive.count()
    val stage2 = picked.join(broadcast(branches.select(col("gid"))), "gid").count()
    (n, n * live + stage2)
  }

  /** One Lloyd step: per-cluster, per-dimension exact mean. */
  private def ivfLloyd(emb: DataFrame, cent: DataFrame): DataFrame =
    ivfAssign(emb, "vec_id", cent, 1)
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(sum(col("x").cast("decimal(20,10)")).cast("double") / count(lit(1)), 6).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), transform(col("pm"), p => p.getField("m")).as("c_emb"))

  /**
   * The production training loop: Lloyd rounds until the largest
   * per-centroid squared movement drops below `tol` (or `maxRounds`).
   * Each round's K centroids are COLLECTED to the driver — K x dim
   * doubles, the one payload that is legitimately driver-sized — both
   * to decide convergence and to rebuild the next round's centroid
   * frame as a literal (constant-depth plans instead of a re-evaluated
   * lazy chain; the broadcast side of every assignment is a local
   * relation). All heavy work — assignment and per-dimension means over
   * the full collection — stays distributed. Returns the final
   * centroids and the number of rounds run.
   */
  def ivfTrainConverged(
      emb: DataFrame,
      maxRounds: Int = 10,
      tol: Double = 1e-9): (Seq[(Long, Array[Double])], Int) = {
    val spark = emb.sparkSession
    import spark.implicits._
    def collectCent(df: DataFrame): Seq[(Long, Array[Double])] =
      df.collect().map { r =>
        (r.getLong(0), r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray)
      }.sortBy(_._1).toSeq
    def frame(c: Seq[(Long, Array[Double])]): DataFrame =
      c.map { case (id, v) => (id, v.toSeq) }.toDF("cid", "c_emb")
    var cent = collectCent(ivfSeed(emb))
    var rounds = 0
    var moved = Double.MaxValue
    while (rounds < maxRounds && moved > tol) {
      val next = collectCent(ivfLloyd(emb, frame(cent)))
      val prev = cent.toMap
      moved = next.map { case (id, v) =>
        prev.get(id).map(p => v.zip(p).map { case (a, b) =>
          (a - b) * (a - b)
        }.sum).getOrElse(Double.MaxValue)
      }.max
      cent = next
      rounds += 1
    }
    (cent, rounds)
  }

  def ivfTopK(emb: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "at least one Lloyd refinement")
    // the shared pinned trainer (r17-opt): the list build and the query
    // probe both reference the centroid table — unpinned, each replayed
    // the Lloyd aggregate
    val cent = trainedCentroids(emb, rounds, ivfCentroids)

    // collection-scale assignment is TWO-LEVEL (coarse -> branch): both
    // the inverted-list build and the query probe score ~2*sqrt(K)
    // centroids per vector, never all K (see [[ivfAssign2]])
    val lists = ivfAssign2(emb, "vec_id", cent, ivfCentroids, 1) // (vec_id, embedding, cid)
    val q = emb.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = ivfAssign2(q.withColumnRenamed("q_emb", "embedding"), "q_id",
        cent, ivfCentroids, ivfProbes)
      .withColumnRenamed("embedding", "q_emb") // (q_id, q_emb, cid) x probes
    val scored = probed.join(lists, "cid")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        cosine(col("q_emb"), col("embedding")).as("cos"))
      .distinct() // a neighbor can appear via both probed lists
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("sim"))
  }

  val ivfTopKSql: String = ivfTopKSql(1)

  /**
   * Shared oracle prefix for the IVF family: seed centroids + `rounds`
   * chained Lloyd-refinement CTEs, then the TWO-LEVEL quantizer mirror
   * of [[ivfAssign2]] — a `coarse` CTE (seed = fine centroids with
   * cid < ceil(sqrt(K)), one decimal-exact Lloyd refinement over the
   * centroid table), a `branches` CTE (fine centroid -> nearest coarse),
   * and a `lists` CTE assigning every vector through coarse-pick ->
   * in-branch fine pick. Returns the CTE text (opened with `WITH`, no
   * trailing comma) and the name of the final fine-centroid CTE;
   * consumers probing a query side reuse the `coarse`/`branches` CTEs
   * for the same two-level pick. `src` is the vector relation — the
   * `embeddings` table by default, or any aliased subquery producing
   * (vec_id, embedding) (e.g. the multimodal stub features).
   */
  private def ivfListsCtes(rounds: Int, src: String = "embeddings",
                           k: Int = ivfCentroids): (String, String) = {
    val simToC = cosineSql("c.c_emb", "e.embedding")
    val roundCtes = new StringBuilder
    // FLOAT elements are cast DECIMAL through an explicit DOUBLE hop:
    // DuckDB's direct FLOAT->DECIMAL goes via the float's shortest
    // decimal repr (0.1f -> 0.1000000000) while Spark casts via the
    // exact binary expansion (0.1f -> 0.1000000015) — a 10th-dp skew
    // that r12's IVFADC entry surfaced as a half-way 6dp rounding flip
    // in one codebook mean. FLOAT->DOUBLE->DECIMAL is the exact-binary
    // path in both engines.
    var prev = "seed"
    for (r <- 0 until rounds) {
      roundCtes ++=
        s"""assign$r AS (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |                            ORDER BY $simToC DESC, c.cid) AS rn
           |  FROM $src e, $prev c
           |  QUALIFY rn <= 1
           |),
           |dims$r AS (
           |  SELECT cid, unnest(embedding) AS x,
           |         unnest(range(1, len(embedding) + 1)) AS pos
           |  FROM assign$r
           |),
           |upd$r AS (
           |  SELECT cid, pos,
           |         round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS m
           |  FROM dims$r GROUP BY cid, pos
           |),
           |cent$r AS (SELECT cid, list(m ORDER BY pos) AS c_emb FROM upd$r GROUP BY cid),
           |""".stripMargin
      prev = s"cent$r"
    }
    if (k < ivf2MinK) {
      // FLAT regime (k below the two-level threshold — see [[ivf2MinK]]):
      // lists assign by scoring all K centroids, exactly the Spark path
      val text =
        s"""WITH seed AS (SELECT vec_id AS cid, embedding AS c_emb FROM $src s0 WHERE vec_id < $k),
           |${roundCtes}lists AS (
           |  SELECT e.vec_id, e.embedding, c.cid,
           |         row_number() OVER (PARTITION BY e.vec_id
           |                            ORDER BY $simToC DESC, c.cid) AS rn
           |  FROM $src e, $prev c
           |  QUALIFY rn <= 1
           |)""".stripMargin
      return (text, prev)
    }
    val kc = coarseK(k)
    val text =
      s"""WITH seed AS (SELECT vec_id AS cid, embedding AS c_emb FROM $src s0 WHERE vec_id < $k),
         |${roundCtes}gseed AS (SELECT cid, c_emb FROM $prev WHERE cid < $kc),
         |gasn AS (
         |  SELECT e.cid AS vcid, e.c_emb AS v_emb, c.cid,
         |         row_number() OVER (PARTITION BY e.cid
         |                            ORDER BY ${cosineSql("c.c_emb", "e.c_emb")} DESC, c.cid) AS rn
         |  FROM $prev e, gseed c
         |  QUALIFY rn <= 1
         |),
         |gdims AS (
         |  SELECT cid, unnest(v_emb) AS x,
         |         unnest(range(1, len(v_emb) + 1)) AS pos
         |  FROM gasn
         |),
         |gupd AS (
         |  SELECT cid, pos,
         |         round(CAST(sum(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS m
         |  FROM gdims GROUP BY cid, pos
         |),
         |coarse AS (SELECT cid AS gid, list(m ORDER BY pos) AS g_emb FROM gupd GROUP BY cid),
         |branches AS (
         |  SELECT f.cid, f.c_emb, g.gid,
         |         row_number() OVER (PARTITION BY f.cid
         |                            ORDER BY ${cosineSql("g.g_emb", "f.c_emb")} DESC, g.gid) AS brn
         |  FROM $prev f, coarse g
         |  QUALIFY brn = 1
         |),
         |glive AS (
         |  SELECT g.gid, g.g_emb FROM coarse g
         |  WHERE g.gid IN (SELECT gid FROM branches)
         |),
         |picked AS (
         |  SELECT e.vec_id, e.embedding, g.gid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ${cosineSql("g.g_emb", "e.embedding")} DESC, g.gid) AS prn
         |  FROM $src e, glive g
         |  QUALIFY prn = 1
         |),
         |lists AS (
         |  SELECT p.vec_id, p.embedding, b.cid,
         |         row_number() OVER (PARTITION BY p.vec_id
         |                            ORDER BY ${cosineSql("b.c_emb", "p.embedding")} DESC, b.cid) AS rn
         |  FROM picked p JOIN branches b ON b.gid = p.gid
         |  QUALIFY rn <= 1
         |)""".stripMargin
    (text, prev)
  }

  /** Probe-side CTEs over a `q0 (q_id, q_emb)` query CTE, mirroring the
    * assignment regime ([[ivf2MinK]]): flat = score all K fine centroids
    * per query; two-level = coarse pick then in-branch scoring, reusing
    * the [[ivfListsCtes]] prefix's coarse/branches. Ends with a
    * `probed (q_id, q_emb, cid)` CTE; shared by [[ivfTopKSql]] and
    * [[ivfpqTopKSql]]. */
  private def ivfProbeCtes(fine: String): String =
    if (ivfCentroids < ivf2MinK)
      s"""probed AS (
         |  SELECT q.q_id, q.q_emb, c.cid,
         |         row_number() OVER (PARTITION BY q.q_id
         |                            ORDER BY ${cosineSql("c.c_emb", "q.q_emb")} DESC, c.cid) AS prn2
         |  FROM q0 q, $fine c
         |  QUALIFY prn2 <= $ivfProbes
         |)""".stripMargin
    else
      s"""qpicked AS (
         |  SELECT q.q_id, q.q_emb, g.gid,
         |         row_number() OVER (PARTITION BY q.q_id
         |                            ORDER BY ${cosineSql("g.g_emb", "q.q_emb")} DESC, g.gid) AS qrn
         |  FROM q0 q, glive g
         |  QUALIFY qrn = 1
         |),
         |probed AS (
         |  SELECT p.q_id, p.q_emb, b.cid,
         |         row_number() OVER (PARTITION BY p.q_id
         |                            ORDER BY ${cosineSql("b.c_emb", "p.q_emb")} DESC, b.cid) AS prn2
         |  FROM qpicked p JOIN branches b ON b.gid = p.gid
         |  QUALIFY prn2 <= $ivfProbes
         |)""".stripMargin

  /** Mirror of [[ivfTopK]] with chained per-round CTEs; the query-side
    * probe runs the same two-level coarse->branch pick as the lists. */
  def ivfTopKSql(rounds: Int): String = {
    val simQ = cosineSql("p.q_emb", "e.embedding")
    val (prefix, fine) = ivfListsCtes(rounds)
    s"""$prefix,
       |q0 AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |       WHERE vec_id % $queryMod = 0),
       |${ivfProbeCtes(fine)},
       |scored AS (
       |  SELECT DISTINCT p.q_id, e.vec_id AS nbr_id, $simQ AS cos
       |  FROM probed p JOIN lists e ON e.cid = p.cid AND e.vec_id <> p.q_id
       |)
       |SELECT q_id, nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id) AS BIGINT) AS rnk,
       |       round(cos, 6) AS sim
       |FROM scored
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ---------------------------------------- product quantization (PQ/ADC)

  /** PQ geometry: `pqM` subspaces of `dim / pqM` dims, `pqK` centroids
    * per subspace codebook — each vector compresses to pqM small codes
    * (here 4 x 4 bits = 2 bytes against 256 raw bytes), the memory-bound
    * ANN path (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011). */
  val pqM = 4
  val pqK = 16

  /** Squared L2 over two numeric arrays — double-precision left fold,
    * bit-reproduced by the DuckDB rendering in [[pqL2Sql]]. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double")) *
                  (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  private def pqL2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      s"p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)), (acc, v) -> acc + v)"

  /** Subspace view: one row per (vector, subspace) with the sliced
    * sub-vector — a zero-shuffle projection + in-partition fan-out. */
  private def pqSubs(emb: DataFrame, m: Int, subDim: Int): DataFrame =
    emb.select(col("vec_id"),
        explode(array((0 until m).map(lit): _*)).as("m"), col("embedding"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(embedding, m * $subDim + 1, $subDim)").as("semb"))

  /** Per-subspace nearest codebook entry (min L2, ties -> lower cid):
    * broadcast codebook join + a map-side-combinable min(struct) — the
    * encode never shuffles the collection, the aggregate moves one
    * struct per (vector, subspace). */
  private def pqAssign(subs: DataFrame, cent: DataFrame): DataFrame =
    subs.join(broadcast(cent), "m")
      .withColumn("__d", l2sq(col("semb"), col("c_emb")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("__d"), col("cid"), col("c_emb"), col("semb"))).as("a"))
      .select(col("vec_id"), col("m"), col("a.cid").as("cid"),
        col("a.c_emb").as("c_emb"), col("a.semb").as("semb"))

  /** Deterministic PQ codebook: per-subspace seeds = the first `k`
    * vectors' sub-vectors, plus `rounds` exact Lloyd refinements with
    * the same decimal-exact means as the IVF trainer (order-independent
    * sums, one final double division + 6dp round), so DuckDB reproduces
    * the codebook bit-for-bit and [[pqTopK]] stays a hash compare. */
  private def pqTrain(subs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val seed = subs.where(col("vec_id") < k)
      .select(col("m"), col("vec_id").as("cid"), col("semb").as("c_emb"))
    (1 to rounds).foldLeft(seed) { (cent, _) =>
      pqAssign(subs, cent)
        .select(col("m"), col("cid"), posexplode(col("semb")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg(round(sum(col("x").cast("decimal(20,10)")).cast("double") / count(lit(1)), 6)
          .as("mv"))
        .groupBy(col("m"), col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("m"), col("cid"), transform(col("pm"), p => p.getField("mv")).as("c_emb"))
    }
  }

  /**
   * PQ approximate top-k: train the per-subspace codebooks, encode every
   * vector to its nearest codebook entries, and rank neighbors by the
   * cosine between the query and the RECONSTRUCTION (the concatenated
   * codebook entries) — the asymmetric-distance (ADC) estimate.
   *
   * Scale shape: training aggregates are keyed on (m, cid, pos) —
   * codebook-sized, never collection-sized; the encode is a broadcast
   * codebook join with a map-side-combinable argmin (the collection
   * never shuffles); reconstruction is a per-vector sort-collect of pqM
   * rows. At production scale the per-(query, subspace, code) dot
   * products are precomputed once into an M x K lookup table and each
   * candidate costs M table lookups instead of a D-dim dot — here the
   * reconstruction form computes the SAME estimate with the proven
   * deterministic fold, keeping the oracle a hash compare. Output ranks
   * by approximate similarity; `asim` is the ADC cosine estimate.
   */
  /** The persisted form of a PQ-compressed collection: one row per
    * vector with its ordered code array (pqM small ints — 2 bytes here
    * against 256 raw bytes) plus the trained codebook as a second frame.
    * A production pipeline bucket-writes BOTH once and serves ANN from
    * them; [[pqTopK]] is the query side over exactly this state (spec:
    * codes+codebook round-trip through parquet with identical
    * rankings). */
  def pqCompress(emb: DataFrame, m: Int = pqM, k: Int = pqK,
                 rounds: Int = 1): (DataFrame, DataFrame) = {
    require(m >= 1 && dim % m == 0, s"$m subspaces must divide dim=$dim")
    val sd = dim / m
    val subs = graft.CacheRegistry.persistTracked(pqSubs(emb, m, sd))
    // codebook pinned (r17-opt): m*k rows, but its lineage is the
    // subspace-scale training aggregate and BOTH the encode and the
    // caller's reconstruction broadcast reference it
    val cent = graft.CacheRegistry.persistTracked(pqTrain(subs, k, rounds))
    val codes = pqPack(pqAssign(subs, cent))
    (codes, cent)
  }

  /** Pack per-(vector, subspace) assignments into ordered code arrays —
    * the ONE packing both [[pqCompress]] and [[pqEncode]] use, so a
    * full build and a frozen-codebook append can never drift. */
  private def pqPack(assigned: DataFrame): DataFrame =
    assigned
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("cid")))).as("p"))
      .select(col("vec_id"), transform(col("p"), x => x.getField("cid")).as("codes"))

  /** ANN over a PERSISTED PQ collection (codes + codebook frames, e.g.
    * read back from parquet): reconstruct each candidate from its codes
    * and rank by ADC cosine — identical output to [[pqTopK]] when given
    * that call's own state AND query set. Queries carry exact vectors
    * and are served AS-IS (every row of `queries` is a query — the
    * benchmark-style `% queryMod` subsampling is the CALLER's slice,
    * never applied here, so externally supplied query sets with
    * arbitrary ids are not silently dropped). */
  def pqTopKFromCodes(queries: DataFrame, codes: DataFrame, cent: DataFrame): DataFrame = {
    val withEmb = codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "cid")))
      .join(broadcast(cent), Seq("m", "cid"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("cid"), col("c_emb")))).as("parts"))
      .select(col("vec_id"),
        flatten(transform(col("parts"), p => p.getField("c_emb"))).as("recon"))
    val q = queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = withEmb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        (dot(col("q_emb"), col("recon")) /
          (norm(col("q_emb")) * norm(col("recon")))).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("asim"))
  }

  def pqTopK(emb: DataFrame): DataFrame = pqTopK(emb, pqM, pqK, 1)

  /** `subDim` defaults to `dim / m` for the ACTUAL `m` argument (a
    * negative value means "derive") — a default tied to the constant
    * pqM would silently slice past the embedding for any other m. */
  def pqTopK(emb: DataFrame, m: Int, k: Int, rounds: Int, subDim: Int = -1): DataFrame = {
    require(m >= 1 && dim % m == 0, s"$m subspaces must divide dim=$dim")
    val sd = if (subDim > 0) subDim else dim / m
    require(m * sd <= dim, s"$m subspaces x $sd dims exceed dim=$dim")
    val subs = graft.CacheRegistry.persistTracked(pqSubs(emb, m, sd))
    val cent = pqTrain(subs, k, rounds)
    val rec = pqAssign(subs, cent)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("cid"), col("c_emb")))).as("parts"))
      .select(col("vec_id"), flatten(transform(col("parts"), p => p.getField("c_emb"))).as("recon"))
    val q = emb.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = rec.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        (dot(col("q_emb"), col("recon")) /
          (norm(col("q_emb")) * norm(col("recon")))).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("asim"))
  }

  /** Shared PQ oracle CTE block: sub-slice, seed, `rounds` chained Lloyd
    * refinements, encode, reconstruct — ends with a `recName (vec_id,
    * recon)` CTE over the `src` vector relation. No leading WITH /
    * trailing comma; used by [[pqTopKSql]], [[ivfpqTopKSql]], and (over
    * the residual CTE) [[ivfpqResTopKSql]] (CTE names are disjoint from
    * [[ivfListsCtes]]'s). */
  private def pqCtes(m: Int, k: Int, rounds: Int, subDim: Int,
                     src: String = "embeddings", recName: String = "rec"): String = {
    val roundCtes = new StringBuilder
    var prev = "pq_seed"
    for (r <- 0 until rounds) {
      roundCtes ++=
        s"""pa$r AS (
           |  SELECT s.vec_id, s.m, s.semb, c.cid,
           |         row_number() OVER (PARTITION BY s.vec_id, s.m
           |                            ORDER BY ${pqL2Sql("s.semb", "c.c_emb")} ASC, c.cid) AS rn
           |  FROM sub s JOIN $prev c ON c.m = s.m
           |  QUALIFY rn = 1
           |),
           |pd$r AS (
           |  SELECT m, cid, unnest(semb) AS x,
           |         unnest(range(1, len(semb) + 1)) AS pos
           |  FROM pa$r
           |),
           |pu$r AS (
           |  SELECT m, cid, pos,
           |         round(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS mv
           |  FROM pd$r GROUP BY m, cid, pos
           |),
           |pc$r AS (SELECT m, cid, list(mv ORDER BY pos) AS c_emb FROM pu$r GROUP BY m, cid),
           |""".stripMargin
      prev = s"pc$r"
    }
    s"""sub AS (
       |  SELECT vec_id, g.range AS m,
       |         embedding[g.range * $subDim + 1 : g.range * $subDim + $subDim] AS semb
       |  FROM $src, range(0, $m) g
       |),
       |pq_seed AS (SELECT m, vec_id AS cid, semb AS c_emb FROM sub WHERE vec_id < $k),
       |${roundCtes}enc AS (
       |  SELECT s.vec_id, s.m, c.c_emb,
       |         row_number() OVER (PARTITION BY s.vec_id, s.m
       |                            ORDER BY ${pqL2Sql("s.semb", "c.c_emb")} ASC, c.cid) AS rn
       |  FROM sub s JOIN $prev c ON c.m = s.m
       |  QUALIFY rn = 1
       |),
       |$recName AS (SELECT vec_id, flatten(list(c_emb ORDER BY m)) AS recon FROM enc GROUP BY vec_id)""".stripMargin
  }

  /** DuckDB mirror of [[pqTopK]] (sub-slice, seed, Lloyd, encode,
    * reconstruct, rank — every fold the ordered list_reduce form). */
  def pqTopKSql(m: Int = pqM, k: Int = pqK, rounds: Int = 1,
                subDimOpt: Int = -1): String = {
    val subDim = if (subDimOpt > 0) subDimOpt else dim / m
    val cos = cosineSql("q.q_emb", "r.recon")
    s"""WITH ${pqCtes(m, k, rounds, subDim)},
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |      WHERE vec_id % $queryMod = 0)
       |SELECT q.q_id, r.vec_id AS nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q.q_id
       |                               ORDER BY $cos DESC, r.vec_id) AS BIGINT) AS rnk,
       |       round($cos, 6) AS asim
       |FROM q JOIN rec r ON r.vec_id <> q.q_id
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ---------------------------------------------- refine re-rank (RFlat)

  /** Shortlist width multiplier for [[refineTopK]] — the FAISS
    * `IndexRefineFlat` k_factor: ADC proposes `refineFactor * topK`
    * candidates, the exact pass keeps topK. */
  val refineFactor = 4

  /**
   * REFINE re-rank (FAISS `IndexRefineFlat`, r14 wave 4) — the standard
   * two-stage serving pattern that repairs quantization recall at a
   * bounded exact-compute cost: the PQ/ADC estimate proposes a per-query
   * SHORTLIST of [[refineFactor]]·topK candidates from the compressed
   * codes, then ONLY those candidates are re-scored against their RAW
   * vectors and re-ranked exactly. An ADC near-miss inside the shortlist
   * is repaired; the final ordering and similarities are exact cosine,
   * not estimates.
   *
   * Scale shape: stage 1 is [[pqTopK]]'s plan (broadcast codebook,
   * per-query bounded rank window); stage 2's raw-vector fetch is a join
   * of the SLIM shortlist (queries × 4k id pairs — executor-small,
   * AQE-broadcast) against the collection, so raw vector mass moves
   * only for shortlisted candidates: per query the exact work is 4k
   * D-dim cosines instead of N. This is how a 10^10-vector deployment
   * gets exact-quality top-k without ever scanning raw floats.
   */
  def refineTopK(emb: DataFrame, m: Int = pqM, k: Int = pqK): DataFrame = {
    val (codes, cent) = pqCompress(emb, m, k)
    val q = emb.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // stage 1 — ADC shortlist from the compressed codes
    val recon = codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "cid")))
      .join(broadcast(cent), Seq("m", "cid"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("cid"), col("c_emb")))).as("parts"))
      .select(col("vec_id"),
        flatten(transform(col("parts"), p => p.getField("c_emb"))).as("recon"))
    val est = recon.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        (dot(col("q_emb"), col("recon")) /
          (norm(col("q_emb")) * norm(col("recon")))).as("est"))
    val w1 = Window.partitionBy("q_id").orderBy(col("est").desc, col("nbr_id").asc)
    val shortlist = est.withColumn("srnk", row_number().over(w1))
      .where(col("srnk") <= refineFactor * topK)
      .select(col("q_id"), col("nbr_id")) // slim: ids only
    // stage 2 — exact re-rank of the shortlist against raw vectors
    val exact = shortlist
      .join(emb.select(col("vec_id").as("nbr_id"), col("embedding").as("n_emb")), "nbr_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("nbr_id"),
        cosine(col("q_emb"), col("n_emb")).as("cos"))
    val w2 = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    exact.withColumn("rnk", row_number().over(w2))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("sim"))
  }

  /** DuckDB mirror of [[refineTopK]]: the pq CTE chain proposes the
    * shortlist, the outer query re-ranks it by exact cosine. */
  def refineTopKSql(m: Int = pqM, k: Int = pqK): String = {
    val subDim = dim / m
    val estCos = cosineSql("q.q_emb", "r.recon")
    val cos = cosineSql("q.q_emb", "e.embedding")
    s"""WITH ${pqCtes(m, k, 1, subDim)},
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |      WHERE vec_id % $queryMod = 0),
       |shortlist AS (
       |  SELECT q.q_id, r.vec_id AS nbr_id,
       |         row_number() OVER (PARTITION BY q.q_id
       |                            ORDER BY $estCos DESC, r.vec_id) AS srnk
       |  FROM q JOIN rec r ON r.vec_id <> q.q_id
       |  QUALIFY srnk <= ${refineFactor * topK}
       |)
       |SELECT s.q_id, s.nbr_id,
       |       CAST(row_number() OVER (PARTITION BY s.q_id
       |                               ORDER BY $cos DESC, s.nbr_id) AS BIGINT) AS rnk,
       |       round($cos, 6) AS sim
       |FROM shortlist s
       |JOIN embeddings e ON e.vec_id = s.nbr_id
       |JOIN q ON q.q_id = s.q_id
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ------------------------------------------- scalar quantization (SQ8)

  /**
   * SQ8 scalar quantization — the remaining classic vector storage form
   * (FAISS `ScalarQuantizer` QT_8bit): each dimension is trained to its
   * collection [min, max] and every float becomes ONE byte,
   * `code = round((x - lo) / (hi - lo) * 255)`. 4x compression with a
   * per-dimension reconstruction error bounded by (hi - lo) / 510 —
   * cheaper to encode than PQ (no codebook training) and the standard
   * middle ground between raw floats and PQ codes.
   *
   * Scale shape: training is ONE map-side-combinable min/max aggregate
   * keyed on dimension position (output = dim rows, collapsed to a
   * 1-row lo/hi array frame that broadcasts anywhere); encode and decode
   * are pure per-row projections (`transform` over the array with the
   * broadcast bounds — the collection never shuffles and nothing is
   * exploded). Every float op is a fixed-order double chain, so the
   * DuckDB mirror is bit-identical, not luck-identical (see [[dotSql]]).
   *
   * Training on the collection itself bounds `(x - lo) / (hi - lo)` in
   * [0, 1] exactly (x = hi divides to exactly 1.0 in IEEE), so codes
   * need no clamp HERE; [[sq8Encode]] still clamps for the serve/append
   * case where out-of-train-range vectors arrive.
   */
  def sq8Stats(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("lo"), col("hi")))).as("s"))
      .select(transform(col("s"), p => p.getField("lo")).as("lo"),
        transform(col("s"), p => p.getField("hi")).as("hi"))

  /** Per-row byte-code projection against a broadcast 1-row [[sq8Stats]]
    * frame; clamped to [0, 255] for vectors OUTSIDE the trained range
    * (an appended shard's tails saturate, as in FAISS). */
  def sq8Encode(emb: DataFrame, stats: DataFrame): DataFrame =
    emb.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) => {
          val lo = element_at(col("lo"), i + 1).cast("double")
          val hi = element_at(col("hi"), i + 1).cast("double")
          when(hi - lo === 0.0, lit(0))
            .otherwise(greatest(lit(0), least(lit(255),
              round((x.cast("double") - lo) / (hi - lo) * 255).cast("int"))))
        }).as("codes"))

  /** Reconstruction `lo + (code * (hi - lo)) / 255` — the dequantized
    * double array the ADC estimate ranks against. */
  def sq8Decode(codes: DataFrame, stats: DataFrame): DataFrame =
    codes.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        transform(col("codes"), (c, i) => {
          val lo = element_at(col("lo"), i + 1).cast("double")
          val hi = element_at(col("hi"), i + 1).cast("double")
          lo + (c.cast("double") * (hi - lo)) / lit(255.0)
        }).as("recon"))

  /** The persisted SQ8 collection: byte codes + the 1-row bounds frame
    * (the two frames a production pipeline bucket-writes and serves
    * from — spec round-trips them through parquet). */
  def sq8Compress(emb: DataFrame): (DataFrame, DataFrame) = {
    val stats = sq8Stats(emb)
    (sq8Encode(emb, stats), stats)
  }

  /** The SQ8 serve phase standing alone: exact queries (`q_id, q_emb`)
    * ranked against a dequantized `(vec_id, recon)` collection — same
    * shape as [[pqTopK]]'s: broadcast query set, per-query bounded
    * top-k window, collection never shuffles. */
  def sq8Rank(rec: DataFrame, q: DataFrame): DataFrame = {
    val scored = rec.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        (dot(col("q_emb"), col("recon")) /
          (norm(col("q_emb")) * norm(col("recon")))).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("asim"))
  }

  /** SQ8 approximate top-k: exact queries ranked against the
    * DEQUANTIZED collection (the SQ asymmetric estimate). */
  def sq8TopK(emb: DataFrame): DataFrame = {
    val (codes, stats) = sq8Compress(emb)
    sq8Rank(sq8Decode(codes, stats),
      emb.where(col("vec_id") % queryMod === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
  }

  /** PERSISTED SQ8 deployment split (the [[ivfpqIndex]] pattern at the
    * scalar-quantizer tier): byte codes + the 1-row bounds frame
    * bucket-written once; serving dequantizes and ranks from the
    * disk-resident artifact — 1 byte/dim on disk, no raw float vector
    * in any persisted frame. */
  def sq8Write(emb: DataFrame, dir: String): Unit = {
    val (codes, stats) = sq8Compress(emb)
    graft.Artifact.write(dir, "sq8", Nil, Seq("codes" -> codes, "stats" -> stats))
  }

  /** FAISS-style `add()` for the persisted SQ8 artifact: new vectors
    * encode against the FROZEN per-dimension bounds (out-of-range tails
    * SATURATE at 0/255 — the documented clamp contract, exactly FAISS's
    * trained-ScalarQuantizer behavior) and append atomically via
    * [[graft.Artifact.update]]. The bounds are NOT
    * retrained — vec_id disjointness is the caller's contract, as with
    * [[ivfpqAppend]]. */
  def sq8Append(spark: org.apache.spark.sql.SparkSession, dir: String,
                newVecs: DataFrame): Unit = {
    val stats = graft.Artifact.read(spark, dir, "sq8")("stats")
    graft.Artifact.update(dir, appends = Seq("codes" -> sq8Encode(newVecs, stats)))
  }

  /** Serve top-k from the disk-resident SQ8 artifact (codes read
    * recursively so [[sq8Append]] shards are visible). */
  def sq8ServeFromDir(spark: org.apache.spark.sql.SparkSession, dir: String,
                      q: DataFrame): DataFrame = {
    val a = graft.Artifact.read(spark, dir, "sq8")
    sq8Rank(sq8Decode(a("codes"), a("stats")), q)
  }

  /** DuckDB mirror of [[sq8TopK]] — the train/encode/decode chain
    * rendered with the same fixed double op order (DuckDB list lambdas
    * index 1-based where Spark's are 0-based; both sides read the same
    * element). `trainPred` restricts the BOUNDS training set (the
    * frozen-bounds append deployment: bounds from the base shard,
    * everything encoded against them — out-of-range appends exercise
    * the saturation clamp, mirrored here exactly as [[sq8Encode]]
    * computes it). */
  /** Shared SQ8 oracle CTE block: bounds training (over `trainPred`),
    * clamped encode, dequantize — ends with `sq8rec (vec_id, recon)`.
    * No leading WITH / trailing comma; CTE names disjoint from
    * [[pqCtes]]'s and [[ivfListsCtes]]'s so the blocks compose. */
  private def sq8RecCtes(trainPred: String): String = {
    val code = "greatest(CAST(0 AS DOUBLE), least(CAST(255 AS DOUBLE), " +
      "round((x::DOUBLE - st.lo[i]::DOUBLE) / " +
      "(st.hi[i]::DOUBLE - st.lo[i]::DOUBLE) * 255)))"
    val dq = "CASE WHEN st.hi[i]::DOUBLE - st.lo[i]::DOUBLE = 0 THEN st.lo[i]::DOUBLE " +
      s"ELSE st.lo[i]::DOUBLE + ($code * " +
      "(st.hi[i]::DOUBLE - st.lo[i]::DOUBLE)) / 255.0 END"
    s"""px AS (
       |  SELECT unnest(embedding) AS x,
       |         unnest(range(1, len(embedding) + 1)) AS pos
       |  FROM embeddings WHERE $trainPred
       |),
       |dimstats AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM px GROUP BY pos),
       |st AS (SELECT list(lo ORDER BY pos) AS lo, list(hi ORDER BY pos) AS hi FROM dimstats),
       |sq8rec AS (
       |  SELECT e.vec_id,
       |         list_transform(e.embedding, (x, i) -> $dq) AS recon
       |  FROM embeddings e, st
       |)""".stripMargin
  }

  def sq8TopKSql(trainPred: String = "true"): String = {
    val cos = cosineSql("q.q_emb", "r.recon")
    s"""WITH ${sq8RecCtes(trainPred)},
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |      WHERE vec_id % $queryMod = 0)
       |SELECT q.q_id, r.vec_id AS nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q.q_id
       |                               ORDER BY $cos DESC, r.vec_id) AS BIGINT) AS rnk,
       |       round($cos, 6) AS asim
       |FROM q JOIN sq8rec r ON r.vec_id <> q.q_id
       |QUALIFY rnk <= $topK""".stripMargin
  }

  /**
   * IVFSQ — inverted lists RESTRICT the scan, SQ8 dequantizations RANK
   * it (FAISS `IVFScalarQuantizer`): the same composed serving
   * architecture as [[ivfpqTopK]] with the scalar quantizer in the
   * storage tier — 1 byte/dim codes instead of PQ's sub-codebooks, no
   * codebook training, one map-side bounds aggregate. Same scale shape:
   * list assignment exchanges the vector mass once, the SQ8 encode and
   * decode are pure projections against the broadcast bounds, the
   * probe join carries slim (q_id, nbr_id, cos) rows only.
   */
  def ivfSq8TopK(emb: DataFrame, rounds: Int = 1,
                 k: Int = ivfCentroids): DataFrame = {
    require(rounds >= 1, "at least one Lloyd refinement")
    val cent = trainedCentroids(emb, rounds, k)
    val lists = ivfAssign2(emb, "vec_id", cent, k, 1)
      .select(col("vec_id"), col("cid"))
    val (codes, stats) = sq8Compress(emb)
    ivfRankRecon(emb, sq8Decode(codes, stats).join(lists, "vec_id"), cent, k)
  }

  /** DuckDB mirror of [[ivfSq8TopK]]: the IVF family prefix + the SQ8
    * dequantize block + the shared probe CTEs. */
  def ivfSq8TopKSql(rounds: Int = 1): String = {
    val (prefix, fine) = ivfListsCtes(rounds)
    val cos = cosineSql("p.q_emb", "r.recon")
    s"""$prefix,
       |${sq8RecCtes("true")},
       |q0 AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |       WHERE vec_id % $queryMod = 0),
       |${ivfProbeCtes(fine)},
       |scored AS (
       |  SELECT DISTINCT p.q_id, l.vec_id AS nbr_id, $cos AS cos
       |  FROM probed p
       |  JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.q_id
       |  JOIN sq8rec r ON r.vec_id = l.vec_id
       |)
       |SELECT q_id, nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id) AS BIGINT) AS rnk,
       |       round(cos, 6) AS asim
       |FROM scored
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ------------------------------------------------ IVF + PQ (IVFADC)

  /**
   * IVFADC — the composed 10^10-vector serving architecture (Jégou et
   * al. 2011; FAISS `IVFPQ`): the IVF coarse structure restricts each
   * query to its probed inverted lists, and within those lists
   * candidates are ranked by the PQ asymmetric-distance estimate (the
   * cosine between the query's exact vector and the candidate's
   * codebook RECONSTRUCTION) — so the collection is SERVED from the
   * compressed storage form ([[pqCompress]]'s codes + codebook frames),
   * never from raw vectors.
   *
   * Scale shape: list assignment is the two-level [[ivfAssign2]] pick
   * (~2·√K flops/vector, one exchange of the vector mass); the PQ encode
   * is a broadcast-codebook map-side argmin (the collection never
   * shuffles for it); the codes⋈lists attach is one co-partitionable
   * join on vec_id — in production both frames are bucket-written once
   * on vec_id and the attach is zero-shuffle. Per query the scan cost
   * is |probed lists| reconstructions of pqM codebook rows each, not
   * N — and the candidate payload is 2 bytes/vector of codes against
   * 256 raw. Codes here encode the RAW vector (FAISS
   * `by_residual=false`); residual encoding (codes over `v − c_emb`) is
   * the production accuracy lever, the same dataflow with one extra
   * broadcast-join subtraction before [[pqSubs]].
   * Output: `(q_id, nbr_id, rnk, asim)`, rnk by ADC cosine (ties →
   * lower nbr_id), mirrored CTE-for-CTE by [[ivfpqTopKSql]].
   */
  def ivfpqTopK(emb: DataFrame): DataFrame = ivfpqTopK(emb, 1)

  def ivfpqTopK(emb: DataFrame, rounds: Int, k: Int = ivfCentroids,
                m: Int = pqM, pk: Int = pqK, pqRounds: Int = 1): DataFrame = {
    require(rounds >= 1, "at least one Lloyd refinement")
    val cent = trainedCentroids(emb, rounds, k)
    // inverted lists, slim: the raw vector is DROPPED after assignment —
    // candidates are served from the PQ storage form only
    val lists = ivfAssign2(emb, "vec_id", cent, k, 1)
      .select(col("vec_id"), col("cid"))
    val (codes, cb) = pqCompress(emb, m, pk, pqRounds)
    val rec = codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "cid")))
      .join(broadcast(cb), Seq("m", "cid"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("cid"), col("c_emb")))).as("parts"))
      .select(col("vec_id"),
        flatten(transform(col("parts"), p => p.getField("c_emb"))).as("recon"))
    ivfRankRecon(emb, rec.join(lists, "vec_id"), cent, k)
  }

  /** Shared IVF reconstruction ranker (r14 review de-dup — this tail
    * existed in three near-identical copies): queries subsample →
    * probe assignment → cid-join with self-exclusion → reconstruction
    * cosine (DISTINCT: multiprobe can reach a candidate through two
    * lists) → per-query bounded top-k. `cands` is (vec_id, recon, cid);
    * used by [[ivfpqTopK]] (PQ reconstructions) and [[ivfSq8TopK]]
    * (SQ8 dequantizations). */
  private def ivfRankRecon(emb: DataFrame, cands: DataFrame,
                           cent: DataFrame, k: Int): DataFrame = {
    val q = emb.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = ivfAssign2(q.withColumnRenamed("q_emb", "embedding"), "q_id",
        cent, k, ivfProbes)
      .withColumnRenamed("embedding", "q_emb") // (q_id, q_emb, cid) x probes
    val scored = probed.join(cands, "cid")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        (dot(col("q_emb"), col("recon")) /
          (norm(col("q_emb")) * norm(col("recon")))).as("cos"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("asim"))
  }

  /** DuckDB mirror of [[ivfpqTopK]]: the IVF family prefix (seed, Lloyd,
    * two-level lists when K ≥ [[ivf2MinK]]) + the PQ block ([[pqCtes]] —
    * CTE names disjoint by construction) + the same probe CTEs as
    * [[ivfTopKSql]], ranked by the reconstruction cosine. */
  def ivfpqTopKSql(rounds: Int = 1): String = {
    val (prefix, fine) = ivfListsCtes(rounds)
    val cos = cosineSql("p.q_emb", "r.recon")
    s"""$prefix,
       |${pqCtes(pqM, pqK, 1, dim / pqM)},
       |q0 AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |       WHERE vec_id % $queryMod = 0),
       |${ivfProbeCtes(fine)},
       |scored AS (
       |  SELECT DISTINCT p.q_id, l.vec_id AS nbr_id, $cos AS cos
       |  FROM probed p
       |  JOIN lists l ON l.cid = p.cid AND l.vec_id <> p.q_id
       |  JOIN rec r ON r.vec_id = l.vec_id
       |)
       |SELECT q_id, nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id) AS BIGINT) AS rnk,
       |       round(cos, 6) AS asim
       |FROM scored
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ------------------------------------------------ IVFADC persisted form

  /**
   * Persisted IVFADC index — the production artifact [[ivfpqTopK]]'s
   * scaladoc claims ("serve from ~2-byte codes"), made concrete (r13):
   * `packed` holds ONE slim row per collection vector — its inverted-list
   * id and PQ code array joined on vec_id (codes ⋈ lists) — written to
   * parquet once; `cent` (coarse quantizer) and `cb` (PQ codebook) are
   * the K-row trained artifacts the serving side broadcasts. The raw
   * collection vectors appear in NO persisted frame: serving
   * reconstructs from codes only, so the on-disk index is ~2 bytes +
   * list id per vector instead of the full embedding.
   */
  case class IvfpqIndex(packed: DataFrame, cent: DataFrame, cb: DataFrame,
                        k: Int, m: Int, residual: Boolean) {
    /** `(k, m, residual)` ride in the manifest: the serving side MUST
      * probe with the trainer's k (the flat/two-level quantizer regime
      * keys on it), decode with the trainer's m (a mismatched subspace
      * count silently empties or corrupts the reconstruction join), and
      * reconstruct in the trainer's encoding (raw vs residual codes are
      * not interchangeable), so they are not free parameters (r13 review
      * fix). The three tables overlap their writes (r18, guide §2.6);
      * the trained inputs they share are cache-pinned, and concurrent
      * materialization of a pinned frame is block-locked. */
    def write(dir: String): Unit =
      graft.Artifact.write(dir, "ivfpq", Seq("k" -> k, "m" -> m, "residual" -> residual),
        Seq("packed" -> packed, "cent" -> cent, "cb" -> cb))
  }
  object IvfpqIndex {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): IvfpqIndex = {
      val a = graft.Artifact.read(spark, dir, "ivfpq")
      IvfpqIndex(a("packed"), a("cent"), a("cb"), a.params("k").toInt,
        a.params("m").toInt, a.params("residual").toBoolean)
    }
  }

  /** Train + encode half of the deployment split: [[ivfpqTopK]]'s exact
    * training dataflow (same coarse quantizer, same inverted lists, same
    * PQ codebook and codes), materialized as an [[IvfpqIndex]]. */
  def ivfpqIndex(emb: DataFrame, rounds: Int = 1, k: Int = ivfCentroids,
                 m: Int = pqM, pk: Int = pqK, pqRounds: Int = 1): IvfpqIndex = {
    require(rounds >= 1, "at least one Lloyd refinement")
    val cent = trainedCentroids(emb, rounds, k)
    val lists = ivfAssign2(emb, "vec_id", cent, k, 1)
      .select(col("vec_id"), col("cid"))
    val (codes, cb) = pqCompress(emb, m, pk, pqRounds)
    IvfpqIndex(codes.join(lists, "vec_id"), cent, cb, k, m, residual = false)
  }

  /**
   * Serving half over a PERSISTED index (e.g. read back from parquet):
   * probe the coarse quantizer with the query vectors, scan only the
   * probed inverted lists, reconstruct candidates from their codes and
   * rank by ADC cosine — output identical to [[ivfpqTopK]] over the same
   * collection (ties, 6dp rounding and all; IvfpqFileSpec pins the
   * equality).
   *
   * Zero vector-payload exchange on the collection side: reconstruction
   * is `m` per-subspace BROADCAST joins into the packed scan (the
   * codebook is K-row, so each join is map-side; the concatenated parts
   * equal [[ivfpqTopK]]'s sorted-collect flatten by construction), the
   * probe frame (queries × probes, query-sized) broadcasts onto it, and
   * the vector columns drop in the same projection — so between the
   * packed scan and the output, the only rows that ever shuffle are slim
   * `(q_id, nbr_id, cos)` triples (IvfpqFileSpec pins this on the
   * executed plan). `queries` rows are served AS-IS (`(q_id, embedding)`
   * — any benchmark-style subsampling is the caller's slice).
   */
  def ivfpqServe(queries: DataFrame, idx: IvfpqIndex): DataFrame = {
    require(!idx.residual, "index holds RESIDUAL codes — serve with ivfpqResServe")
    servePacked(queries, idx)
  }

  /** Serving half of the RESIDUAL deployment split ([[ivfpqResIndex]]):
    * identical dataflow to [[ivfpqServe]] with one extra map-side
    * broadcast join — candidates reconstruct as `c_emb(cid) + decoded
    * residual` (the K-row centroid table attaches on the packed list id
    * in the scan stage, so the zero-vector-payload-exchange property is
    * unchanged). Output identical to [[ivfpqResTopK]] over the same
    * collection. */
  def ivfpqResServe(queries: DataFrame, idx: IvfpqIndex): DataFrame = {
    require(idx.residual, "index holds RAW codes — serve with ivfpqServe")
    servePacked(queries, idx)
  }

  private def servePacked(queries: DataFrame, idx: IvfpqIndex): DataFrame = {
    val IvfpqIndex(_, _, _, k, m, residual) = idx
    val probed = ivfAssign2(
        queries.select(col("q_id"), col("embedding")), "q_id",
        idx.cent, k, ivfProbes)
      .withColumnRenamed("embedding", "q_emb")
    var cand = idx.packed
    for (mi <- 0 until m) {
      val cbm = idx.cb.where(col("m") === mi)
        .select(col("cid").as(s"__c$mi"), col("c_emb").as(s"__e$mi"))
      cand = cand.join(broadcast(cbm),
        element_at(col("codes"), mi + 1) === col(s"__c$mi"))
    }
    val decoded = concat((0 until m).map(mi => col(s"__e$mi")): _*)
    val recon =
      if (!residual) decoded
      else {
        // centroid + decoded residual, attached map-side (K-row join on
        // the packed list id)
        val centSlim = idx.cent.select(col("cid").as("__lcid"),
          col("c_emb").as("__lc_emb"))
        cand = cand.join(broadcast(centSlim), col("cid") === col("__lcid"))
        zip_with(col("__lc_emb"), decoded, (a, b) => a + b)
      }
    val scored = cand.join(broadcast(probed), "cid")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        (dot(col("q_emb"), recon) /
          (norm(col("q_emb")) * norm(recon))).as("cos"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("asim"))
  }

  /** Train + encode half of the RESIDUAL deployment split: the
    * [[ivfpqResTopK]] training dataflow (residual PQ codebook over
    * `v − c_emb(cid)`), materialized as an [[IvfpqIndex]] — same
    * artifact shape as [[ivfpqIndex]] (codes ⋈ lists + quantizer +
    * codebook), only the codes' meaning differs (FAISS
    * `by_residual=true`). */
  def ivfpqResIndex(emb: DataFrame, rounds: Int = 1, k: Int = ivfCentroids,
                    m: Int = pqM, pk: Int = pqK, pqRounds: Int = 1): IvfpqIndex = {
    require(rounds >= 1, "at least one Lloyd refinement")
    val cent = trainedCentroids(emb, rounds, k)
    val lists = ivfAssign2(emb, "vec_id", cent, k, 1)
    val centSlim = cent.select(col("cid"), col("c_emb"))
    // pinned for the same reason as ivfpqResTopK's res frame: both the
    // PQ compress and the packed join consume it
    val res = graft.CacheRegistry.persistTracked(
      lists.join(broadcast(centSlim), "cid")
        .select(col("vec_id"), col("cid"),
          zip_with(col("embedding"), col("c_emb"),
            (x, y) => x.cast("double") - y.cast("double")).as("embedding")))
    val (codes, cb) = pqCompress(res.select(col("vec_id"), col("embedding")), m, pk, pqRounds)
    IvfpqIndex(codes.join(res.select(col("vec_id"), col("cid")), "vec_id"), cent, cb,
      k, m, residual = true)
  }

  /** Encode vectors against a FROZEN per-subspace codebook — the encode
    * half of [[pqCompress]] standing alone (broadcast-codebook map-side
    * argmin; the collection never shuffles). The building block of
    * [[ivfpqAppend]]'s FAISS-style `add()`. */
  def pqEncode(emb: DataFrame, cb: DataFrame, m: Int = pqM): DataFrame = {
    require(m >= 1 && dim % m == 0, s"$m subspaces must divide dim=$dim")
    pqPack(pqAssign(pqSubs(emb, m, dim / m), cb))
  }

  /**
   * FAISS `add()` (r13): encode NEW vectors against a persisted index's
   * FROZEN quantizer and codebook and append their packed rows — the
   * existing artifact files and every trained parameter stay untouched,
   * which is the production ingest contract (retraining the quantizer
   * would invalidate every previously-encoded vector). The artifact's
   * manifest decides the encoding: raw indexes append raw codes, residual
   * indexes subtract the list centroid before encoding (both map-side
   * broadcast joins). The caller owns vec_id disjointness, as with the
   * gate appends.
   */
  def ivfpqAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
                  newVecs: DataFrame): Unit = {
    val idx = IvfpqIndex.read(spark, dir)
    val IvfpqIndex(_, _, _, k, m, residual) = idx
    val lists = ivfAssign2(newVecs, "vec_id", idx.cent, k, 1)
      .select(col("vec_id"), col("cid"))
    val toEncode =
      if (!residual) newVecs.select(col("vec_id"), col("embedding"))
      else {
        val centSlim = idx.cent.select(col("cid"), col("c_emb"))
        lists.join(newVecs.select(col("vec_id"), col("embedding")), "vec_id")
          .join(broadcast(centSlim), "cid")
          .select(col("vec_id"),
            zip_with(col("embedding"), col("c_emb"),
              (x, y) => x.cast("double") - y.cast("double")).as("embedding"))
      }
    graft.Artifact.update(dir,
      appends = Seq("packed" -> pqEncode(toEncode, idx.cb, m).join(lists, "vec_id")))
  }

  /**
   * RESIDUAL-encoded IVFADC (FAISS `by_residual=true` — the production
   * accuracy lever [[ivfpqTopK]]'s scaladoc documents): PQ encodes each
   * vector's DISPLACEMENT from its list centroid (`v − c_emb(cid)`)
   * instead of the raw vector, so the codebooks spend their 2 bytes on
   * the in-cell geometry the coarse quantizer already localized —
   * strictly finer quantization whenever the cells are tighter than the
   * global spread. A candidate reconstructs as
   * `c_emb(cid) + decode(codes)`; everything else (two-level list
   * assignment, broadcast-codebook map-side encode, probed-list
   * restriction, ADC cosine ranking) is [[ivfpqTopK]]'s dataflow with
   * one extra broadcast-join subtraction before the subspace slice and
   * one broadcast-join addition after decode — both map-side, the
   * collection still crosses ONE exchange for assignment. Mirrored
   * CTE-for-CTE by [[ivfpqResTopKSql]].
   */
  def ivfpqResTopK(emb: DataFrame): DataFrame = ivfpqResTopK(emb, 1)

  def ivfpqResTopK(emb: DataFrame, rounds: Int, k: Int = ivfCentroids,
                   m: Int = pqM, pk: Int = pqK, pqRounds: Int = 1): DataFrame = {
    require(rounds >= 1, "at least one Lloyd refinement")
    val cent = trainedCentroids(emb, rounds, k)
    val lists = ivfAssign2(emb, "vec_id", cent, k, 1) // (vec_id, embedding, cid)
    val centSlim = cent.select(col("cid"), col("c_emb"))
    // residuals: double arrays (float minus double mean, IEEE-identical
    // in both engines). PINNED: referenced by both the PQ compress and
    // the reconstruction's cid re-join — unpinned, the second lineage
    // would re-run the collection-scale IVF assignment (r12 review fix)
    val res = graft.CacheRegistry.persistTracked(
      lists.join(broadcast(centSlim), "cid")
        .select(col("vec_id"), col("cid"),
          zip_with(col("embedding"), col("c_emb"),
            (x, y) => x.cast("double") - y.cast("double")).as("embedding")))
    val (codes, cb) = pqCompress(res.select(col("vec_id"), col("embedding")), m, pk, pqRounds)
    val rres = codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "cid")))
      .join(broadcast(cb), Seq("m", "cid"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("cid"), col("c_emb")))).as("parts"))
      .select(col("vec_id"),
        flatten(transform(col("parts"), p => p.getField("c_emb"))).as("rres"))
    val rec = rres.join(res.select(col("vec_id"), col("cid")), "vec_id")
      .join(broadcast(centSlim), "cid")
      .select(col("vec_id"), col("cid"),
        zip_with(col("c_emb"), col("rres"), (a, b) => a + b).as("recon"))
    val q = emb.where(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = ivfAssign2(q.withColumnRenamed("q_emb", "embedding"), "q_id",
        cent, k, ivfProbes)
      .withColumnRenamed("embedding", "q_emb")
    val scored = probed.join(rec, "cid")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        (dot(col("q_emb"), col("recon")) /
          (norm(col("q_emb")) * norm(col("recon")))).as("cos"))
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("nbr_id"), col("rnk").cast("long").as("rnk"),
        round(col("cos"), 6).as("asim"))
  }

  /** DuckDB mirror of [[ivfpqResTopK]]: the IVF prefix, a residual CTE
    * (`lists` minus the list centroid), the PQ block over it, and the
    * centroid-plus-decoded-residual reconstruction. */
  def ivfpqResTopKSql(rounds: Int = 1): String = {
    val (prefix, fine) = ivfListsCtes(rounds)
    val cos = cosineSql("p.q_emb", "r.recon")
    s"""$prefix,
       |res AS (
       |  SELECT l.vec_id, l.cid,
       |         list_transform(list_zip(l.embedding, c.c_emb),
       |                        p -> p[1]::DOUBLE - p[2]::DOUBLE) AS embedding
       |  FROM lists l JOIN $fine c ON c.cid = l.cid
       |),
       |${pqCtes(pqM, pqK, 1, dim / pqM, src = "res", recName = "rres")},
       |rec AS (
       |  SELECT r.vec_id, s.cid,
       |         list_transform(list_zip(c.c_emb, r.recon),
       |                        p -> p[1]::DOUBLE + p[2]::DOUBLE) AS recon
       |  FROM rres r JOIN res s ON s.vec_id = r.vec_id
       |              JOIN $fine c ON c.cid = s.cid
       |),
       |q0 AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |       WHERE vec_id % $queryMod = 0),
       |${ivfProbeCtes(fine)},
       |scored AS (
       |  SELECT DISTINCT p.q_id, r.vec_id AS nbr_id, $cos AS cos
       |  FROM probed p
       |  JOIN rec r ON r.cid = p.cid AND r.vec_id <> p.q_id
       |)
       |SELECT q_id, nbr_id,
       |       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id) AS BIGINT) AS rnk,
       |       round(cos, 6) AS asim
       |FROM scored
       |QUALIFY rnk <= $topK""".stripMargin
  }

  // ---------------------------------------------- semantic dedup (SemDeDup)

  /** Cosine threshold above which two same-cluster vectors count as
    * semantic duplicates. */
  val sdTau = 0.35

  /** Centroid count sized to the collection — the "K tracks
    * N/targetClusterSize" rule as a first-class helper (the IVF/SemDeDup
    * twin of [[lshPlanesFor]]): expected cluster population stays
    * `targetClusterSize` as the corpus grows, so [[semanticDedup]]'s
    * within-cluster pair cost and [[ivfTopK]]'s per-probe scan cost stay
    * CONSTANT per vector. Clamped below by the test-corpus default and
    * above by a centroid table that must stay broadcastable. */
  def ivfCentroidsFor(n: Long, targetClusterSize: Int = 256): Int =
    math.max(ivfCentroids.toLong,
      math.min(65536L, n / math.max(1L, targetClusterSize.toLong))).toInt

  /**
   * SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
   * efficient learning at web-scale through semantic deduplication",
   * 2023): cluster the embedding space with the IVF coarse quantizer
   * ([[ivfSeed]] + exact Lloyd refinement — the same deterministic
   * trainer as [[ivfTopK]], so the oracle stays a hash compare), then
   * compare vectors pairwise ONLY within a cluster and drop every vector
   * that has a lower-id cluster-mate at cosine >= [[sdTau]].
   *
   * Output is the full dedup DECISION — one row per vector:
   * `(vec_id, cid, keep, dup_of, sim)` where `dup_of` is the strongest
   * lower-id same-cluster duplicate (ties -> lower id) and `keep` marks
   * the survivors. Keep-first-id is the same deterministic policy as the
   * exact-dedup family; SemDeDup's keep-farthest-from-centroid variant is
   * a different ORDER BY on the same pair frame.
   *
   * Scale: the quadratic term is within-cluster only — K tracks
   * N / targetClusterSize (grow `k` like [[lshPlanesFor]] grows planes),
   * so per-cluster pair cost stays constant as the corpus grows.
   * Assignment is a broadcast-centroids map-side pass (no shuffle of the
   * collection); the pair join shuffles once on `cid`; the best-mate pick
   * is a per-vector window. This is the published recipe's dataflow:
   * k-means buckets instead of all-pairs cosine.
   */
  def semanticDedup(emb: DataFrame): DataFrame = semanticDedup(emb, 1)

  /** Per-cluster size bound above which [[semanticDedup]] sub-buckets the
    * pair generation (the hot-cluster guard): a cluster of size s is
    * split into ceil(s / cap) deterministic sub-buckets (`vec_id` mod),
    * and pairs are generated within a sub-bucket only — candidate volume
    * per cluster is bounded by ~s·cap instead of s², the same bound the
    * SimHash hot-bucket cap enforces (Dedup.shBucketCap). A dedup
    * operator's realistic adversarial input is exactly a
    * near-duplicate-dominated corpus where one IVF centroid absorbs the
    * collection; without the cap that degenerates to all-pairs. The
    * forfeit is recall across sub-buckets of one hot cluster — the same
    * trade every banded-LSH path in this module already makes. */
  val sdClusterCap = 10000

  /** The IVF-family centroid table after `rounds` exact Lloyd
    * refinements from the deterministic seed — the shared trainer of
    * [[ivfTopK]], [[semanticDedup]] and [[semanticDedupGroup]]; exposed
    * package-private so property specs can oracle the policies against
    * the operator's own centroids. */
  private[datapipe] def trainedCentroids(
      emb: DataFrame, rounds: Int, k: Int): DataFrame =
    // PINNED (r17-opt): the trained table is K rows but its lineage is a
    // COLLECTION-scale Lloyd aggregate, and every IVF-family operator
    // references it 3-5 times (list build, probe assignment, residual
    // subtract/add). Unpinned, each reference replayed the whole
    // training subtree — ann_ivfpq_res's executed plan held 160
    // Exchanges before the pin, 10 after. Same K-row legitimacy class
    // as the ivfAssign2 coarse/branch pins.
    graft.CacheRegistry.persistTracked(
      (1 to rounds).foldLeft(ivfSeed(emb, k))((c, _) => ivfLloyd(emb, c)))

  def semanticDedup(emb: DataFrame, rounds: Int, k: Int = ivfCentroids,
                    clusterCap: Int = sdClusterCap): DataFrame = {
    require(rounds >= 1, "at least one Lloyd refinement")
    require(clusterCap >= 1, "positive cluster cap")
    val cent = trainedCentroids(emb, rounds, k)
    val lists = ivfAssign2(emb, "vec_id", cent, k, 1)
    val sub = sdSubBucketed(lists, clusterCap)
    val a = sub.select(col("cid"), col("sub"), col("vec_id").as("d1"),
      col("embedding").as("emb1"))
    val b = sub.select(col("cid"), col("sub"), col("vec_id").as("d2"),
      col("embedding").as("emb2"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("dup_of").asc)
    val best = a.join(b, Seq("cid", "sub")).where(col("d1") < col("d2"))
      .withColumn("cos", cosine(col("emb1"), col("emb2")))
      .where(col("cos") >= sdTau)
      .select(col("d2").as("vec_id"), col("d1").as("dup_of"), col("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("dup_of"), round(col("cos"), 6).as("sim"))
    lists.select(col("vec_id"), col("cid"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("sim"))
  }

  /**
   * SemDeDup with the PAPER's keep policy: one representative per
   * duplicate run, chosen farthest from the cluster centroid (Abbas et
   * al. 2023 §3: "we keep the examples with the lowest cosine
   * similarity to the cluster centroid" — the published implementation
   * sorts each cluster by centroid proximity and removes an item iff an
   * EARLIER item in the order is a duplicate of it, i.e. the greedy
   * order-based rule, not connected components). [[semanticDedup]]'s
   * keep-first-id is the same greedy rule under id order; this variant
   * re-ranks by centroid similarity ASCENDING (farthest first, ties ->
   * lower id), so within a duplicate run the survivor is the one
   * farthest from its centroid — the "hard example" the paper argues
   * carries the most training signal.
   *
   * Same output shape as [[semanticDedup]] (`vec_id, cid, keep, dup_of,
   * sim`; `dup_of` = the strongest earlier-ranked duplicate) and the
   * same dataflow: one extra broadcast join against the K-row centroid
   * table for the rank key, then the within-(cid,sub) pair join.
   */
  def semanticDedupGroup(emb: DataFrame, rounds: Int = 1, k: Int = ivfCentroids,
                         clusterCap: Int = sdClusterCap): DataFrame = {
    require(rounds >= 1, "at least one Lloyd refinement")
    require(clusterCap >= 1, "positive cluster cap")
    val cent = trainedCentroids(emb, rounds, k)
    val lists = ivfAssign2(emb, "vec_id", cent, k, 1)
    // rank key ONLY, no rank: the keep policy needs the ORDER "farther
    // from the centroid goes first" — `a before b` ⟺ (csim_a, vec_id_a) <
    // (csim_b, vec_id_b) lexicographically, which the pair join can test
    // directly on the carried key tuple. The previous row_number() OVER
    // (PARTITION BY cid) materialized the rank by shuffling the WHOLE
    // collection (vector payload included) keyed on the K-cardinality cid
    // and sorting each cluster on one reducer — the same single-reducer
    // window class r13 removed from pipe_topk/pipe_pack (both engines
    // order NaN greatest and tie-break by vec_id, so the tuple test is
    // rank-equivalent even degenerately).
    val ranked = lists
      .join(broadcast(cent.select(col("cid").as("__ccid"), col("c_emb"))),
        col("cid") === col("__ccid"))
      .withColumn("__csim", cosine(col("c_emb"), col("embedding")))
      .drop("__ccid", "c_emb")
    val sub = sdSubBucketed(ranked, clusterCap)
    val a = sub.select(col("cid"), col("sub"), col("vec_id").as("d1"),
      col("__csim").as("c1"), col("embedding").as("emb1"))
    val b = sub.select(col("cid"), col("sub"), col("vec_id").as("d2"),
      col("__csim").as("c2"), col("embedding").as("emb2"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("dup_of").asc)
    val best = a.join(b, Seq("cid", "sub"))
      .where(struct(col("c1"), col("d1")) < struct(col("c2"), col("d2")))
      .withColumn("cos", cosine(col("emb1"), col("emb2")))
      .where(col("cos") >= sdTau)
      .select(col("d2").as("vec_id"), col("d1").as("dup_of"), col("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("dup_of"), round(col("cos"), 6).as("sim"))
    lists.select(col("vec_id"), col("cid"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("sim"))
  }

  /** IVF lists with the hot-cluster sub-bucket column: `sub` is always 0
    * while every cluster fits `cap` (the pair join then degenerates to
    * the uncapped cid join — byte-identical output), and `vec_id mod
    * ceil(size/cap)` above it. The size window shuffles on `cid`, the
    * same partitioning the pair join uses anyway. Exposed for the spec
    * that counts candidate volume on a planted hot cluster. The bucket
    * is `pmod` (always non-negative), mirrored as `((x % n) + n) % n`
    * in the SQL oracle so negative caller-supplied vec_ids partition
    * identically in both engines. */
  private[datapipe] def sdSubBucketed(lists: DataFrame, cap: Int): DataFrame = {
    // cluster sizes via groupBy + broadcast join, NOT count().over(cid):
    // the window form concentrates a hot cluster's rows (vector payload
    // included) onto one reducer just to compute its size, while the
    // aggregate combines map-side and the <=K-row size table broadcasts
    // back (r11 verdict, below-weak note)
    val sizes = lists.groupBy(col("cid")).agg(count(lit(1)).as("__csz"))
    lists.join(broadcast(sizes), Seq("cid"))
      .withColumn("sub",
        pmod(col("vec_id"),
          greatest(lit(1L), ceil(col("__csz").cast("double") / cap).cast("long"))))
      .select(lists.columns.map(col).toIndexedSeq :+ col("sub"): _*)
  }

  /** Candidate (pre-cosine-filter) pair volume of [[semanticDedup]] at a
    * given cap — the quantity the hot-cluster guard bounds; spec aid. */
  private[datapipe] def sdCandidateCount(emb: DataFrame, rounds: Int, k: Int,
                                         clusterCap: Int): Long = {
    val cent = (1 to rounds).foldLeft(ivfSeed(emb, k))((c, _) => ivfLloyd(emb, c))
    val sub = sdSubBucketed(ivfAssign2(emb, "vec_id", cent, k, 1), clusterCap)
    val a = sub.select(col("cid"), col("sub"), col("vec_id").as("d1"))
    val b = sub.select(col("cid"), col("sub"), col("vec_id").as("d2"))
    a.join(b, Seq("cid", "sub")).where(col("d1") < col("d2")).count()
  }

  val semanticDedupSql: String = semanticDedupSql(1)

  /** Mirror of [[semanticDedup]] over the shared IVF oracle prefix;
    * `src` swaps the vector relation (see [[ivfListsCtes]]); `k` is the
    * centroid count and MUST match the Spark call's `k` (the seed CTE
    * filters `vec_id < k`) — threaded so non-default-k comparisons can't
    * silently diverge. */
  def semanticDedupSql(rounds: Int, src: String = "embeddings",
                       k: Int = ivfCentroids, clusterCap: Int = sdClusterCap): String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    val (prefix, _) = ivfListsCtes(rounds, src, k)
    s"""$prefix,
       |subbed AS (
       |  SELECT vec_id, embedding, cid,
       |         ((vec_id % nb) + nb) % nb AS sub
       |  FROM (SELECT *, greatest(1, CAST(ceil(
       |          (count(*) OVER (PARTITION BY cid)) / $clusterCap.0) AS BIGINT)) AS nb
       |        FROM lists)
       |),
       |pairs AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2, $cos AS cos
       |  FROM subbed a JOIN subbed b
       |    ON b.cid = a.cid AND b.sub = a.sub AND a.vec_id < b.vec_id
       |  WHERE $cos >= $sdTau
       |),
       |best AS (
       |  SELECT d2 AS vec_id, d1 AS dup_of, cos,
       |         row_number() OVER (PARTITION BY d2 ORDER BY cos DESC, d1) AS rn
       |  FROM pairs
       |  QUALIFY rn = 1
       |)
       |SELECT l.vec_id, l.cid, b.dup_of IS NULL AS keep, b.dup_of,
       |       round(b.cos, 6) AS sim
       |FROM lists l LEFT JOIN best b ON b.vec_id = l.vec_id""".stripMargin
  }

  val semanticDedupGroupSql: String = semanticDedupGroupSql(1)

  /** Mirror of [[semanticDedupGroup]]: the shared IVF prefix, plus the
    * centroid-similarity RANK KEY (`csim` ASC, ties -> lower id) from the
    * final fine-centroid CTE, with the pair join conditioned on the
    * lexicographic key tuple — the same order the retired row_number
    * ranked by (r13: rank materialization removed in both engines). */
  def semanticDedupGroupSql(rounds: Int, src: String = "embeddings",
                            k: Int = ivfCentroids,
                            clusterCap: Int = sdClusterCap): String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    val (prefix, fine) = ivfListsCtes(rounds, src, k)
    s"""$prefix,
       |ranked AS (
       |  SELECT l.vec_id, l.embedding, l.cid,
       |         ${cosineSql("c.c_emb", "l.embedding")} AS csim
       |  FROM lists l JOIN $fine c ON c.cid = l.cid
       |),
       |subbed AS (
       |  SELECT vec_id, embedding, cid, csim,
       |         ((vec_id % nb) + nb) % nb AS sub
       |  FROM (SELECT *, greatest(1, CAST(ceil(
       |          (count(*) OVER (PARTITION BY cid)) / $clusterCap.0) AS BIGINT)) AS nb
       |        FROM ranked)
       |),
       |pairs AS (
       |  SELECT b.vec_id AS vid, a.vec_id AS dup_of, $cos AS cos
       |  FROM subbed a JOIN subbed b
       |    ON b.cid = a.cid AND b.sub = a.sub
       |   AND (a.csim, a.vec_id) < (b.csim, b.vec_id)
       |  WHERE $cos >= $sdTau
       |),
       |best AS (
       |  SELECT vid AS vec_id, dup_of, cos,
       |         row_number() OVER (PARTITION BY vid ORDER BY cos DESC, dup_of) AS rn
       |  FROM pairs
       |  QUALIFY rn = 1
       |)
       |SELECT l.vec_id, l.cid, b.dup_of IS NULL AS keep, b.dup_of,
       |       round(b.cos, 6) AS sim
       |FROM lists l LEFT JOIN best b ON b.vec_id = l.vec_id""".stripMargin
  }

  // ------------------------------------------------- embedding near-dup

  /** Bands x planes-per-band for the near-dup candidate index (defaults
    * sized for the test corpus — widen planes-per-band with
    * [[lshPlanesFor]] as the collection grows: per-band bucket size is
    * N / 2^planesPerBand, the same constant-bucket rule). */
  val ndBands = 3
  val ndPlanesPerBand = 5
  val ndTau = 0.35

  /**
   * Embedding-cosine near-dup: banded hyperplane LSH (any-band bucket
   * agreement) generates candidates; exact cosine >= [[ndTau]] verifies.
   * Cost is bounded by bucket collisions (|v|^2 / 2^planes per band), not
   * all-pairs — the same banding trade-off as MinHash LSH.
   */
  def embedNearDup(emb: DataFrame): DataFrame =
    embedNearDup(emb, ndBands, ndPlanesPerBand)

  /** Parameterized form — widen `planesPerBand` as the collection grows
    * (see [[lshPlanesFor]]); more `bands` buys recall at linear cost. */
  def embedNearDup(emb: DataFrame, bands: Int, planesPerBand: Int): DataFrame = {
    val bandBuckets = (0 until bands).map { b =>
      buckets(emb, planesPerBand, planeBase = 100 + b * planesPerBand)
        .select(col("vec_id"), lit(b).as("band"), col("bucket"))
    }.reduce(_ unionByName _)
    val cand = bandBuckets.toDF("d1", "band", "bucket")
      .join(bandBuckets.toDF("d2", "band2", "bucket2")
        .withColumnRenamed("band2", "band").withColumnRenamed("bucket2", "bucket"),
        Seq("band", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val e1 = emb.select(col("vec_id").as("d1"), col("embedding").as("emb1"))
    val e2 = emb.select(col("vec_id").as("d2"), col("embedding").as("emb2"))
    cand.join(e1, "d1").join(e2, "d2")
      .withColumn("cos", cosine(col("emb1"), col("emb2")))
      .where(col("cos") >= ndTau)
      .select(col("d1"), col("d2"), round(col("cos"), 6).as("sim"))
  }

  /** One band's hyperplane-signature column (keeps the input columns —
    * [[buckets]] projects them away; the stream side must carry its
    * embedding through to the verify). */
  private def ndBucketCol(planeBase: Int): Column =
    hyperplaneWeights(ndPlanesPerBand, planeBase).zipWithIndex.map { case (w, p) =>
      when(dot(typedLit(w.toSeq), col("embedding")) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def ndBanded(emb: DataFrame): DataFrame =
    (0 until ndBands).map { b =>
      emb.select(col("vec_id"), col("embedding"), lit(b).as("band"),
        ndBucketCol(100 + b * ndPlanesPerBand).as("bucket"))
    }.reduce(_ unionByName _)

  /**
   * Lean static embedding near-dup index (see [[Ann.embedIndex]]):
   * `keys` is the bucket relation `(band, bucket, corpus_id)`, `vecs`
   * the one-row-per-member verify payload `(corpus_id, corpus_emb)` —
   * index mass = key rows + 1× the corpus vector mass, NOT bands× it.
   */
  case class EmbedIndex(keys: DataFrame, vecs: DataFrame) {
    /** Bucket-write the index (cluster-scale persisted form); re-read
      * with [[EmbedIndex.read]] — file-backed = re-listed per batch. */
    def write(dir: String): Unit =
      graft.Artifact.write(dir, "embed", Nil, Seq("keys" -> keys, "vecs" -> vecs))
  }

  object EmbedIndex {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): EmbedIndex = {
      val a = graft.Artifact.read(spark, dir, "embed")
      EmbedIndex(a("keys"), a("vecs"))
    }

    /** INCREMENTAL ingest (r13): append a new shard's bucket keys and
      * verify payloads to a file-backed index — hyperplane buckets are
      * per-vector, so index(A ∪ B) ≡ index(A) ∪ index(B) row-for-row
      * (same contract and caveats as [[Dedup.MinhashIndex.append]]). */
    def append(dir: String, newVecs: DataFrame): Unit = {
      graft.Artifact.update(dir, appends = Seq(
        "keys" -> ndBanded(newVecs).select(col("band"), col("bucket"),
          col("vec_id").as("corpus_id")),
        "vecs" -> newVecs.select(col("vec_id").as("corpus_id"),
          col("embedding").as("corpus_emb"))))
    }
  }

  /** Static embedding near-dup INDEX, LEAN form: banded hyperplane
    * bucket keys `(band, bucket, corpus_id)` plus ONE vector row per
    * member — the embedding-space twin of `Dedup.minhashIndex` (the fat
    * single-frame form carried the member vector on every band row —
    * [[ndBands]]× the corpus vector mass in the probe join's build
    * side). Cache-pinned; bucket-write it at cluster scale, where a
    * file-backed index re-lists per micro-batch. */
  def embedIndex(corpus: DataFrame): EmbedIndex =
    EmbedIndex(
      graft.CacheRegistry.persistTracked(
        ndBanded(corpus).select(col("band"), col("bucket"),
          col("vec_id").as("corpus_id"))),
      graft.CacheRegistry.persistTracked(
        corpus.select(col("vec_id").as("corpus_id"),
          col("embedding").as("corpus_emb"))))

  /**
   * Streaming ingest near-dup gate in EMBEDDING space: arriving vectors
   * are flagged against the static corpus index — the semantic twin of
   * `Dedup.minhashStreamingFlag`, completing the ingest-gate family
   * (exact hash / lexical MinHash / embedding cosine). The stream side
   * is STATELESS end-to-end: the banded signature is a map-side
   * projection (md5-derived hyperplanes are process constants), the
   * probe a stream-static equi-join on (band, bucket), the verify an
   * exact cosine against the carried index vector. No watermark, no
   * state store. Emits one row per (arrival, corpus near-dup, matching
   * band); consumers needing one-per-pair dedup downstream. Works
   * identically on a batch frame.
   */
  def embedStreamingFlag(stream: DataFrame, index: EmbedIndex): DataFrame =
    // lean probe: bucket keys first, member vectors joined only onto
    // the hits (vector mass moves per collision, not per probe row)
    ndBanded(stream).join(index.keys, Seq("band", "bucket"))
      .where(col("vec_id") =!= col("corpus_id"))
      .join(index.vecs, "corpus_id")
      .withColumn("sim", cosine(col("embedding"), col("corpus_emb")))
      .where(col("sim") >= ndTau)
      .select(col("vec_id"), col("corpus_id").as("dup_of"), col("band"),
        round(col("sim"), 6).as("sim"))

  /**
   * MULTIPROBE streaming gate: each arriving vector probes its own
   * bucket PLUS every hamming-1 bucket per band against the same lean
   * index — the stream side now has the recall lever the batch
   * near-dup already had ([[embedNearDupMultiprobe]]): an arrival/corpus
   * near-dup split by exactly one plane in every band (invisible to
   * [[embedStreamingFlag]]) is recovered whenever some band is a
   * single-plane split. Still stateless: the flip explode is a map-side
   * projection ((planes+1)× probe rows, the multiprobe cost), the join
   * and verify unchanged. Output rows are a strict superset of the
   * single-probe gate's at equal bucket width — flip 0 IS the exact
   * probe; within a band the probed buckets are distinct and a corpus
   * member holds one key per band, so no dedup is needed and the shape
   * stays one row per (arrival, corpus near-dup, matching band).
   */
  def embedStreamingFlagMultiprobe(stream: DataFrame, index: EmbedIndex): DataFrame = {
    val flips = array((lit(0L) +: (0 until ndPlanesPerBand).map(p => lit(1L << p))): _*)
    val probes = ndBanded(stream)
      .select(col("vec_id"), col("embedding"), col("band"),
        explode(flips).as("flip"), col("bucket"))
      .select(col("vec_id"), col("embedding"), col("band"),
        col("bucket").bitwiseXOR(col("flip")).as("bucket"))
    probes.join(index.keys, Seq("band", "bucket"))
      .where(col("vec_id") =!= col("corpus_id"))
      .join(index.vecs, "corpus_id")
      .withColumn("sim", cosine(col("embedding"), col("corpus_emb")))
      .where(col("sim") >= ndTau)
      .select(col("vec_id"), col("corpus_id").as("dup_of"), col("band"),
        round(col("sim"), 6).as("sim"))
  }

  /** DuckDB mirror of [[embedStreamingFlagMultiprobe]] self-probed on
    * the embeddings table (`probePred` filters the probe side, alias
    * `a`, like [[embedFlagSql]]). */
  def embedFlagMultiprobeSql(probePred: String = "true"): String = {
    val bandCtes = (0 until ndBands).map { b =>
      s"fmk$b AS (SELECT vec_id, $b AS band, bucket FROM (${bucketsSql(ndPlanesPerBand, 100 + b * ndPlanesPerBand)}))"
    }.mkString(",\n")
    val unions = (0 until ndBands).map(b => s"SELECT * FROM fmk$b").mkString("\n  UNION ALL\n  ")
    val cos = cosineSql("e1.embedding", "e2.embedding")
    s"""WITH $bandCtes,
       |bands AS (
       |  $unions
       |),
       |probes AS (
       |  SELECT vec_id, band,
       |         xor(bucket, CASE WHEN f = 0 THEN 0 ELSE 1 << (f - 1) END) AS bucket
       |  FROM bands, (SELECT unnest(range(0, ${ndPlanesPerBand + 1})) AS f)
       |),
       |cand AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS dup_of, a.band
       |  FROM probes a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.vec_id <> b.vec_id AND ($probePred)
       |)
       |SELECT c.vec_id, c.dup_of, c.band, round($cos, 6) AS sim
       |FROM cand c JOIN embeddings e1 ON e1.vec_id = c.vec_id
       |            JOIN embeddings e2 ON e2.vec_id = c.dup_of
       |WHERE $cos >= $ndTau""".stripMargin
  }

  /** DuckDB mirror of [[embedStreamingFlag]] self-probed on the
    * embeddings table, probe side filtered by `probePred` (the
    * benchmark entry models the micro-batch:corpus ratio). */
  def embedFlagSql(probePred: String = "true"): String = {
    val bandCtes = (0 until ndBands).map { b =>
      s"fbk$b AS (SELECT vec_id, $b AS band, bucket FROM (${bucketsSql(ndPlanesPerBand, 100 + b * ndPlanesPerBand)}))"
    }.mkString(",\n")
    val unions = (0 until ndBands).map(b => s"SELECT * FROM fbk$b").mkString("\n  UNION ALL\n  ")
    val cos = cosineSql("e1.embedding", "e2.embedding")
    s"""WITH $bandCtes,
       |bands AS (
       |  $unions
       |),
       |cand AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS dup_of, a.band
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.vec_id <> b.vec_id AND ($probePred)
       |)
       |SELECT c.vec_id, c.dup_of, c.band, round($cos, 6) AS sim
       |FROM cand c JOIN embeddings e1 ON e1.vec_id = c.vec_id
       |            JOIN embeddings e2 ON e2.vec_id = c.dup_of
       |WHERE $cos >= $ndTau""".stripMargin
  }

  /**
   * Multiprobe near-dup: within each band, a vector's bucket is probed
   * together with every bucket at hamming distance 1 — a true near-dup
   * pair split by exactly one plane in EVERY band (invisible to
   * [[embedNearDup]]) is recovered as long as one band is a single-plane
   * split. The same recall-at-constant-bucket-width lever as
   * [[lshMultiprobeTopK]]; candidate volume grows by (planes+1)x per
   * band, not by the 2x-per-halved-plane of widening buckets.
   */
  def embedNearDupMultiprobe(emb: DataFrame): DataFrame =
    embedNearDupMultiprobe(emb, ndBands, ndPlanesPerBand)

  def embedNearDupMultiprobe(emb: DataFrame, bands: Int, planesPerBand: Int): DataFrame = {
    val bandBuckets = (0 until bands).map { b =>
      buckets(emb, planesPerBand, planeBase = 100 + b * planesPerBand)
        .select(col("vec_id"), lit(b).as("band"), col("bucket"))
    }.reduce(_ unionByName _)
    val flips = array((lit(0L) +: (0 until planesPerBand).map(p => lit(1L << p))): _*)
    val probes = bandBuckets.select(col("vec_id").as("d2"), col("band"),
        explode(flips).as("flip"), col("bucket"))
      .select(col("d2"), col("band"), col("bucket").bitwiseXOR(col("flip")).as("bucket"))
    val cand = bandBuckets.toDF("d1", "band", "bucket")
      .join(probes, Seq("band", "bucket"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val e1 = emb.select(col("vec_id").as("d1"), col("embedding").as("emb1"))
    val e2 = emb.select(col("vec_id").as("d2"), col("embedding").as("emb2"))
    cand.join(e1, "d1").join(e2, "d2")
      .withColumn("cos", cosine(col("emb1"), col("emb2")))
      .where(col("cos") >= ndTau)
      .select(col("d1"), col("d2"), round(col("cos"), 6).as("sim"))
  }

  val embedNearDupMultiprobeSql: String = {
    val bandCtes = (0 until ndBands).map { b =>
      s"bk$b AS (SELECT vec_id, $b AS band, bucket FROM (${bucketsSql(ndPlanesPerBand, 100 + b * ndPlanesPerBand)}))"
    }.mkString(",\n")
    val unions = (0 until ndBands).map(b => s"SELECT * FROM bk$b").mkString("\n  UNION ALL\n  ")
    val cos = cosineSql("e1.embedding", "e2.embedding")
    s"""WITH $bandCtes,
       |bands AS (
       |  $unions
       |),
       |probes AS (
       |  SELECT vec_id AS d2, band,
       |         xor(bucket, CASE WHEN f = 0 THEN 0 ELSE 1 << (f - 1) END) AS bucket
       |  FROM bands, (SELECT unnest(range(0, ${ndPlanesPerBand + 1})) AS f)
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS d1, p.d2
       |  FROM bands a JOIN probes p ON a.band = p.band AND a.bucket = p.bucket
       |  WHERE a.vec_id < p.d2
       |)
       |SELECT c.d1, c.d2, round($cos, 6) AS sim
       |FROM cand c JOIN embeddings e1 ON e1.vec_id = c.d1
       |            JOIN embeddings e2 ON e2.vec_id = c.d2
       |WHERE $cos >= $ndTau""".stripMargin
  }

  val embedNearDupSql: String = {
    val bandCtes = (0 until ndBands).map { b =>
      s"bk$b AS (SELECT vec_id, $b AS band, bucket FROM (${bucketsSql(ndPlanesPerBand, 100 + b * ndPlanesPerBand)}))"
    }.mkString(",\n")
    val unions = (0 until ndBands).map(b => s"SELECT * FROM bk$b").mkString("\n  UNION ALL\n  ")
    val cos = cosineSql("e1.embedding", "e2.embedding")
    s"""WITH $bandCtes,
       |bands AS (
       |  $unions
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id
       |)
       |SELECT c.d1, c.d2, round($cos, 6) AS sim
       |FROM cand c JOIN embeddings e1 ON e1.vec_id = c.d1
       |            JOIN embeddings e2 ON e2.vec_id = c.d2
       |WHERE $cos >= $ndTau""".stripMargin
  }
}
