package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Benchmark decontamination — the LLM-corpus step that REMOVES training
 * documents overlapping an evaluation set. Distinct from near-dup
 * detection: the comparison is ASYMMETRIC (a huge corpus vs a small,
 * fixed probe set) and the criterion is containment of any probe n-gram,
 * not document-level similarity.
 *
 * Scale shape: the probe set (a benchmark suite) is tiny and fixed, so
 * its distinct n-gram index is built once and BROADCAST — the 100 TB
 * corpus side is one scan + explode + map-side hash-semijoin; no shuffle
 * of corpus n-grams ever happens, and the output is per-doc aggregates
 * only. N-gram identity is the shared 60-bit md5 hash ([[TextOps.h60]]),
 * so the broadcast payload is 8 bytes per probe gram and the decision is
 * engine-portable (the DuckDB oracle computes the identical flags).
 *
 * The driver entry derives its probe set from the corpus itself
 * (doc_id % [[probeMod]] == 0) — deterministic and self-contained; a real
 * benchmark file drops into [[flag]] unchanged.
 */
object Decontam {

  /** Word n-gram size for the containment test (eval-overlap scanners
    * conventionally use 8–13-gram windows; the synthetic corpus' docs are
    * short, so 5 keeps probes informative while staying non-degenerate). */
  val probeN = 5

  /** Driver-entry probe set: every doc_id divisible by this. */
  val probeMod = 97

  /** The derived probe set (probe_id, text). */
  def probes(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") % probeMod === 0)
      .select(col("doc_id").as("probe_id"), col("text"))

  /** Distinct (probe_id, gram-hash) pairs — the broadcastable index. */
  def probeIndex(probes: DataFrame): DataFrame =
    probes.select(col("probe_id"), explode(grams(col("text"))).as("g"))
      .distinct()

  /** The hashed [[probeN]]-grams of a text column. */
  private[datapipe] def grams(text: Column): Column =
    graft.functions.ShingleHashes.hashes(TextOps.words(text), probeN)

  /**
   * Per-document contamination flags: docs sharing any n-gram with any
   * probe, with how many probes hit and the first (min) offending probe.
   * Documents with no hit do not appear (the keep-set is the anti-join).
   *
   * Deliberately NO distinct on the corpus gram side: the downstream
   * aggregate (countDistinct / min over probe_id) is duplicate-
   * insensitive, and a pre-join distinct would shuffle EVERY corpus gram
   * — the one thing this operator's scale contract forbids. As written,
   * the only exchange is the per-doc aggregate of probe-MATCHED rows.
   */
  def flag(docs: DataFrame, probeIdx: DataFrame): DataFrame = {
    val dg = docs.select(col("doc_id"), explode(grams(col("text"))).as("g"))
    dg.join(broadcast(probeIdx), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("probe_id")).as("n_probes"),
        min(col("probe_id")).as("first_probe"))
  }

  /** The composed driver entry: corpus-derived probes → broadcast index →
    * flags.
    *
    * AUDIT-READING NOTE: because the probe set is derived FROM the corpus
    * (doc_id % [[probeMod]] == 0), every probe document with ≥ [[probeN]]
    * words flags ITSELF — so the flagged set includes ~1/[[probeMod]] of
    * the corpus by construction, on top of any genuine overlap. That is
    * the correct contract for this deterministic driver entry (the DuckDB
    * oracle computes the identical self-hits), but the flag counts are
    * NOT a contamination rate estimate; with a real external benchmark
    * file in [[flag]], no self-hits exist and they are. */
  def flagDocuments(docs: DataFrame): DataFrame =
    // spread the CORPUS side only (r18 — the probe slice is tiny by
    // construction and its index broadcasts; see Tables.spread): the
    // heavy per-row pass is flag()'s corpus-gram explode
    flag(graft.sources.Tables.spread(docs), probeIndex(probes(docs)))

  /** DuckDB unnest of probe-n-gram start positions over a `w` column —
    * shared by [[flagSql]] and Prep.prepareSql. */
  val gramPosSql: String =
    s"unnest(range(0, greatest(len(w) - ${probeN - 1}, 0))) AS i"

  /** DuckDB h60 hash of the probe n-gram at position `i` — shared by
    * [[flagSql]] and Prep.prepareSql. */
  val gramHashSql: String =
    TextOps.h60Sql(s"array_to_string(w[(i + 1):(i + $probeN)], ' ')")

  val flagSql: String = {
    def gramCte(src: String, idCol: String): String =
      s"""${src}pos AS (
         |  SELECT $idCol, w, $gramPosSql
         |  FROM ${src}t
         |),
         |${src}g AS (
         |  SELECT DISTINCT $idCol,
         |         $gramHashSql AS g
         |  FROM ${src}pos
         |)""".stripMargin
    s"""WITH dt AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |${gramCte("d", "doc_id")},
       |pt AS (SELECT doc_id AS probe_id, string_split(text, ' ') AS w
       |       FROM documents WHERE doc_id % $probeMod = 0),
       |${gramCte("p", "probe_id")}
       |SELECT doc_id,
       |       CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes,
       |       min(probe_id) AS first_probe
       |FROM dg JOIN pg USING (g)
       |GROUP BY 1""".stripMargin
  }

  /**
   * NEAR-DUPLICATE decontamination (r12) — the fuzzy twin of [[flag]]:
   * flag corpus documents whose whole-document MinHash-LSH similarity to
   * any probe document reaches [[Dedup.mhTau]]. Exact n-gram containment
   * structurally CANNOT catch an eval item whose every [[probeN]]-word
   * window was edited (reworded/reflowed benchmark copies — the
   * paraphrase-contamination class); document-level shingle similarity
   * survives such edits.
   *
   * Composition, not new machinery: the probe set is the INDEX side of
   * the lexical ingest gate ([[Dedup.minhashIndex]] — the lean two-frame
   * bucket+payload form, benchmark-sized so both frames broadcast), the
   * corpus is the gate's arrival side ([[Dedup.minhashStreamingFlag]] —
   * stateless, one corpus scan, no corpus shingle ever shuffles). The
   * per-doc decision aggregate is the only corpus-keyed exchange.
   * Output: one row per CONTAMINATED doc —
   * `(doc_id, n_probes, first_probe, best_jac)`; the keep-set is the
   * anti-join, as in [[flag]].
   */
  def flagFuzzy(docs: DataFrame, probes: DataFrame,
                probesShareCorpusIds: Boolean = false): DataFrame =
    Dedup.minhashStreamingFlag(docs,
        Dedup.minhashIndex(probes.select(col("probe_id").as("doc_id"), col("text"))),
        // self-pair exclusion is only meaningful when probe ids ARE
        // corpus ids (the derived-slice entry): with an EXTERNAL
        // benchmark, a corpus doc numerically equal to a probe id is
        // not that probe, and excluding the pair silently un-flags
        // genuine contamination (r12 review fix)
        excludeSelf = probesShareCorpusIds)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("dup_of")).as("n_probes"),
        min(col("dup_of")).as("first_probe"),
        max(col("jac")).as("best_jac"))

  /** The composed driver entry: corpus-derived probes (the [[flag]]
    * slice) as the gate index, every document scored against it. The
    * [[flagDocuments]] audit note applies: probe docs flag their own
    * near-copies, never themselves (probe ids ARE corpus ids here, so
    * the gate's identical-id exclusion applies). */
  def flagFuzzyDocuments(docs: DataFrame): DataFrame =
    // corpus side spread as in [[flagDocuments]] (r18): the whole-doc
    // MinHash shingle/signature pass is the heavy per-row work
    flagFuzzy(graft.sources.Tables.spread(docs), probes(docs),
      probesShareCorpusIds = true)

  /**
   * Deterministic PARAPHRASE-CONTAMINATION plant (r13): the synthetic
   * corpus carries no natural near-copies of the probe slice, so the raw
   * [[flagFuzzyDocuments]] entry flags ZERO rows at the driver's scale
   * factors — a vacuous (empty-set) hash compare that verifies none of
   * [[flagFuzzy]]'s decision path. Every document whose doc_id sits one
   * above a probe (`doc_id % probeMod == 1`) gets its text replaced by a
   * BLOCK-SCRAMBLED copy of that probe's text (second word-half ++ first
   * word-half — every [[probeN]]-gram at the cut is destroyed, so exact
   * containment misses it, while whole-document shingle similarity
   * survives: the paraphrase class this operator exists for). The plant
   * is doc_id-derived and engine-portable; the probe side is the tiny
   * fixed slice, so it broadcasts.
   */
  def plantNearDups(docs: DataFrame): DataFrame = {
    // spread BELOW the plant join (r18, measured): with the spread above
    // it, the downstream gate's three corpus lineages (stream, probes,
    // plant broadcast side) each carried their own copy of the plant
    // subtree and the shared-exchange reuse was lost — the composed
    // entry ran 5.1 s vs 1.9 s with the spread here, where every
    // consumer's lineage reuses ONE spread scan
    val sp = graft.sources.Tables.spread(docs)
    val probeTexts = sp.where(col("doc_id") % probeMod === 0)
      .select((col("doc_id") + 1).as("doc_id"), col("text").as("__ptext"))
    val w = split(col("__ptext"), " ")
    val n = size(w)
    val h = floor(n.cast("double") / 2).cast("int")
    val swapped = concat_ws(" ",
      concat(slice(w, h + lit(1), n - h), slice(w, lit(1), h)))
    sp.join(broadcast(probeTexts), Seq("doc_id"), "left")
      .withColumn("text",
        when(col("__ptext").isNotNull, swapped).otherwise(col("text")))
      // planted rows carry consistent metadata (r13 advice fix): without
      // the recompute, a downstream audit over the planted frame would
      // report the PRE-plant text's char mass
      .withColumn("n_chars",
        when(col("__ptext").isNotNull, length(col("text")).cast("long"))
          .otherwise(col("n_chars")))
      .drop("__ptext")
  }

  /**
   * FUZZY-ONLY contamination witness (r13) — a frozen text pair that
   * makes the prep pipeline's NEAR-DUP stage provably non-vacuous at
   * every SF. [[fuzzyWitnessProbe]] replaces doc 0 (a probe: 0 %
   * [[probeMod]] == 0) and [[fuzzyWitnessCopy]] replaces doc 1 — the
   * copy is the probe's 4-word blocks in reversed order, so:
   *
   *  - EXACT containment PROVABLY misses it: every 5-gram of either
   *    text contains a serial token (`w17xNN`) unique to one position,
   *    and block reversal leaves no run of 5 original words — the two
   *    texts share ZERO 5-grams (and share none with the rest of the
   *    corpus, whose vocabulary never contains the serial tokens);
   *  - the MinHash gate DETERMINISTICALLY catches it: the pair's
   *    word-3-shingle jaccard is 6/17 ≈ 0.353 ≥ [[Dedup.mhTau]], and
   *    band 1's four fixed permutations all take their minima on SHARED
   *    shingles (searched offline against the gate's committed mhA/mhB
   *    constants; the corpus and hashes are fixed, so the collision is
   *    a constant of the build, not luck);
   *  - both texts pass every prep gate: lang 'en' (24 en-stopword hits,
   *    zero for other languages), score 0.519 ≥ cleanMinScore, 48
   *    tokens, zero duplicate bi/trigrams.
   *
   * The generic residue-class scramble this replaces measured ZERO
   * catches (block-reversal of real template docs lands at shingle
   * jaccard ≈ 0.29, below the 4-row banding's reliable-recall band, and
   * chance 5-gram re-occurrence exact-caught half the plants) — the
   * frozen witness trades breadth for a guarantee.
   */
  val fuzzyWitnessProbe: String =
    "the w17x00 a w17x01 of w17x02 the w17x03 a w17x04 of w17x05 the w17x06 a w17x07 of w17x08 the w17x09 a w17x10 of w17x11 the w17x12 a w17x13 of w17x14 the w17x15 a w17x16 of w17x17 the w17x18 a w17x19 of w17x20 the w17x21 a w17x22 of w17x23"
  val fuzzyWitnessCopy: String =
    "a w17x22 of w17x23 of w17x20 the w17x21 the w17x18 a w17x19 a w17x16 of w17x17 of w17x14 the w17x15 the w17x12 a w17x13 a w17x10 of w17x11 of w17x08 the w17x09 the w17x06 a w17x07 a w17x04 of w17x05 of w17x02 the w17x03 the w17x00 a w17x01"

  /** Plant the fuzzy-only witness pair: doc 0 (probe) gets
    * [[fuzzyWitnessProbe]], doc 1 its block-reversed near-copy. */
  def plantFuzzyOnly(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") === 0, lit(fuzzyWitnessProbe))
        .when(col("doc_id") === 1, lit(fuzzyWitnessCopy))
        .otherwise(col("text")))
      // consistent (text, n_chars) on the planted rows — see
      // plantNearDups (r13 advice fix)
      .withColumn("n_chars",
        when(col("doc_id").isin(0, 1), length(col("text")).cast("long"))
          .otherwise(col("n_chars")))

  /** DuckDB rendering of [[plantFuzzyOnly]] as a `documents`-shadowing
    * CTE (same pattern as [[plantNearDupsCte]]). */
  val plantFuzzyOnlyCte: String =
    s"""documents AS (
       |  SELECT * REPLACE (
       |    CASE doc_id WHEN 0 THEN '$fuzzyWitnessProbe'
       |                WHEN 1 THEN '$fuzzyWitnessCopy'
       |                ELSE text END AS text,
       |    CASE doc_id WHEN 0 THEN len('$fuzzyWitnessProbe')
       |                WHEN 1 THEN len('$fuzzyWitnessCopy')
       |                ELSE n_chars END AS n_chars)
       |  FROM main.documents
       |)""".stripMargin

  /** DuckDB rendering of [[plantNearDups]] as a `documents`-shadowing CTE
    * prefix (DuckDB resolves the base table via the explicit `main.`
    * schema; every inner CTE then sees the planted frame). */
  val plantNearDupsCte: String =
    s"""documents AS (
       |  SELECT d.* REPLACE (
       |    CASE WHEN p.w IS NOT NULL THEN
       |      array_to_string(p.w[(p.h + 1):p.n] || p.w[1:p.h], ' ')
       |    ELSE d.text END AS text,
       |    CASE WHEN p.w IS NOT NULL THEN
       |      len(array_to_string(p.w[(p.h + 1):p.n] || p.w[1:p.h], ' '))
       |    ELSE d.n_chars END AS n_chars)
       |  FROM main.documents d
       |  LEFT JOIN (
       |    SELECT doc_id + 1 AS doc_id, w, len(w) AS n, len(w) // 2 AS h
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w
       |          FROM main.documents WHERE doc_id % $probeMod = 0)
       |  ) p USING (doc_id)
       |)""".stripMargin

  /** [[flagFuzzySql]] over the PLANTED corpus — the driver-entry mirror:
    * the plant CTE shadows `documents`, so the gate mirror underneath
    * needs no change and the entry's hash compare covers a
    * known-nonzero flag set at every SF. */
  def flagFuzzyPlantedSql: String =
    s"WITH $plantNearDupsCte\n$flagFuzzySql"

  /** DuckDB mirror of [[flagFuzzyDocuments]]: the gate mirror
    * ([[Dedup.minhashFlagSql]]) with the INDEX side restricted to the
    * probe slice, aggregated to the per-doc decision. */
  val flagFuzzySql: String =
    s"""SELECT doc_id,
       |       CAST(count(DISTINCT dup_of) AS BIGINT) AS n_probes,
       |       min(dup_of) AS first_probe,
       |       max(jac) AS best_jac
       |FROM (
       |${Dedup.minhashFlagSql(s"b.doc_id % $probeMod = 0")}
       |) f
       |GROUP BY doc_id""".stripMargin
}
