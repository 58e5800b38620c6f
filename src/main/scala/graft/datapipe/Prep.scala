package graft.datapipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The END-TO-END corpus preparation pipeline a training run actually
 * executes, composed from the individual operators and fused where
 * fusion is free:
 *
 *  1. GATES — language (stopword vote), quality score, length band,
 *     repetition (duplicate-n-gram fractions): all pure projections, so
 *     they fuse into ONE corpus scan with zero exchanges; survivors are
 *     filtered before anything shuffles.
 *  2. DECONTAMINATION — gate survivors are checked against the broadcast
 *     probe n-gram index ([[Decontam]]); the flagged set (small by
 *     construction: eval-overlapping docs) anti-joins out, also broadcast.
 *  3. EXACT DEDUP — one shuffle on the normalized-text hash; the keeper
 *     (min doc_id) row survives WITH its payload columns via per-key rank
 *     pruning, so no join-back to the corpus is needed.
 *  4. MIXING — per-source fractional-epoch weighting ([[TextOps
 *     .mixEpochs]]), a projection + explode, shuffle-free.
 *  5. AUDIT — the per-source summary (what survived, what was emitted),
 *     the only terminal aggregate.
 *
 * Exchanges for the whole pipeline: the dedup hash shuffle, the final
 * audit aggregate, the decontam flag aggregates — which shuffle only
 * PROBE-MATCHED grams (post-broadcast-semijoin, negligible by
 * construction; two exchanges, since the distinct count is two-phase) —
 * and the benchmark-sized probe-index distinct. Corpus payload bytes
 * cross the network exactly once, at the dedup shuffle; both joins are
 * broadcast, and no exchange is ever keyed on raw corpus grams
 * (DecontamSpec pins that shape).
 */
object Prep {

  /** Upper bound on probe grams inlined as an expression literal in
    * [[prepareStream]] (~16 MB of 8-byte hashes). */
  val maxInlineProbeGrams: Int = 2 * 1000 * 1000

  /** Kept corpus after gates → decontam → dedup, with payload columns
    * (doc_id, source, text, n_chars) intact.
    *
    * CALLER CONTRACT: the returned frame's lineage holds a TRACKED
    * persist (the `staged` materialization barrier below) that this
    * method cannot release itself — it must stay alive until the caller
    * materializes the result. Call [[graft.CacheRegistry.unpersistAll]]
    * afterwards (Verify/Bench do per query; the datapipe specs do in
    * afterEach) or a long session accumulates InMemoryRelations. */
  /** `fuzzyDecontam = true` adds the NEAR-DUP decontamination stage
    * ([[Decontam.flagFuzzy]] — whole-doc MinHash similarity vs the probe
    * set) after the exact containment anti-join: the paraphrased-
    * benchmark class exact n-grams structurally miss. Runs on exact-
    * clean survivors only; the fuzzy-flagged set is benchmark-adjacent-
    * sized, so its anti-join broadcasts like the exact one. */
  /** `domainGate = true` prepends the source-level domain gate
    * ([[Domains.gate]] — blocklist anti-join + per-domain cap) BEFORE
    * the quality gates: cheapest filter first — a blocked or over-cap
    * document is dropped on (domain, doc_id) alone and never pays the
    * scoring scan. The probe slice then derives from the domain-gated
    * corpus, which is the correct decontamination census for what
    * actually trains. */
  def keptCorpus(docs: DataFrame, fuzzyDecontam: Boolean = false,
                 domainGate: Boolean = false): DataFrame = {
    import TextOps._
    // spread ahead of the fused gate scan (r18 — the heavy per-row work
    // here is the quality/langId/repetition gram lambdas feeding the
    // staged materialization; see Tables.spread)
    val spreadDocs = graft.sources.Tables.spread(docs)
    val base = if (domainGate) Domains.gate(spreadDocs) else spreadDocs
    // one fused scan: quality + language projections, then every gate
    val scored = langId(
      quality(base, carry = Seq("text", "source", "n_chars")),
      carry = Seq("n_tokens", "score", "text", "source", "n_chars"))
    // persistTracked: a materialization BARRIER as much as a reuse cache.
    // Filtering directly on the gate expressions would push the predicate
    // through the projections and re-inline the gram lambdas (re-splitting
    // text per gram, O(n²)/doc); materializing the staged columns once
    // makes the gate a cheap attribute filter over an InMemoryRelation —
    // and both downstream consumers (decontam flag build + anti-join left
    // side) read the same materialization instead of re-running the scan.
    val staged = graft.CacheRegistry.persistTracked(
      repetitionOver(scored).select(col("doc_id"), col("source"), col("text"),
        col("n_chars"), col("score"), col("n_tokens"), col("pred_lang"),
        col("repetitious")))
    val gated = staged.where(
        col("pred_lang") === cleanLang &&
        col("score") >= cleanMinScore &&
        col("n_tokens").between(cleanMinTok, cleanMaxTok) &&
        !col("repetitious"))
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
    // decontam on survivors only; flagged set is small -> broadcast anti.
    // Probes come from the persisted staged frame, NOT a second corpus
    // scan — it already materializes (doc_id, text) for every document
    val flagged = Decontam.flag(gated, Decontam.probeIndex(Decontam.probes(staged)))
      .select(col("doc_id"))
    val clean = gated.join(broadcast(flagged), Seq("doc_id"), "left_anti")
    val decontaminated =
      if (!fuzzyDecontam) clean
      else {
        val fz = Decontam.flagFuzzy(clean, Decontam.probes(staged),
            probesShareCorpusIds = true)
          .select(col("doc_id"))
        clean.join(broadcast(fz), Seq("doc_id"), "left_anti")
      }
    // exact dedup keeping the whole keeper row: rank-prune per text hash
    graft.topk.RankJoin.prunePerKey(
        decontaminated.withColumn("h", md5(Dedup.normText)),
        Seq("h"), Seq(col("doc_id").asc), 1)
      .drop("h")
  }

  /** The driver entry: prepared-corpus audit per source. All three
    * measures are POST-MIX: `survivors` = distinct docs that emitted at
    * least one copy (for a down-sampled source, w<1, this is the
    * hash-gated subset of the kept corpus, not the full gates+dedup
    * census — use [[keptCorpus]] for that), `copies_out` = emitted
    * copies, `chars_out` = emitted char mass. */
  def prepare(docs: DataFrame, fuzzyDecontam: Boolean = false,
              domainGate: Boolean = false): DataFrame =
    TextOps.mixEpochs(keptCorpus(docs, fuzzyDecontam, domainGate))
      .groupBy(col("source"), col("w").cast("double").as("w"))
      .agg(countDistinct(col("doc_id")).as("survivors"),
        count(lit(1)).as("copies_out"),
        sum(col("n_chars")).as("chars_out"))

  /**
   * Streaming form of the prep FRONT-END — the per-document decisions
   * (gates, decontamination, exact dedup) run on an ingest stream:
   *
   *  - gates are pure projections, so they stream stateless;
   *  - the probe gram set is DRIVER-SIZED by construction (a benchmark
   *    suite, same legitimacy class as IVF centroids) and inlines as a
   *    literal array — `arrays_overlap` per doc, no stream-static join
   *    state at all;
   *  - exact dedup is `dropDuplicatesWithinWatermark` — state bounded by
   *    the horizon ([[Dedup.exactStreaming]]).
   *
   * Mixing and the audit stay batch: they are corpus-level decisions
   * (weights against a full census), not per-arrival ones.
   * Input needs (doc_id, text, ts); emits gated+clean+unique arrivals.
   */
  def prepareStream(stream: DataFrame, probes: DataFrame,
      watermark: String = "1 hour"): DataFrame = {
    import TextOps._
    val probeGrams: Array[Long] =
      Decontam.probeIndex(probes).select(col("g")).collect().map(_.getLong(0))
    // the literal-inline path assumes a DRIVER-SIZED probe set: 8 bytes
    // per gram means the bound below caps the expression-tree payload at
    // ~16 MB. A benchmark suite beyond it must ride a stream-static
    // broadcast join instead of an inlined literal — fail loudly rather
    // than silently bloating the driver and every serialized plan.
    require(probeGrams.length <= maxInlineProbeGrams,
      s"probe gram index (${probeGrams.length}) exceeds the inline bound " +
        s"($maxInlineProbeGrams); use a stream-static broadcast join for " +
        "benchmark suites this large")
    val scored = langId(
      quality(stream, carry = Seq("text", "ts")),
      carry = Seq("n_tokens", "score", "text", "ts"))
    val gated = repetitionOver(scored).where(
        col("pred_lang") === cleanLang &&
        col("score") >= cleanMinScore &&
        col("n_tokens").between(cleanMinTok, cleanMaxTok) &&
        !col("repetitious"))
      .select(col("doc_id"), col("text"), col("ts"))
    val clean = gated
      .where(!arrays_overlap(Decontam.grams(col("text")), typedLit(probeGrams.toSeq)))
    Dedup.exactStreaming(clean, watermark).drop("h")
  }

  val prepareSql: String = prepareSqlWith(fuzzy = false)

  /** Mirror of `prepare(docs, fuzzyDecontam = true)`: the exact-clean
    * CTE feeds a nested [[Dedup.minhashFlagSql]] whose candidate
    * predicate restricts the probing side to clean survivors and the
    * index side to the probe slice (inner CTE names shadow the outer
    * `t`; the outer `clean` stays visible inside the nested WITH). */
  def prepareFuzzySql: String = prepareSqlWith(fuzzy = true)

  /** [[prepareFuzzySql]] over the EXACT-IMMUNE plant
    * ([[Decontam.plantFuzzyOnly]] as a documents-shadowing CTE) — the
    * driver-entry mirror: without the plant the fuzzy stage drops zero
    * rows at every SF and its hash compare verifies pipe_prep plus a
    * no-op (the r13 vacuous-oracle class, closed for the standalone
    * entry and here). */
  def preparePlantedFuzzySql: String = prepareSqlWith(fuzzy = true, planted = true)

  /** Mirror of `prepare(docs, domainGate = true)`: [[Domains.gateCte]]
    * shadows `documents`, so every stage underneath — including the
    * probe-slice CTEs — reads the domain-gated corpus, exactly as the
    * fused Spark plan does. */
  def prepareDomainSql: String = prepareSqlWith(fuzzy = false, domain = true)

  /** `keptOnly` ends the query at the kept-corpus rows (the
    * [[keptCorpus]] mirror) instead of the mix audit — the reusable
    * prefix of [[buildSql]]. */
  private def prepareSqlWith(fuzzy: Boolean, planted: Boolean = false,
                             keptOnly: Boolean = false,
                             domain: Boolean = false): String = {
    import TextOps._
    val stopList = qualityStop.map(s => s"'$s'").mkString(", ")
    val hits = stopwords.map { case (lang, ws) =>
      val l = ws.map(s => s"'$s'").mkString(", ")
      s"len(list_filter(w, t -> t IN ($l))) AS hits_$lang"
    }.mkString(",\n         ")
    val hitNames = stopwords.map { case (l, _) => s"hits_$l" }
    val best = s"greatest(${hitNames.mkString(", ")})"
    val langCase = stopwords.map { case (lang, _) =>
      s"WHEN hits_$lang = $best THEN '$lang'"
    }.mkString(" ")
    // shared builders (TextOps.gramListSql / dupFracSql / mixCaseSql):
    // the composed oracle can never diverge from the component oracles
    def gram(k: Int): String = gramListSql(k)
    def dup(k: Int): String = dupFracSql(s"g$k")
    val n = mixWeights.size
    def byIdx(f: Double => String): String = mixCaseSql(f)
    val fuzzyCtes =
      if (!fuzzy) ""
      else s"""
         |fz AS (
         |  SELECT DISTINCT doc_id FROM (
         |${Dedup.minhashFlagSql(
             s"a.doc_id IN (SELECT doc_id FROM clean) AND b.doc_id % ${Decontam.probeMod} = 0")}
         |  ) __fzf
         |),
         |clean2 AS (
         |  SELECT * FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM fz)
         |),""".stripMargin
    val cleanSrc = if (fuzzy) "clean2" else "clean"
    require(!(planted && domain), "plant and domain-gate CTEs both shadow documents")
    val plantCte =
      if (planted) Decontam.plantFuzzyOnlyCte + ",\n"
      else if (domain) Domains.gateCte + ",\n"
      else ""
    s"""WITH ${plantCte}t AS (SELECT doc_id, source, text, n_chars,
       |                  string_split(text, ' ') AS w FROM documents),
       |m AS (
       |  SELECT *, CAST(len(w) AS BIGINT) AS n_tokens,
       |         len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS ttr,
       |         len(list_filter(w, t -> t IN ($stopList)))
       |           / CAST(len(w) AS DOUBLE) AS stop_ratio,
       |         least(1.0, CAST(len(w) AS DOUBLE) / 100.0) AS len_prior,
       |         ${gram(2)} AS g2, ${gram(3)} AS g3,
       |         $hits
       |  FROM t
       |),
       |gated AS (
       |  SELECT doc_id, source, text, n_chars, w FROM m
       |  WHERE (CASE WHEN $best = 0 THEN 'und' $langCase ELSE 'und' END) = '$cleanLang'
       |    AND round(0.3 * len_prior + 0.4 * ttr + 0.3 * (1.0 - stop_ratio), 6) >= $cleanMinScore
       |    AND n_tokens BETWEEN $cleanMinTok AND $cleanMaxTok
       |    AND (${dup(2)}) <= $repDupThreshold AND (${dup(3)}) <= $repDupThreshold
       |),
       |ppos AS (
       |  SELECT w, ${Decontam.gramPosSql}
       |  FROM (SELECT string_split(text, ' ') AS w FROM documents
       |        WHERE doc_id % ${Decontam.probeMod} = 0)
       |),
       |pg AS (
       |  SELECT DISTINCT ${Decontam.gramHashSql} AS g
       |  FROM ppos
       |),
       |gpos AS (
       |  SELECT doc_id, w, ${Decontam.gramPosSql}
       |  FROM gated
       |),
       |flagged AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, ${Decontam.gramHashSql} AS g
       |    FROM gpos)
       |  WHERE g IN (SELECT g FROM pg)
       |),
       |clean AS (
       |  SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
       |),$fuzzyCtes
       |kept AS (
       |  SELECT doc_id, source, text, n_chars FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(${Dedup.normTextSql})
       |                                 ORDER BY doc_id) AS rn
       |    FROM $cleanSrc)
       |  WHERE rn = 1
       |)${
      if (keptOnly) "\nSELECT doc_id, source, text, n_chars FROM kept"
      else s""",
       |mixed AS (
       |  SELECT source, doc_id, n_chars, text,
       |         ${byIdx(_.toString)} AS w, ${byIdx(wv => wv.toInt.toString)} AS nfull,
       |         ${byIdx(wv => math.round((wv - wv.toInt) * 1000).toString)} AS frac,
       |         unnest(range(0, ${byIdx(wv => (wv.toInt + 1).toString)})) AS rep
       |  FROM (SELECT *, CAST(substr(source, 4) AS INT) % $n AS idx FROM kept)
       |)
       |SELECT source, CAST(w AS DOUBLE) AS w,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS survivors,
       |       CAST(count(*) AS BIGINT) AS copies_out,
       |       CAST(sum(n_chars) AS BIGINT) AS chars_out
       |FROM mixed
       |WHERE rep < nfull
       |   OR (${TextOps.h60Sql("text || ':' || rep::VARCHAR")}) % 1000 < frac
       |GROUP BY 1, 2""".stripMargin}""".stripMargin
  }

  /**
   * The COMPLETE corpus-build composition as ONE lazy plan (r13): gates →
   * exact decontamination → dedup (the [[keptCorpus]] front-end) → shard
   * packing → context-window chunking → per-(lang, shard) audit. This is
   * the full training-data pipeline a corpus job runs end-to-end; every
   * stage is the registered operator, composed without materialization
   * between stages. Output: one row per (lang, shard_id) —
   * `(lang, shard_id, n_docs, toks, n_chunks)`.
   */
  /** `domainGate` / `realBpe` fuse the r14 pieces into the same ONE
    * lazy plan: the source-level domain cap ahead of the quality gates,
    * and shard budgets keyed on the exact frozen tokenizer instead of
    * the len/4 heuristic. */
  def build(docs: DataFrame, domainGate: Boolean = false,
            realBpe: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    // the kept corpus is the pipeline's natural materialization point:
    // three downstream consumers (token counts, pack slim frame, chunk)
    // would each re-run the whole gates+decontam+dedup front-end
    // (measured: 6.7s -> 5.0s at sf0.1 with the persist — unlike the r4
    // negative result on small derived dims, a 3-consumer corpus-scale
    // front-end pays for its materialization). At cluster scale this is
    // the bucket-write between pipeline stages.
    // spread AFTER the keeper semi-join, before the persist (r18): when
    // the join broadcasts the keeper ids, keptDocs inherits the corpus
    // scan's (possibly single-task) partitioning and the three heavy
    // consumers below would run serial; when it sort-merges, the gate
    // sees the streamed-side exchange and stays out of the way
    val keptDocs = graft.CacheRegistry.persistTracked(
      graft.sources.Tables.spread(
        docs.join(keptCorpus(docs, domainGate = domainGate).select("doc_id"),
          Seq("doc_id"), "left_semi")))
    val packed = TextOps.packShards(keptDocs, realBpe = realBpe)
    val chunks = TextOps.chunk(keptDocs)
      .groupBy("doc_id").agg(count(lit(1)).as("__nc"))
    packed.join(chunks, Seq("doc_id"), "left")
      .groupBy(col("lang"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).as("toks"),
        sum(coalesce(col("__nc"), lit(0L))).as("n_chunks"))
  }

  /** DuckDB mirror of [[build]]: the kept-corpus prefix as a derived
    * table, then the packShards window, the chunk count and the
    * per-(lang, shard) audit — each block the component oracle's own
    * rendering. */
  def buildSql: String = buildSqlWith(domain = false, bpe = false)

  /** Mirror of `build(docs, domainGate = true, realBpe = true)` — the
    * fully-fused r14 pipeline. */
  def buildFullSql: String = buildSqlWith(domain = true, bpe = true)

  private def buildSqlWith(domain: Boolean, bpe: Boolean): String = {
    val B = TextOps.shardBudget
    val W = TextOps.chunkWords
    val S = TextOps.chunkStride
    val tokExpr =
      if (bpe) TextOps.bpeTokSql
      else """CAST(list_sum(list_transform(string_split(text, ' '),
             |                       t -> (len(t) + 3) // 4)) AS BIGINT)""".stripMargin
    s"""WITH keptd AS (
       |  SELECT k.doc_id, d.lang, k.text
       |  FROM (
       |${prepareSqlWith(fuzzy = false, keptOnly = true, domain = domain)}
       |  ) k JOIN main.documents d USING (doc_id)
       |),
       |tok AS (
       |  SELECT doc_id,
       |         $tokExpr AS n_bpe
       |  FROM keptd
       |),
       |pk AS (
       |  SELECT k.doc_id, k.lang, t.n_bpe,
       |         CAST((sum(t.n_bpe) OVER (PARTITION BY k.lang ORDER BY k.doc_id
       |                                  ROWS UNBOUNDED PRECEDING) - t.n_bpe)
       |              // $B AS BIGINT) AS shard_id
       |  FROM keptd k JOIN tok t USING (doc_id)
       |),
       |ch AS (
       |  SELECT doc_id,
       |         greatest(1, CAST(ceil((len(string_split(coalesce(text, ''), ' ')) - $W)
       |                               / $S.0) AS INT) + 1) AS n_chunks
       |  FROM keptd
       |)
       |SELECT pk.lang, pk.shard_id,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(pk.n_bpe) AS BIGINT) AS toks,
       |       CAST(sum(ch.n_chunks) AS BIGINT) AS n_chunks
       |FROM pk JOIN ch USING (doc_id)
       |GROUP BY 1, 2""".stripMargin
  }
}
