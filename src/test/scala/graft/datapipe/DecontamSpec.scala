package graft.datapipe

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Benchmark decontamination: asymmetric probe-containment flags over a
  * broadcast probe n-gram index. */
class DecontamSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)

  test("every probe document with >= probeN words flags itself") {
    val flagged = Decontam.flagDocuments(docs)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val longProbes = docs
      .where(col("doc_id") % Decontam.probeMod === 0 &&
        size(split(col("text"), " ")) >= Decontam.probeN)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(longProbes.nonEmpty && longProbes.subsetOf(flagged))
  }

  test("a planted verbatim overlap is caught, disjoint text is not") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "aa bb cc dd ee ff gg"),          // contains the probe 5-gram
      (2L, "zz yy xx wv uu tt ss"),          // disjoint
      (3L, "xx aa bb cc dd ee zz")           // contains it shifted
    ).toDF("doc_id", "text")
    val probe = Seq((100L, "aa bb cc dd ee")).toDF("probe_id", "text")
    val got = Decontam.flag(corpus, Decontam.probeIndex(probe))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 100L), (3L, 1L, 100L)))
  }

  test("the probe index joins via broadcast, corpus grams never shuffle") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.catalyst.expressions.AttributeReference

    val root = Decontam.flagDocuments(docs).queryExecution.executedPlan
    // STRUCTURAL walk (not a toString regex, which a plan-rendering
    // change would silently vacuate): the spec base's collect descends
    // through AQE wrappers and query stages to every exchange node
    val broadcasts = collect(root) { case b: BroadcastExchangeLike => b }
    assert(broadcasts.nonEmpty, s"expected a broadcast probe join in:\n$root")
    // allowed exchanges: the probe-side gram distinct (probe_id, g) and
    // the post-join matched-row aggregates (doc_id[, probe_id]). A
    // corpus-gram shuffle — hash-partitioned on (doc_id, g) — is the one
    // shape the operator's scale contract forbids (it would move every
    // corpus gram over the network before the broadcast semijoin)
    val corpusGramShuffles = collect(root) {
      case e: ShuffleExchangeLike => e
    }.filter { e =>
      e.outputPartitioning match {
        case hp: HashPartitioning =>
          val names = hp.expressions.flatMap(_.collect {
            case a: AttributeReference => a.name
          }).toSet
          names.contains("doc_id") && names.contains("g")
        case _ => false
      }
    }
    assert(corpusGramShuffles.isEmpty,
      s"corpus grams shuffle before the semijoin:\n${corpusGramShuffles.mkString("\n")}\nin:\n$root")
  }

  test("short documents (< probeN words) produce no grams and never flag") {
    import spark.implicits._
    val corpus = Seq((1L, "aa bb cc dd"), (2L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val probe = Seq((9L, "aa bb cc dd ee")).toDF("probe_id", "text")
    val got = Decontam.flag(corpus, Decontam.probeIndex(probe))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == Set(2L))
  }

  test("r12 fuzzy decontam: flags a block-scrambled probe copy exact containment misses; " +
    "best_jac equals the pure-Scala shingle Jaccard") {
    import spark.implicits._
    // block-scramble: chunk into 4-word blocks, reverse block order —
    // the longest run of original consecutive words is 4 < probeN(=5),
    // so the scrambled copy shares a 5-gram with the probe only by a
    // chance re-occurrence, while its word-3-shingle SET stays close.
    // Search seeds for a witness where exact misses and the gate's LSH
    // buckets the pair (a band's 4 minhash minima all on shared
    // shingles); every witness is then verified against a brute-force
    // Scala Jaccard.
    def blockRev(words: Seq[String]): Seq[String] =
      words.grouped(4).toSeq.reverse.flatten
    val vocab = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    def sh3(words: Seq[String]): Set[String] =
      if (words.length < 3) Set.empty
      else words.sliding(3).map(_.mkString(" ")).toSet
    val witness = (1 to 60).iterator.flatMap { seed =>
      graft.CacheRegistry.unpersistAll()
      val rnd = new scala.util.Random(seed)
      val orig = Seq.fill(48)(vocab(rnd.nextInt(vocab.length)))
      val scr = blockRev(orig)
      val corpus = Seq((0L, orig.mkString(" ")), (5L, scr.mkString(" ")),
        (7L, "unrelated totally different words about nothing shared whatsoever here"))
        .toDF("doc_id", "text")
      val probe = Seq((0L, orig.mkString(" "))).toDF("probe_id", "text")
      val exact = Decontam.flag(corpus, Decontam.probeIndex(probe))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      if (exact.contains(5L)) None // chance 5-gram re-occurrence: not a witness
      else {
        val fuzzy = Decontam.flagFuzzy(corpus, probe, probesShareCorpusIds = true).collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
        assert(!fuzzy.contains(0L), "probe doc must never self-flag")
        assert(!fuzzy.contains(7L), "unrelated doc must never flag")
        fuzzy.get(5L).map(hit => (orig, scr, hit))
      }
    }.take(1).toSeq.headOption
    assert(witness.isDefined,
      "no seed gave a fuzzy catch with exact miss — gate recall or transform broken")
    val (orig, scr, (nProbes, firstProbe, bestJac)) = witness.get
    assert(nProbes == 1L && firstProbe == 0L)
    val a = sh3(orig); val b = sh3(scr)
    val want = BigDecimal((a intersect b).size.toDouble / (a union b).size.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(bestJac == want, s"best_jac $bestJac != scala jaccard $want")
    assert(bestJac >= Dedup.mhTau && bestJac < 1.0)
  }

  test("r12 plan pin: fuzzy decontam broadcasts BOTH probe-index frames; " +
    "no corpus exchange before the decision aggregate") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = Decontam.flagFuzzyDocuments(docs)
    df.count() // finalize AQE
    val root = df.queryExecution.executedPlan
    // the probe set is benchmark-sized: BOTH index frames (bucket keys
    // AND shingle-set payloads) must ride broadcast joins — a shuffled
    // join would move the 100 TB corpus's shingle mass for a tiny index
    val bhj = collectWithSubqueries(root) { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 2, s"expected both index joins broadcast, got ${bhj.size} in:\n$root")
    // the corpus side's only KEYED exchanges are the decision
    // aggregate's own (partial aggregation collapsed map-side first).
    // Keyless round-robin exchanges are allowed: the gated scan-fanout
    // (Tables.documents, r17-opt) spreads a below-parallelism scan once
    // — it is not a corpus-KEYED shuffle, and at cluster scale (scan
    // splits >= cores) it does not fire at all. What this pin forbids
    // is any hash-partitioned corpus exchange before the aggregate.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val keyedShuffles = collectWithSubqueries(root) { case e: ShuffleExchangeLike => e }
      .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(keyedShuffles.size <= 2,
      s"corpus must not hash-exchange before the decision aggregate:\n$root")
  }

  test("r12 review fix: external probe ids that collide numerically with corpus ids still flag") {
    import spark.implicits._
    // benchmark probe_id 7 is UNRELATED to corpus doc_id 7 — doc 7 is a
    // verbatim copy of the probe and must flag; with the (pre-fix)
    // unconditional identical-id exclusion the pair was silently dropped
    val corpus = Seq(
      (7L, "the quick brown fox jumps over the lazy dog tonight"),
      (8L, "completely unrelated words about some other topic entirely")
    ).toDF("doc_id", "text")
    val bench = Seq((7L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("probe_id", "text")
    val got = Decontam.flagFuzzy(corpus, bench).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.keySet == Set(7L), s"expected only doc 7 flagged, got $got")
    assert(got(7L) == 1.0)
    // the derived-slice form keeps the exclusion: the probe doc itself
    // never self-flags
    val derived = Decontam.flagFuzzy(corpus,
      corpus.where(col("doc_id") === 7L).select(col("doc_id").as("probe_id"), col("text")),
      probesShareCorpusIds = true).collect()
    assert(derived.isEmpty, s"derived-slice probe must not self-flag: ${derived.mkString}")
  }

  test("r13 plant: pipe_decontam_fuzzy flags a known-nonzero, plant-explained set") {
    // the r12 entry was a 0-row hash match — vacuous. The planted entry
    // must (a) flag something at spec scale, (b) flag ONLY rows explained
    // by the plant (the synthetic corpus has no natural probe near-dups):
    // each flagged doc is a planted copy (probe_id + 1) or a probe seeing
    // its own planted copy
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val planted = Decontam.plantNearDups(docs)
    val flagged = Decontam.flagFuzzyDocuments(planted).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("first_probe"),
        r.getAs[Double]("best_jac")))
    assert(flagged.nonEmpty, "plant must make the entry non-vacuous")
    // every planted copy must flag its own source probe (the gate is
    // ASYMMETRIC — corpus docs score against the probe index only, so the
    // planted copy is the flagging side; mhTau = 0.08 is deliberately
    // lenient, so weak NATURAL similarities may also appear — those are
    // the operator's contract, not noise to assert away)
    val plantedIds = planted.where(col("doc_id") % Decontam.probeMod === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plantHits = flagged.filter { case (id, fp, _) =>
      id % Decontam.probeMod == 1 && fp == id - 1 }
    assert(plantHits.map(_._1).toSet == plantedIds,
      s"every planted copy must flag its source: got ${flagged.mkString(",")}")
    // planted similarity is structurally high: (n-2k+2)/n for the half-swap
    assert(plantHits.forall(_._3 > 0.5),
      s"planted pairs must score near-duplicate jaccard: ${plantHits.mkString(",")}")
  }

  test("r13 plant: scramble destroys every cut-spanning n-gram; exact containment misses the plant") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val planted = Decontam.plantNearDups(docs)
    // exact n-gram flags on the PLANTED corpus: planted docs may share
    // grams inside each half, but at least verify the fuzzy gate catches
    // plants the exact gate scores strictly weaker (fewer matched probes
    // per planted doc than the probe's full self-hit gram count)
    val plantedIds = planted.where(col("doc_id") % Decontam.probeMod === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fuzzyIds = Decontam.flagFuzzyDocuments(planted).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(plantedIds.nonEmpty && (fuzzyIds intersect plantedIds).nonEmpty)
    // the planted text really is a reordering: same multiset of words
    val pairs = planted.as("p").join(docs.as("o"), Seq("doc_id"))
      .where(col("doc_id") % Decontam.probeMod === 1)
      .select(col("p.text"), col("o.text"), (col("doc_id") - 1).as("src"))
      .collect()
    val srcTexts = docs.where(col("doc_id") % Decontam.probeMod === 0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    pairs.foreach { r =>
      val (pt, src) = (r.getString(0), r.getLong(2))
      srcTexts.get(src).foreach { st =>
        assert(pt.split(" ").sorted.toSeq == st.split(" ").sorted.toSeq,
          s"planted text must be a word-permutation of probe $src")
        assert(pt != st || st.split(" ").distinct.length <= 1,
          s"planted text must differ from probe $src")
      }
    }
  }
}
