package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Text-analysis operators for LLM training-data pipelines: token counting,
 * quality scoring, language ID, and winnowing fingerprints.
 *
 * Everything is built from codegen'd `org.apache.spark.sql.functions._`
 * compositions — no UDFs — so whole-stage codegen spans the full operator
 * and Catalyst prunes the scan down to (doc_id, text).
 *
 * Cross-engine determinism: every hash is derived from md5 hex (a standard
 * both Spark and DuckDB implement identically), so the driver's DuckDB
 * oracle reproduces results bit-for-bit. Each op ships its oracle SQL from
 * the same constants (see the *Sql members).
 */
object TextOps {

  /** 60-bit non-negative hash from the first 15 md5 hex chars. */
  /** 60-bit md5 prefix as a long — the fused codegen expression
    * ([[graft.functions.H60]], r16; bit-equal to the old
    * `conv(substring(md5(c), 1, 15), 16, 10)` form, which paid three
    * per-row string round-trips). */
  def h60(c: Column): Column = graft.functions.H60.h60(c)

  /** DuckDB rendering of [[h60]] — identical value for identical input. */
  def h60Sql(x: String): String = s"(('0x' || substr(md5($x), 1, 15))::BIGINT)"

  /** Documents are single-space tokenized; split is the shared tokenizer. */
  def words(c: Column): Column = split(c, " ")

  /** Per-language stopword lists for the langid vote. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "et"),
    "zh" -> Seq("de5", "le5", "zai4")) // pinyin placeholders (ASCII-only corpus)

  /** English-ish stopword list used by the quality score. */
  val qualityStop: Seq[String] = Seq("the", "a", "of", "and")

  // ------------------------------------------------------------- token counts

  /**
   * Token counting: whitespace tokens, alphabetic runs (a BPE-ish regex
   * proxy), and a ceil(len/4) subword estimate — one scan, fully
   * partition-parallel, no shuffle.
   */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs.select(
      col("doc_id"),
      size(w).cast(LongType).as("n_ws"),
      regexp_count(col("text"), lit("[a-z]+")).cast(LongType).as("n_alpha"),
      aggregate(w, lit(0L), (acc, t) =>
        acc + floor((length(t) + lit(3)) / lit(4)).cast(LongType)).as("n_bpe"))
  }

  val tokenCountsSql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
      |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
      |       CAST(list_sum(list_transform(string_split(text, ' '),
      |                     t -> (len(t) + 3) // 4)) AS BIGINT) AS n_bpe
      |FROM documents""".stripMargin

  // ---------------------------------------------------------- BPE tokenizer

  /** Intra-word token separator for the BPE repr — U+00B7, absent from
    * the corpus charset (checked at all SFs; a production corpus would
    * escape it during ingest). */
  val bpeSep = "·"

  /**
   * FROZEN BPE merge table (r14) — 48 merges trained by [[bpeTrain]] on
   * the deterministic curated slice (sf0.001 documents, doc_id % 20 == 0;
   * BpeSpec re-trains and pins equality). Frozen-by-design: production
   * pipelines tokenize with a FIXED published tokenizer (GPT-2's vocab
   * does not retrain per corpus), so the merge table is a constant of
   * the build, the oracle mirrors it literally, and every engine counts
   * identically. The `(len+3)/4` heuristic [[tokenCounts]] keeps its
   * entries; this is the production-faithful alternative for shard
   * budgets and mix audits.
   */
  val bpeMerges: Seq[(String, String)] = Seq(("e", "r"), ("o", "r"),
    ("i", "n"), ("s", "t"), ("o", "w"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("a", "t"), ("m", "er"), ("or", "t"), ("s", "ort"), ("d", "er"),
    ("or", "der"), ("a", "s"), ("as", "h"), ("h", "ash"), ("a", "g"),
    ("ag", "g"), ("a", "lu"), ("alu", "e"), ("par", "t"), ("v", "alue"),
    ("h", "e"), ("t", "he"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("u", "p"), ("a", "n"), ("c", "an"), ("c", "o"),
    ("c", "u"), ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("e", "y"), ("in", "e"), ("k", "ey"),
    ("l", "ine"), ("s", "can"), ("at", "c"), ("atc", "h"), ("b", "atch"))

  /** UTF-8 BYTE order on strings — the binary collation BOTH engines
    * sort by (Spark's UTF8String, DuckDB's default). Java's
    * `String.compareTo` is UTF-16 code-unit order instead, which ranks
    * supplementary characters (surrogates, 0xD800+) BELOW U+E000..U+FFFF
    * — so a driver-side `.min` tie-break silently diverges from the
    * engines on non-ASCII vocab (r16 advice fix; UTF-8 byte order equals
    * code-point order, so this is also the code-point comparator). */
  private val utf8Order: Ordering[String] = (x: String, y: String) =>
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private val utf8PairOrder: Ordering[(String, String)] =
    Ordering.Tuple2(utf8Order, utf8Order)

  /**
   * Pure-Scala BPE trainer (Sennrich et al., ACL 2016): count adjacent
   * token pairs weighted by word frequency, merge the most frequent
   * (ties broken by the smallest pair in UTF-8 BYTE order — the
   * engines' binary collation, so [[bpeTrainDistributed]] is
   * table-identical on ANY vocab, not just ASCII), repeat. Runs on a
   * DRIVER-SIZED sample (the curated slice — the same
   * legitimacy class as the NB vocabulary and IVF centroids): training
   * a tokenizer is a once-per-corpus-family decision made on a sample,
   * never a distributed full-corpus pass.
   */
  def bpeTrain(samples: Seq[String], nMerges: Int): Seq[(String, String)] = {
    val freq = scala.collection.mutable.HashMap[String, Long]().withDefaultValue(0L)
    samples.foreach(_.split(" ").iterator.filter(_.nonEmpty).foreach(w => freq(w) += 1))
    // base tokens are Unicode CODE POINTS — the same unit the engine
    // tokenizers' `(?s)(.)` regex wrap matches (per-UTF-16-unit splitting
    // would cut surrogate pairs and skip nothing, diverging from the
    // regex on non-BMP/newline chars; r15 review alignment — ASCII
    // corpora are unaffected)
    def cps(w: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    var reprs: Map[String, Vector[String]] =
      freq.keysIterator.map(w => w -> cps(w)).toMap
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (!exhausted && merges.size < nMerges) {
      val pc = scala.collection.mutable.HashMap[(String, String), Long]().withDefaultValue(0L)
      for ((w, t) <- reprs; i <- 0 until t.length - 1) pc((t(i), t(i + 1))) += freq(w)
      if (pc.isEmpty) exhausted = true
      else {
        val mx = pc.values.max
        // iterator first: collect on a Map whose result elements are
        // THEMSELVES pairs rebuilds a Map and silently collapses tied
        // candidates sharing a first component
        val best = pc.iterator.collect { case (p, c) if c == mx => p }
          .min(utf8PairOrder)
        merges += best
        val (a, b) = best
        reprs = reprs.map { case (w, t) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < t.length) {
            if (i < t.length - 1 && t(i) == a && t(i + 1) == b) { out += (a + b); i += 2 }
            else { out += t(i); i += 1 }
          }
          w -> out.result()
        }
      }
    }
    merges.toSeq
  }

  /**
   * Tokenizer-faithful token count per document — the merge table
   * applied EXACTLY (not estimated), engine-portably, with zero UDFs:
   *
   * Each word renders as a separator-wrapped char sequence
   * (`·a··b··c·` — every token carries its own `·` on BOTH sides), and
   * each merge in rank order is ONE literal string replacement
   * (`·a··b·` → `·ab·`). The wrapping makes the replacement exact BPE:
   * the pattern can only match two complete adjacent tokens (a token
   * suffix/prefix never abuts a bare separator pair), and non-
   * overlapping left-to-right replacement of one pair is precisely the
   * reference algorithm's leftmost-first merge of that pair — after a
   * match consumes `·a··b·`, the following token still carries its own
   * leading `·`, so consecutive occurrences merge in the same pass
   * (BpeSpec pins equality against the direct iterative tokenizer).
   * The final token count is `(#separators)/2`. The whole thing is a
   * projection — no shuffle, no UDF, codegen-friendly, and the DuckDB
   * oracle runs the identical replacement chain.
   */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)] = bpeMerges): Column = {
    def chain(w: Column): Column =
      merges.foldLeft(regexp_replace(w, "(?s)(.)", s"$bpeSep$$1$bpeSep")) {
        case (c, (a, b)) =>
          // literal StringReplace (no regex engine) per merge step — the
          // only regex is the initial char wrap
          replace(c, lit(s"$bpeSep$a$bpeSep$bpeSep$b$bpeSep"), lit(s"$bpeSep$a$b$bpeSep"))
      }
    // NULL text counts as zero tokens on BOTH engines (the oracle's
    // coalesce(list_sum, 0) would otherwise disagree with a NULL
    // aggregate here — r14 review fix, same contract as segments())
    val reprs = transform(words(coalesce(text, lit(""))), w => chain(w))
    aggregate(reprs, lit(0L), (acc, r) =>
      acc + ((length(r) - length(replace(r, lit(bpeSep), lit("")))).cast(LongType) / 2)
        .cast(LongType))
  }

  /** One `(doc_id, n_bpe)` row per document under the frozen tokenizer. */
  def bpeCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), bpeTokenCount(col("text")).as("n_bpe"))

  /**
   * DISTRIBUTED BPE trainer (r15) — the same Sennrich pair-count/merge
   * fixpoint as [[bpeTrain]], restated so every corpus-sized pass is a
   * Spark aggregate and the driver only ever holds the merge table:
   *
   *  - ONE corpus pass builds the weighted vocabulary (word → freq), a
   *    map-side-combinable groupBy; it is persisted and the corpus is
   *    never rescanned. At 100 TB the vocab is the bounded unit (~10^8
   *    distinct words worst case), not the corpus.
   *  - each merge round derives the current representations by replaying
   *    the merges-so-far as the [[bpeTokenCount]] literal-replace chain
   *    over the persisted vocab (projection-only — no per-round state to
   *    checkpoint, deterministic by construction), explodes adjacent
   *    token pairs, and sums freq per pair: one map-side-combinable
   *    shuffle over vocab-sized data per round.
   *  - the round's winner is ONE collected row — max count, ties by
   *    smallest (left, right) in the engines' binary UTF-8 order, which
   *    [[bpeTrain]]'s `.min(utf8PairOrder)` matches exactly on ANY vocab
   *    (r16 advice fix — Java char order used to diverge on
   *    supplementary characters).
   *
   * Stops early when no pair remains (exhausted), like [[bpeTrain]].
   * BpeDistSpec pins table equality against [[bpeTrain]] on the
   * canonical slice AND on a larger synthetic vocab.
   */
  def bpeTrainDistributed(docs: DataFrame, nMerges: Int): Seq[(String, String)] = {
    val vocab = graft.CacheRegistry.persistTracked(
      // spread ahead of the word explode + wrap regexp (r18 — the one
      // corpus-scale pass of the trainer; see Tables.spread)
      graft.sources.Tables.spread(docs)
        .select(explode(words(coalesce(col("text"), lit("")))).as("w"))
        .where(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        // DOTALL wrap: '.' must match newline code points too, or a
        // newline inside a word stays unwrapped and the token split
        // diverges from bpeTrain's code-point units
        .select(regexp_replace(col("w"), "(?s)(.)", s"$bpeSep$$1$bpeSep").as("repr"),
          col("freq")))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // INCREMENTAL representations (r17-opt, guide §1.2 — fix the
    // algorithmic pass structure first): round i used to REPLAY all i−1
    // merges-so-far as a literal-replace chain over the persisted vocab,
    // O(rounds²) string work in total. Sequential replays compose, so
    // applying only the NEWEST merge to the previous round's
    // materialized representations is exactly equivalent — O(rounds)
    // replaces in total. Each round's frame is lazily localCheckpoint'ed:
    // the winner aggregate below materializes it as part of the job that
    // needs it (no extra action per round) and the plan stays one
    // replace deep instead of accumulating the whole chain.
    var cur = vocab
    var exhausted = false
    while (!exhausted && merges.size < nMerges) {
      val t = col("__t")
      val adj = zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))
      val best = cur
        // tokens of the wrapped repr: strip the outer separators, split
        // on the inner pair — `·a··bc··d·` → [a, bc, d]
        .select(col("freq"),
          split(substr(col("repr"), lit(2), length(col("repr")) - 2),
            s"$bpeSep$bpeSep").as("__t"))
        .where(size(t) >= 2)
        .select(col("freq"), explode(adj).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        // REJECTED r18 experiment, recorded per guide §1.1: attaching
        // the winner as a broadcast 1-row frame (structurally identical
        // plan per round, codegen cache hit) measured 9.05 s vs 8.30 s
        // for this literal form isolated — the per-round broadcast build
        // costs more than the codegen recompile it saves. Literal kept.
        cur = cur.select(
          replace(col("repr"), lit(s"$bpeSep$a$bpeSep$bpeSep$b$bpeSep"),
            lit(s"$bpeSep$a$b$bpeSep")).as("repr"),
          col("freq")).transform(graft.Checkpoints.truncate(_, eager = false))
      }
    }
    merges.toSeq
  }

  /** `text_bpe_dist` entry frame: the merge table [[bpeTrainDistributed]]
    * learns on the canonical slice (every 20th document — the frozen
    * [[bpeMerges]] provenance), one (merge_rank, lhs, rhs) row per merge.
    * The oracle RETRAINS in DuckDB ([[bpeTrainDistSql]]), so the hash
    * compare proves the distributed fixpoint end-to-end at the gate SF,
    * not just table transport. */
  def bpeDistTable(docs: DataFrame, nMerges: Int = 48): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeTrainDistributed(docs.where(col("doc_id") % 20 === 0), nMerges)
      .zipWithIndex.map { case ((a, b), i) => ((i + 1).toLong, a, b) }
      .toDF("merge_rank", "lhs", "rhs")
  }

  /**
   * The identical BPE training run as ONE DuckDB statement: merge round
   * `i` is three chained CTEs — `pc_i` (pair counts over the previous
   * representations), `b_i` (the argmax winner, ties by smallest (a, b)
   * — byte order, same as Spark/Scala on the ASCII corpus), `r_i` (the
   * winner applied as the same literal separator-wrapped replacement the
   * Spark side uses). Scalar subqueries stand in for the driver-collected
   * winner; an exhausted round (empty `b_i`) passes representations
   * through unchanged and contributes no output row, mirroring the
   * trainer's early stop. No recursion — the round count is a build
   * constant, so the statement is a generated chain.
   */
  def bpeTrainDistSql(nMerges: Int = 48, mod: Int = 20): String = {
    // every CTE is MATERIALIZED: r_i references r_{i-1} five times (the
    // FROM plus the winner's scalar subqueries) — default inlining would
    // expand the chain EXPONENTIALLY (the first run died on file
    // handles); materialization makes it the same linear fixpoint the
    // Spark side runs
    val sb = new StringBuilder
    sb ++= s"""WITH r0 AS MATERIALIZED (
               |  SELECT regexp_replace(w, '(.)', '$bpeSep\\1$bpeSep', 'gs') AS repr,
               |         count(*) AS freq
               |  FROM (SELECT unnest(list_filter(string_split(coalesce(text, ''), ' '),
               |                                  w -> len(w) > 0)) AS w
               |        FROM documents WHERE doc_id % $mod = 0)
               |  GROUP BY 1)""".stripMargin
    for (i <- 1 to nMerges) {
      val prev = s"r${i - 1}"
      def a = s"(SELECT a FROM b$i)"
      def b = s"(SELECT b FROM b$i)"
      sb ++= s""",
                |b$i AS MATERIALIZED (
                |  SELECT p[1] AS a, p[2] AS b
                |  FROM (SELECT freq,
                |               unnest(list_filter(list_zip(t, t[2:]),
                |                                  p -> p[2] IS NOT NULL)) AS p
                |        FROM (SELECT freq,
                |                     string_split(substr(repr, 2, len(repr) - 2),
                |                                  '$bpeSep$bpeSep') AS t
                |              FROM $prev)
                |        WHERE len(t) >= 2)
                |  GROUP BY 1, 2
                |  ORDER BY sum(freq) DESC, 1, 2 LIMIT 1),
                |r$i AS MATERIALIZED (
                |  SELECT CASE WHEN (SELECT count(*) FROM b$i) = 0 THEN repr
                |              ELSE replace(repr,
                |                           '$bpeSep' || $a || '$bpeSep$bpeSep' || $b || '$bpeSep',
                |                           '$bpeSep' || $a || $b || '$bpeSep')
                |         END AS repr, freq
                |  FROM $prev)""".stripMargin
    }
    sb ++= "\n" + (1 to nMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs FROM b$i")
      .mkString("\nUNION ALL\n")
    sb.toString
  }

  /** The DuckDB replacement chain over a word expression — shared by
    * [[bpeCountsSql]] and the BPE-keyed packing oracle. */
  private def bpeChainSql(inner: String): String =
    bpeMerges.foldLeft(s"regexp_replace($inner, '(.)', '$bpeSep\\1$bpeSep', 'gs')") {
      case (c, (a, b)) => s"replace($c, '$bpeSep$a$bpeSep$bpeSep$b$bpeSep', '$bpeSep$a$b$bpeSep')"
    }

  /** Per-word BPE token count in DuckDB (chain once via the inner
    * list_transform, count separators via the outer). */
  private[datapipe] def bpeTokSql: String =
    s"""CAST(coalesce(list_sum(list_transform(
       |  list_transform(string_split(coalesce(text, ''), ' '), w -> ${bpeChainSql("w")}),
       |  r -> (len(r) - len(replace(r, '$bpeSep', ''))) // 2)), 0) AS BIGINT)""".stripMargin

  lazy val bpeCountsSql: String =
    s"SELECT doc_id, $bpeTokSql AS n_bpe\nFROM documents"

  // ------------------------------------------------------------ quality score

  /**
   * Quality scoring: type-token ratio, mean token length, stopword ratio,
   * and a bounded length prior, combined into one [0,1] score. Single
   * narrow projection — the shape you want scanning 100 TB of text.
   */
  def quality(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    // `carry`: extra input columns to keep in the output projection, so a
    // downstream per-stratum consumer (pipe_topk) needs ONE scan instead
    // of re-joining the corpus for its grouping column
    val w = words(col("text"))
    val nTok = size(w).cast("double")
    val ttr = size(array_distinct(w)) / nTok
    val avgLen = aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok
    val stopHits = size(filter(w, t => t.isin(qualityStop: _*))).cast("double")
    val stopRatio = stopHits / nTok
    val lenPrior = least(lit(1.0), nTok / lit(100.0))
    val cols = Seq(
      col("doc_id"),
      size(w).cast(LongType).as("n_tokens"),
      round(ttr, 6).as("ttr"),
      round(avgLen, 6).as("avg_len"),
      round(stopRatio, 6).as("stop_ratio"),
      round(lit(0.3) * lenPrior + lit(0.4) * ttr + lit(0.3) * (lit(1.0) - stopRatio), 6)
        .as("score")) ++ carry.map(col)
    docs.select(cols: _*)
  }

  val qualitySql: String = {
    val stopList = qualityStop.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), m AS (
       |  SELECT doc_id,
       |         CAST(len(w) AS BIGINT) AS n_tokens,
       |         len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS ttr,
       |         CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
       |           / CAST(len(w) AS DOUBLE) AS avg_len,
       |         len(list_filter(w, t -> t IN ($stopList)))
       |           / CAST(len(w) AS DOUBLE) AS stop_ratio,
       |         least(1.0, CAST(len(w) AS DOUBLE) / 100.0) AS len_prior
       |  FROM t
       |)
       |SELECT doc_id, n_tokens, round(ttr, 6) AS ttr, round(avg_len, 6) AS avg_len,
       |       round(stop_ratio, 6) AS stop_ratio,
       |       round(0.3 * len_prior + 0.4 * ttr + 0.3 * (1.0 - stop_ratio), 6) AS score
       |FROM m""".stripMargin
  }

  // -------------------------------------------------------------- language ID

  /**
   * Language ID by stopword vote: count hits per language list, argmax with
   * alphabetical tie-break, 'und' when nothing hits. One narrow scan, no
   * shuffle; the stopword lists are query literals (broadcast-free).
   */
  def langId(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val w = words(col("text"))
    val hitCols = stopwords.map { case (lang, ws) =>
      lang -> size(filter(w, t => t.isin(ws: _*))).cast(LongType)
    }
    val best = greatest(hitCols.map(_._2): _*)
    // first language (alphabetical) whose hit count equals the max wins
    val predOrdered = hitCols.reverse.foldLeft(lit("und")) {
      case (els, (lang, h)) => when(best > 0 && h === best, lit(lang)).otherwise(els)
    }
    docs.select(
      ((col("doc_id") +: hitCols.map { case (l, c) => c.as(s"hits_$l") }) :+
        predOrdered.as("pred_lang")) ++ carry.map(col): _*)
  }

  val langIdSql: String = {
    val hits = stopwords.map { case (lang, ws) =>
      val l = ws.map(s => s"'$s'").mkString(", ")
      s"CAST(len(list_filter(w, t -> t IN ($l))) AS BIGINT) AS hits_$lang"
    }.mkString(",\n         ")
    val hitNames = stopwords.map { case (l, _) => s"hits_$l" }
    val best = s"greatest(${hitNames.mkString(", ")})"
    val caseExpr = stopwords.map { case (lang, _) =>
      s"WHEN hits_$lang = $best THEN '$lang'"
    }.mkString("\n           ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |h AS (
       |  SELECT doc_id,
       |         $hits
       |  FROM t
       |)
       |SELECT doc_id, ${hitNames.mkString(", ")},
       |       CASE WHEN $best = 0 THEN 'und'
       |           $caseExpr
       |           ELSE 'und' END AS pred_lang
       |FROM h""".stripMargin
  }

  /**
   * NB language ID (r16 — VERDICT #8's fastText-class upgrade of the
   * stopword vote): a MULTICLASS Bernoulli Naive-Bayes over the word
   * vocabulary, trained on a curated labeled slice (`curated` marks it;
   * its `lang` column is the class), scoring every document by the MEAN
   * smoothed per-class word likelihood
   *
   *   score_L(d) = mean over distinct words w of d of
   *                (df_L(w) + 1) / (n_L + 2)
   *
   * — the [[lmScore]] mean-likelihood idiom (no logs). The winner is the
   * argmax with alphabetical ties; docs with no words predict 'und'.
   *
   * ENGINE-EXACT without the decimal hop (unlike [[nbScoreWith]], whose
   * two-class odds have per-word denominators): the class denominator
   * `n_L + 2` is CONSTANT, so
   *
   *   score_L(d) = S_L / ((n_L+2) · |d|),  S_L = Σ_w (df_L(w) + 1)
   *
   * an exact integer sum with ONE final double division — bit-identical
   * across engines with zero rounding slack; the argmax ranks on the
   * exact-int division `S_L / (n_L+2)` (same |d| per language), so the
   * winner can never flip on a representation tail.
   *
   * Scale shape: training is one labeled distinct-word scan with a
   * map-combinable count + the [[nbVocab]] TakeOrdered cut (words
   * outside the cap fall to the +1 smoothing mass automatically, via
   * the left join); scoring is one corpus scan, a broadcast vocab join
   * fanned out over the (tiny) language list, and a per-(doc, lang)
   * count/sum aggregate — the only corpus-keyed exchange. The argmax
   * window partitions per doc (|langs| rows each), never globally.
   */
  def langIdNb(docs: DataFrame, curated: Column, cap: Int = nbVocab): DataFrame =
    langIdNbOver(docs, curated, cap,
      array_distinct(words(col("__t"))), "n_words")

  /** Char-trigram NB language ID (r17 — VERDICT #7): the same exact
    * integer-sum machinery as [[langIdNb]], with distinct character
    * TRIGRAMS of the normalized text as the features — fastText's
    * subword idea (Joulin et al. 2016): an unseen inflected form
    * ("runnings") still shares most of its grams with seen vocabulary,
    * where the word model sees only the +1 smoothing mass and ranks on
    * class priors. Count column is `n_grams`. */
  def langIdNbChar(docs: DataFrame, curated: Column, cap: Int = nbVocab): DataFrame = {
    // grams read the MATERIALIZED `__t` column (projected by
    // langIdNbOver in its own select): embedding the normText regexp
    // tree in the lambda body would re-evaluate regexp_replace once PER
    // TRIGRAM element — the documented O(len x regex) per-doc trap
    // (r17 floor run: 17.8s -> ~2s at sf0.1)
    val t = col("__t")
    val grams = when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array())
    // spread ahead of the trigram explode (r18 — ~len(text) gram rows
    // per doc; the WORD-gram langIdNb stays unspread: its per-row work
    // is a plain split, measured 0.91→1.66 s REGRESSED under the r17
    // loader fanout; see Tables.spread)
    langIdNbOver(graft.sources.Tables.spread(docs), curated, cap,
      array_distinct(grams), "n_grams")
  }

  /** Core NB scorer; `grams` must be an expression over the `__t`
    * column, which this method materializes (normalized text) in its
    * own projection on both the curated and the scoring side. */
  private def langIdNbOver(docs: DataFrame, curated: Column, cap: Int,
                           grams: Column, cntName: String): DataFrame = {
    val cur = docs.where(curated && col("lang").isNotNull)
      .select(col("lang"), Dedup.normText.as("__t"))
    val nl = cur.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val dfx = cur.select(col("lang"), explode(grams).as("w"))
      .groupBy(col("w"), col("lang")).agg(count(lit(1)).as("df"))
    val tot = dfx.groupBy(col("w")).agg(sum(col("df")).as("tdf"))
      .orderBy(col("tdf").desc, col("w").asc).limit(cap)
    val vcap = dfx.join(tot.select("w"), Seq("w"), "left_semi")
    val dw = docs.select(col("doc_id"), Dedup.normText.as("__t"))
      .select(col("doc_id"), explode(grams).as("w"))
    val pairs = dw.crossJoin(broadcast(nl))
      .join(broadcast(vcap), Seq("w", "lang"), "left")
      .select(col("doc_id"), col("lang"), col("nl"),
        (coalesce(col("df"), lit(0L)) + lit(1L)).as("dfp"))
    val scored = pairs.groupBy(col("doc_id"), col("lang"), col("nl"))
      .agg(count(lit(1)).as("n_feats"), sum(col("dfp")).as("s"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy((col("s").cast("double") / (col("nl") + 2L).cast("double")).desc,
        col("lang").asc)
    val best = scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    docs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_feats"), lit(0L)).as(cntName),
        coalesce(col("lang"), lit("und")).as("pred_lang"),
        round(col("s").cast("double") /
          ((col("nl") + lit(2L)) * col("n_feats")).cast("double"), 6).as("nb_score"))
  }

  /** DuckDB mirror of [[langIdNb]] — the same integer sums, the same
    * single exact-int divisions for rank and score. */
  def langIdNbSql(curatedPred: String): String =
    langIdNbSqlOver(curatedPred, t => s"string_split($t, ' ')", "n_words")

  /** DuckDB mirror of [[langIdNbChar]]: distinct char trigrams of the
    * normalized text as the feature list (range upper bound is
    * exclusive, so len-1 yields positions 1..len-2, each a full
    * trigram; sub-3-char docs get the empty list). */
  def langIdNbCharSql(curatedPred: String): String =
    langIdNbSqlOver(curatedPred,
      t => s"list_transform(range(1, len($t) - 1), i -> substr($t, i, 3))",
      "n_grams")

  private def langIdNbSqlOver(curatedPred: String,
                              gramsOf: String => String,
                              cntName: String): String = {
    val norm = Dedup.normTextSql
    s"""WITH cur AS (
       |  SELECT lang, $norm AS t FROM documents
       |  WHERE ($curatedPred) AND lang IS NOT NULL
       |),
       |nl AS (SELECT lang, count(*) AS nl FROM cur GROUP BY lang),
       |cw AS (SELECT lang, unnest(list_distinct(${gramsOf("t")})) AS w FROM cur),
       |dfx AS (SELECT w, lang, count(*) AS df FROM cw GROUP BY w, lang),
       |tot AS (SELECT w FROM (
       |  SELECT w, sum(df) AS tdf FROM dfx GROUP BY w
       |  ORDER BY tdf DESC, w LIMIT $nbVocab)),
       |vcap AS (SELECT dfx.w, dfx.lang, dfx.df FROM dfx JOIN tot USING (w)),
       |dw AS (
       |  SELECT doc_id, unnest(list_distinct(${gramsOf(norm)})) AS w
       |  FROM documents
       |),
       |pairs AS (
       |  SELECT d.doc_id, n.lang, n.nl, coalesce(v.df, 0) + 1 AS dfp
       |  FROM dw d CROSS JOIN nl n
       |  LEFT JOIN vcap v ON v.w = d.w AND v.lang = n.lang
       |),
       |scored AS (
       |  SELECT doc_id, lang, nl, count(*) AS n_feats, sum(dfp) AS s
       |  FROM pairs GROUP BY doc_id, lang, nl
       |),
       |best AS (
       |  SELECT doc_id, lang, nl, n_feats, s,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY CAST(s AS DOUBLE) / CAST(nl + 2 AS DOUBLE) DESC, lang) AS rn
       |  FROM scored
       |)
       |SELECT d.doc_id, CAST(coalesce(b.n_feats, 0) AS BIGINT) AS $cntName,
       |       coalesce(b.lang, 'und') AS pred_lang,
       |       round(CAST(b.s AS DOUBLE)
       |             / CAST((b.nl + 2) * b.n_feats AS DOUBLE), 6) AS nb_score
       |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
       |  ON b.doc_id = d.doc_id""".stripMargin
  }

  // -------------------------------------------------- winnowing fingerprints

  /** Winnowing parameters: word k-grams, window of consecutive hashes. */
  val fpK = 4
  val fpWindow = 4

  /** Word k-gram STRING array from an ALREADY-MATERIALIZED words-array
    * column (positions 0-based) — the grams [[repetitionOver]] counts,
    * and the reference [[graft.functions.ShingleHashes]] is checked
    * against. Hashed grams go through `ShingleHashes`, one codegen'd
    * loop; this chain evaluates interpreted. Callers must project the
    * words array in its own select first: passing `words(text)` directly
    * makes Catalyst inline the split (and any normalization) into every
    * lambda iteration — O(n^2 * len) per document. */
  def shinglesOf(w: Column, k: Int): Column =
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k), i => array_join(slice(w, i + 1, lit(k)), " ")))
      .otherwise(array())

  /**
   * Document fingerprinting by winnowing (Schleimer/Wilkerson/Aiken):
   * hash every word 4-gram, slide a window of 4 consecutive hashes, keep
   * each window's min, emit the distinct mins per doc. Entirely
   * array-native (transform/slice/array_min/array_distinct) so the whole
   * operator is one map-side pass over the scan — zero shuffles, which is
   * the shape you want fingerprinting 100 TB of text.
   */
  def fingerprints(docs: DataFrame): DataFrame = {
    // materialize the hashes in their own projection: inlining them into
    // the consuming lambda would re-hash per iteration (O(n^2) work per doc)
    val withHs = docs.select(col("doc_id"),
      graft.functions.ShingleHashes.hashes(words(col("text")), fpK).as("hs"))
    val hs = col("hs")
    val nWin = size(hs) - fpWindow + 1
    val mins = when(nWin > 0,
      array_distinct(transform(sequence(lit(0), nWin - 1),
        i => array_min(slice(hs, i + 1, lit(fpWindow))))))
      .otherwise(array())
    withHs.select(col("doc_id"), explode(mins).as("fp"))
  }

  // --------------------------------------------------------- shard packing

  /** Token budget per training shard (BPE-estimated tokens). */
  val shardBudget = 2048L

  /** Doc-id block width for [[packShards]]'s distributed prefix sum: the
    * level-1 scan partitions by `(lang, doc_id div packBlock)`, so no
    * window partition ever holds more than [[packBlock]] rows — an
    * UNCONDITIONAL bound (a block spans at most `packBlock` distinct
    * doc_ids), independent of language skew or id sparsity. */
  val packBlock: Long = 1L << 20

  /**
   * Greedy training-shard packing: assign each document to a shard so
   * each shard holds ~[[shardBudget]] BPE-estimated tokens, packing in
   * deterministic doc_id order WITHIN each language partition.
   * `shard_id = (running token total before this doc) div budget` — the
   * streaming-greedy rule. Token counts are integral, so the running sum
   * is exact and the assignment engine-independent.
   *
   * The per-language running sum is a DISTRIBUTED two-level scan, not one
   * `PARTITION BY lang` window: real corpora are English-dominated, so a
   * single per-lang window would land the dominant language's entire row
   * set (10^10+ rows at 100 TB) on ONE reducer task. Level 1 scans within
   * `(lang, doc_id div blockW)` — window partitions bounded by `blockW`
   * rows no matter how skewed the languages are; level 2 prefix-sums the
   * tiny per-(lang, block) totals frame (≤ idRange/blockW rows) and the
   * exclusive block offsets broadcast-join back. Because doc_id blocks
   * respect the doc_id order (d1 < d2 ⇒ block(d1) ≤ block(d2)), the
   * reassembled cumulative sum — and hence every shard_id — is
   * bit-identical to the sequential per-language scan; being derived from
   * the DATA (not from physical partition ids), the split is
   * deterministic across runs, engines, and AQE decisions.
   */
  /** `realBpe = true` keys the shard budget on the FROZEN tokenizer's
    * exact counts ([[bpeCounts]]) instead of the `(len+3)/4` heuristic —
    * production-faithful shard budgets (r14); the packing dataflow is
    * identical. */
  def packShards(docs: DataFrame, blockW: Long = packBlock,
                 realBpe: Boolean = false): DataFrame =
    cumTokens(docs, blockW, realBpe)
      .select(col("doc_id"), col("lang"), col("n_bpe"),
        expr(s"(cum - n_bpe) div $shardBudget").as("shard_id"))

  /** The shared distributed prefix scan behind [[packShards]] and
    * [[ctxPack]]: per-language running token total in deterministic
    * doc_id order, as (doc_id, lang, n_bpe, cum) — cum INCLUDES the
    * row's own tokens, so a doc occupies [cum - n_bpe, cum). */
  private def cumTokens(docs: DataFrame, blockW: Long,
                        realBpe: Boolean): DataFrame = {
    // negative widths anti-order the blocks (div truncates toward zero),
    // silently breaking the exclusive prefix sum; zero NULLs every block
    require(blockW >= 1, s"positive block width required, got $blockW")
    import org.apache.spark.sql.expressions.Window
    val toks = (if (realBpe) bpeCounts(docs) else tokenCounts(docs))
      .select(col("doc_id"), col("n_bpe"))
    val slim = docs.select(col("doc_id"), col("lang"))
      .join(toks, "doc_id")
      .withColumn("__blk", expr(s"doc_id div ${blockW}L"))
    // level 1: running sum within each bounded (lang, block) cell
    val wLocal = Window.partitionBy(col("lang"), col("__blk"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = slim.withColumn("__lcum", sum(col("n_bpe")).over(wLocal))
    // level 2: exclusive prefix of per-(lang, block) totals — the only
    // whole-language sequential scan runs over this slim frame (one row
    // per non-empty block), then broadcasts back
    val wOff = Window.partitionBy(col("lang")).orderBy(col("__blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = slim.groupBy(col("lang"), col("__blk"))
      .agg(sum(col("n_bpe")).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wOff), lit(0L)))
      .select(col("lang"), col("__blk"), col("__off"))
    local.join(broadcast(offsets), Seq("lang", "__blk"))
      .withColumn("cum", col("__lcum") + col("__off"))
      .select(col("doc_id"), col("lang"), col("n_bpe"), col("cum"))
  }

  /** Tokens per packed training sequence for [[ctxPack]]. */
  val ctxBudget = 512L

  /**
   * GPT-style SAMPLE PACKING: lay documents end-to-end into fixed
   * `ctx`-token training sequences — token t of the language's stream
   * lands in sequence `t div ctx` at offset `t mod ctx`, so small docs
   * share a sequence (no padding waste) and a doc straddling a boundary
   * SPLITS across consecutive sequences (the GPT data layout, vs
   * [[chunkDocs]] which windows each doc separately). Emits per doc:
   * its stream interval [start_tok, start_tok + n_bpe), the first
   * sequence + offset, and `n_seqs` — how many sequences the doc spans
   * (0 for an empty doc: it occupies no slots). The mapping is pure
   * arithmetic over the [[cumTokens]] prefix scan, so packing inherits
   * its scale shape (bounded windows, slim offsets frame) and its
   * engine-exactness (integral sums in deterministic doc_id order).
   * Sequence space is per language, mirroring shard packing; mixed
   * batches compose this with the mixing stream.
   */
  def ctxPack(docs: DataFrame, ctx: Long = ctxBudget, blockW: Long = packBlock,
              realBpe: Boolean = false): DataFrame = {
    require(ctx >= 1, s"positive context budget required, got $ctx")
    cumTokens(docs, blockW, realBpe)
      .withColumn("start_tok", col("cum") - col("n_bpe"))
      .select(col("doc_id"), col("lang"), col("n_bpe"), col("start_tok"),
        expr(s"start_tok div ${ctx}L").as("seq_id"),
        expr(s"start_tok % ${ctx}L").as("seq_off"),
        when(col("n_bpe") === 0, lit(0L))
          .otherwise(expr(s"((start_tok + n_bpe - 1) div ${ctx}L) - (start_tok div ${ctx}L) + 1L"))
          .as("n_seqs"))
  }

  /** Mirror of [[ctxPack]] (heuristic counts) for the DuckDB oracle. */
  def ctxPackSql(ctx: Long = ctxBudget): String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         CAST(list_sum(list_transform(string_split(text, ' '),
       |                       t -> (len(t) + 3) // 4)) AS BIGINT) AS n_bpe
       |  FROM documents
       |), c AS (
       |  SELECT d.doc_id, d.lang, t.n_bpe,
       |         sum(t.n_bpe) OVER (PARTITION BY d.lang ORDER BY d.doc_id
       |                            ROWS UNBOUNDED PRECEDING) - t.n_bpe AS start_tok
       |  FROM documents d JOIN tok t ON d.doc_id = t.doc_id
       |)
       |SELECT doc_id, lang, n_bpe, CAST(start_tok AS BIGINT) AS start_tok,
       |       CAST(start_tok // $ctx AS BIGINT) AS seq_id,
       |       CAST(start_tok % $ctx AS BIGINT) AS seq_off,
       |       CAST(CASE WHEN n_bpe = 0 THEN 0
       |            ELSE ((start_tok + n_bpe - 1) // $ctx) - (start_tok // $ctx) + 1
       |            END AS BIGINT) AS n_seqs
       |FROM c""".stripMargin

  private def packShardsSqlWith(tokExpr: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id,
       |         $tokExpr AS n_bpe
       |  FROM documents
       |)
       |SELECT d.doc_id, d.lang, t.n_bpe,
       |       CAST((sum(t.n_bpe) OVER (PARTITION BY d.lang ORDER BY d.doc_id
       |                                ROWS UNBOUNDED PRECEDING) - t.n_bpe)
       |            // $shardBudget AS BIGINT) AS shard_id
       |FROM documents d JOIN tok t ON d.doc_id = t.doc_id""".stripMargin

  val packShardsSql: String = packShardsSqlWith(
    """CAST(list_sum(list_transform(string_split(text, ' '),
      |                       t -> (len(t) + 3) // 4)) AS BIGINT)""".stripMargin)

  /** Mirror of `packShards(docs, realBpe = true)`. */
  lazy val packShardsBpeSql: String = packShardsSqlWith(bpeTokSql)

  val fingerprintsSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         list_transform(range(0, greatest(len(w) - $fpK + 1, 0)),
       |                        i -> ${h60Sql(s"array_to_string(w[(i + 1):(i + $fpK)], ' ')")}) AS hs
       |  FROM t
       |),
       |m AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(0, greatest(len(hs) - ${fpWindow - 1}, 0)),
       |                       i -> list_min(hs[(i + 1):(i + $fpWindow)]))) AS fps
       |  FROM s
       |)
       |SELECT doc_id, unnest(fps) AS fp FROM m""".stripMargin

  // ------------------------------------------------- context-window chunking

  /** Words per training chunk and stride between chunk starts (overlap =
    * chunkWords - chunkStride). */
  val chunkWords = 40
  val chunkStride = 30

  /**
   * Context-window document chunking: cut each document into sliding
   * word windows of [[chunkWords]] with stride [[chunkStride]] — the
   * long-document prep step for fixed-context training (every token
   * appears in some chunk; consecutive chunks overlap by
   * `chunkWords - chunkStride` words so no training sequence starts
   * mid-context). Chunk count is `1` when the doc fits one window, else
   * `ceil((n - W) / S) + 1`; the last chunk clamps at the document end.
   *
   * Zero shuffles: one projection + explode per doc — the op is
   * embarrassingly parallel and composes with the gate/dedup passes
   * before it. At 100 TB the output is written partitioned by shard,
   * never aggregated.
   */
  def chunk(docs: DataFrame): DataFrame = {
    // NULL-text guard, mirrored in chunkSql: without it Spark's
    // greatest(1, NULL) ignores the NULL (one row, NULL chunk) while
    // DuckDB's range(0, NULL) emits zero rows — a row-count divergence
    // the moment a corpus carries NULL text. coalesce to '' makes both
    // engines emit exactly one empty chunk (split('', ' ') = [''] in
    // both dialects).
    val w = words(coalesce(col("text"), lit("")))
    val n = size(w)
    val nc = greatest(lit(1),
      ceil((n - lit(chunkWords)).cast("double") / chunkStride).cast("int") + 1)
    val sl = slice(col("w"), col("chunk_id") * chunkStride + 1, lit(chunkWords))
    docs.select(col("doc_id"), w.as("w"), nc.as("nc"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), col("nc") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        array_join(sl, " ").as("chunk"),
        size(sl).cast(LongType).as("n_words"))
  }

  val chunkSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents
       |), c AS (
       |  SELECT doc_id, w,
       |         greatest(1, CAST(ceil((len(w) - $chunkWords) / $chunkStride.0) AS BIGINT) + 1) AS nc
       |  FROM t
       |), e AS (
       |  SELECT doc_id, w, unnest(range(0, nc)) AS chunk_id FROM c
       |)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |       array_to_string(list_slice(w, chunk_id * $chunkStride + 1,
       |                                  chunk_id * $chunkStride + $chunkWords), ' ') AS chunk,
       |       CAST(len(list_slice(w, chunk_id * $chunkStride + 1,
       |                           chunk_id * $chunkStride + $chunkWords)) AS BIGINT) AS n_words
       |FROM e""".stripMargin

  // ------------------------------------------------------ TF-IDF top terms

  /** Top terms kept per document. */
  val tfidfK = 3

  /**
   * TF-IDF-style term weighting: per-document top-[[tfidfK]] terms by
   * `tf · (N / df)` (the inverse-document-frequency RATIO, log-free: the
   * ln of one engine's libm can differ from another's by 1 ulp, while
   * integer-ratio division and one multiply are IEEE-exact everywhere —
   * the monotone transform does not change the per-doc ranking).
   *
   * Scale shape: tf is one map-side-combinable groupBy of the exploded
   * term list; df is a distinct + groupBy on (term) — vocabulary-sized,
   * so its join back to tf broadcasts; the corpus size joins as a
   * broadcast scalar (no driver-side collect); the per-doc top-k is a
   * window over doc_id partitions (per-partition top-k + merge).
   */
  def tfidfTopTerms(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the term explode feeds both the tf aggregate and the df distinct —
    // persist it or the explode over every document runs twice (tracked)
    val terms = graft.CacheRegistry.persistTracked(
      docs.select(col("doc_id"), explode(words(col("text"))).as("term"))
        .where(length(col("term")) > 0))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = terms.distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .withColumn("w",
        round(col("tf") * (col("n_docs").cast("double") / col("df")), 6))
    val win = Window.partitionBy("doc_id").orderBy(col("w").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(win))
      .where(col("rnk") <= tfidfK)
      .select(col("doc_id"), col("term"), col("rnk").cast(LongType).as("rnk"), col("w"))
  }

  val tfidfTopTermsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), tt AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM t WHERE len(term) > 0 GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM t WHERE len(term) > 0 GROUP BY 1
       |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       |SELECT tt.doc_id, tt.term,
       |       CAST(row_number() OVER (
       |         PARTITION BY tt.doc_id
       |         ORDER BY round(tt.tf * (CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) DESC,
       |                  tt.term) AS BIGINT) AS rnk,
       |       round(tt.tf * (CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS w
       |FROM tt JOIN dfreq ON tt.term = dfreq.term, n
       |QUALIFY rnk <= $tfidfK""".stripMargin

  // ------------------------------------------------- composed corpus clean

  /** Corpus-cleaning gates shared by the Spark form and the oracle. */
  val cleanMinScore = 0.45
  val cleanMinTok = 10L
  val cleanMaxTok = 5000L
  val cleanLang = "en"

  /**
   * The COMPOSED cleaning pass a training-corpus pipeline actually runs:
   * language gate + quality gate + length gate + exact dedup, fused.
   * [[quality]] and [[langId]] are stacked projections over one scan
   * (Catalyst collapses them — CleanCorpusSpec pins a single documents
   * FileScan), the gates filter BEFORE the dedup shuffle, and the only
   * shuffle is the content-hash groupBy over survivors. Keeps the
   * lowest surviving doc_id per distinct content. */
  def cleanCorpus(docs: DataFrame): DataFrame = {
    val scored = langId(quality(docs, carry = Seq("text")),
      carry = Seq("n_tokens", "score", "text"))
    val kept = scored.where(col("pred_lang") === cleanLang &&
      col("score") >= cleanMinScore &&
      col("n_tokens").between(cleanMinTok, cleanMaxTok))
    kept.select(col("doc_id"), Dedup.normText.as("norm"), col("score"))
      .groupBy(md5(col("norm")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        round(max(col("score")), 6).as("score"))
  }

  val cleanCorpusSql: String = {
    val stopList = qualityStop.map(s => s"'$s'").mkString(", ")
    val hits = stopwords.map { case (lang, ws) =>
      val l = ws.map(s => s"'$s'").mkString(", ")
      s"CAST(len(list_filter(w, t -> t IN ($l))) AS BIGINT) AS hits_$lang"
    }.mkString(",\n         ")
    val hitNames = stopwords.map { case (l, _) => s"hits_$l" }
    val best = s"greatest(${hitNames.mkString(", ")})"
    val caseExpr = stopwords.map { case (lang, _) =>
      s"WHEN hits_$lang = $best THEN '$lang'"
    }.mkString("\n           ")
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
       |m AS (
       |  SELECT doc_id, text,
       |         CAST(len(w) AS BIGINT) AS n_tokens,
       |         len(list_distinct(w)) / CAST(len(w) AS DOUBLE) AS ttr,
       |         len(list_filter(w, t -> t IN ($stopList)))
       |           / CAST(len(w) AS DOUBLE) AS stop_ratio,
       |         least(1.0, CAST(len(w) AS DOUBLE) / 100.0) AS len_prior,
       |         $hits,
       |         CASE WHEN $best = 0 THEN 'und'
       |             $caseExpr
       |             ELSE 'und' END AS pred_lang
       |  FROM t
       |),
       |s AS (
       |  SELECT doc_id, text, n_tokens, pred_lang,
       |         round(0.3 * len_prior + 0.4 * ttr + 0.3 * (1.0 - stop_ratio), 6) AS score
       |  FROM m
       |)
       |SELECT md5(${Dedup.normTextSql}) AS h, min(doc_id) AS keep_id,
       |       CAST(count(*) AS BIGINT) AS n_copies, round(max(score), 6) AS score
       |FROM s
       |WHERE pred_lang = '$cleanLang' AND score >= $cleanMinScore
       |  AND n_tokens BETWEEN $cleanMinTok AND $cleanMaxTok
       |GROUP BY 1""".stripMargin
  }

  // ----------------------------------------------------- LM likelihood gate

  /**
   * Character-trigram LM likelihood score — the CCNet perplexity-
   * filtering signal (Wenzek et al., "CCNet: Extracting High Quality
   * Monolingual Datasets from Web Crawl Data", 2020: score each
   * document under a language model trained on a trusted reference
   * corpus, gate on the score) as a deterministic cross-engine
   * operator. The model is add-one-smoothed character trigrams over
   * `ref` (defaults to the corpus itself):
   *
   *   p(g) = (c3(g) + 1) / (c2(prefix2(g)) + V)
   *
   * and a document's score is the MEAN per-trigram probability, not a
   * log-domain perplexity: `ln` is libm-implementation-dependent, which
   * would break the bit-exact DuckDB oracle, while mean-likelihood is
   * pure IEEE division + the decimal-exact summation pattern the rest
   * of the module uses — and it ranks the same gate decisions
   * (monotone in the per-trigram likelihoods; low score = improbable
   * character sequences = the filter's target).
   *
   * Scale: both model sides are map-combinable groupBy counts bounded
   * by the charset (|chars|^3 trigram rows — broadcastable for real
   * text corpora; a giant-charset corpus would bucket-join instead);
   * scoring is one explode + two broadcast joins + one map-combinable
   * aggregate, so corpus bytes shuffle only for the per-doc regroup.
   * V (the reference charset size) is the one driver-side scalar, like
   * the IVF centroid collect.
   *
   * Output: one row per doc — `(doc_id, n_trigrams, lm_score)`;
   * sub-3-char (and NULL-text) docs keep their row with n_trigrams=0
   * and a NULL score.
   */
  /** Character n-grams over `text` (empty array below n chars / NULL). */
  private def lmGrams(n: Int): Column = {
    val t = coalesce(col("text"), lit(""))
    when(length(t) >= n,
      transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
      .otherwise(array())
  }

  /**
   * Persistable trigram LM (see [[lmScore]]): `tri`/`bi` are the count
   * relations, `vocab` the 1-row charset-size frame — all broadcast-
   * sized for real text corpora (bounded by |charset|^3). The CCNet
   * deployment shape trains this ONCE on a curated reference corpus and
   * scores every crawl shard against it; write/read gives the model the
   * same parquet-backed life cycle as `Dedup.MinhashIndex`.
   */
  case class LmModel(tri: DataFrame, bi: DataFrame, vocab: DataFrame) {
    def write(dir: String): Unit =
      graft.Artifact.write(dir, "lm", Nil, Seq("tri" -> tri, "bi" -> bi, "vocab" -> vocab))
  }

  object LmModel {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): LmModel = {
      val a = graft.Artifact.read(spark, dir, "lm")
      LmModel(a("tri"), a("bi"), a("vocab"))
    }
  }

  /** Train the trigram LM on `ref`. All three frames are LAZY: the
    * charset size rides as a broadcast 1-row frame (the TF-IDF corpus-
    * size pattern at [[tfidfTopTerms]]) instead of a `.head` at
    * operator-construction time, which made every [[lmScore]] CALL an
    * eager full reference scan even when the returned frame was never
    * executed (r11 finding). `greatest(·, 1)` keeps the add-one
    * smoothing well-defined on a reference with no characters, where
    * `1/(c2+0)` was Infinity and its DECIMAL cast silently NULLed every
    * score (r11 advice). */
  def lmModel(ref: DataFrame): LmModel = {
    // spread ahead of the char-gram explodes (r18 — three reference
    // passes, each ~len(text) rows per doc; see Tables.spread)
    val r = graft.sources.Tables.spread(ref)
    val tri = r.select(explode(lmGrams(3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c3"))
    val bi = r.select(explode(lmGrams(2)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c2"))
    val vocab = r.select(explode(lmGrams(1)).as("ch"))
      .agg(greatest(countDistinct(col("ch")), lit(1L)).as("__v"))
    LmModel(tri, bi, vocab)
  }

  def lmScore(docs: DataFrame): DataFrame = lmScore(docs, docs)

  def lmScore(docs: DataFrame, ref: DataFrame): DataFrame =
    lmScoreWith(docs, lmModel(ref))

  /** Score `docs` under a (possibly file-backed) trained [[LmModel]]. */
  def lmScoreWith(docs: DataFrame, model: LmModel): DataFrame = {
    // scoring side spread ahead of the trigram explode (r18); the final
    // per-doc left join below keeps the plain frame — no heavy work there
    val docTris = graft.sources.Tables.spread(docs)
      .select(col("doc_id"), explode(lmGrams(3)).as("g"))
      .withColumn("b", col("g").substr(1, 2))
    val p = (coalesce(col("c3"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c2"), lit(0L)) + col("__v")).cast("double")
    // DECIMAL(30,25), not the module's usual (20,10): p >= 1/(c2+V) can
    // sit far below 1e-10 once the reference corpus passes ~10^10
    // bigrams — a 10dp cast would floor every probability to 0 and
    // collapse the gate's signal at exactly the scale it targets. 25
    // fractional digits keep p exact down to corpora of 10^25 chars;
    // 5 integer digits bound the per-doc sum (sum p <= n_trigrams),
    // and both engines widen the SUM accumulator past it
    val scored = docTris
      .join(broadcast(model.tri), Seq("g"), "left")
      .join(broadcast(model.bi), Seq("b"), "left")
      .crossJoin(broadcast(model.vocab))
      .select(col("doc_id"), p.cast("decimal(30,25)").as("p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("p")).cast("double") / count(lit(1)), 6).as("lm_score"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"), col("lm_score"))
  }

  /** DuckDB mirror of [[lmScore]]: model CTEs trained on `documents`
    * rows passing `refPred` (the train/score separation — `true` is the
    * self-trained form), scoring ALL documents. range(a,b) is exclusive
    * of b and empty when b <= a, which reproduces the sub-n-char
    * guards; greatest(v,1) mirrors the empty-reference smoothing
    * guard. */
  def lmScoreRefSql(refPred: String = "true"): String = {
    def gramsSql(n: Int): String =
      s"list_transform(range(1, len(coalesce(text, '')) - ${n - 2}), i -> substr(coalesce(text, ''), i, $n))"
    s"""WITH ref AS (SELECT * FROM documents WHERE $refPred),
       |tri AS (
       |  SELECT g, COUNT(*) AS c3
       |  FROM (SELECT unnest(${gramsSql(3)}) AS g FROM ref)
       |  GROUP BY g
       |),
       |bi AS (
       |  SELECT b, COUNT(*) AS c2
       |  FROM (SELECT unnest(${gramsSql(2)}) AS b FROM ref)
       |  GROUP BY b
       |),
       |vv AS (
       |  SELECT greatest(COUNT(DISTINCT ch), 1) AS v
       |  FROM (SELECT unnest(${gramsSql(1)}) AS ch FROM ref)
       |),
       |dt AS (
       |  SELECT doc_id, g, substr(g, 1, 2) AS b
       |  FROM (SELECT doc_id, unnest(${gramsSql(3)}) AS g FROM documents)
       |),
       |ps AS (
       |  SELECT dt.doc_id,
       |         CAST(CAST(coalesce(tri.c3, 0) + 1 AS DOUBLE)
       |              / CAST(coalesce(bi.c2, 0) + (SELECT v FROM vv) AS DOUBLE)
       |              AS DECIMAL(30,25)) AS p
       |  FROM dt LEFT JOIN tri USING (g) LEFT JOIN bi ON bi.b = dt.b
       |),
       |s AS (
       |  SELECT doc_id, COUNT(*) AS n_trigrams,
       |         round(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS lm_score
       |  FROM ps GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(coalesce(s.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       |       s.lm_score
       |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin
  }

  /** Self-trained form (the `text_lm_score` entry's oracle). */
  val lmScoreSql: String = lmScoreRefSql()

  // ------------------------------------ NB quality-classifier gate (r13)

  /** Vocabulary cap for [[nbModel]]: the top words by document frequency.
    * Keeps the model broadcastable at ANY corpus scale (an uncapped
    * Bernoulli vocabulary is the corpus' distinct-token set — 10^9 on web
    * corpora) — the standard feature-selection move of the fastText-style
    * quality classifiers this gate mirrors. */
  val nbVocab = 4096

  /**
   * Bernoulli Naive-Bayes QUALITY CLASSIFIER — the CCNet/LLaMA-style
   * "classifier gate" companion to the [[lmScore]] perplexity gate: train
   * on a curated-vs-crawl label, score every document by how
   * curated-like its vocabulary is, gate on the score.
   *
   * Determinism contract (the module's standard recipe): per-word
   * curated affinity
   *
   *   r(w) = a / (a + b),  a = (df1+1)·(N0+2),  b = (df0+1)·(N1+2)
   *
   * computed as ONE IEEE double division over exactly-representable
   * integer products (doubles multiplied identically in both engines),
   * and the per-doc score is the MEAN of r over the doc's DISTINCT
   * words, summed in DECIMAL(30,25) (order-invariant) with one final
   * double division + 6dp round — no logs, same reasons as [[lmScore]].
   * Words absent from the capped vocabulary (or unseen at train time)
   * fall through the left join to the neutral prior
   * r = (N0+2)/((N0+2)+(N1+2)) automatically.
   *
   * Scale shape: training is one labeled distinct-word scan with a
   * map-combinable (df1, df0) aggregate plus a TakeOrdered vocabulary
   * cut (model = [[nbVocab]] rows + a 1-row count frame — broadcast
   * anywhere); scoring is one corpus scan, a broadcast vocab join and
   * the per-doc decimal mean — the per-doc aggregate is the only
   * corpus-keyed exchange. The model persists like [[LmModel]].
   */
  case class NbModel(vocab: DataFrame, counts: DataFrame) {
    def write(dir: String): Unit =
      graft.Artifact.write(dir, "nb", Nil, Seq("vocab" -> vocab, "counts" -> counts))
  }
  object NbModel {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): NbModel = {
      val a = graft.Artifact.read(spark, dir, "nb")
      NbModel(a("vocab"), a("counts"))
    }
  }

  /** Train the classifier: `curated` labels the positive class; `cap`
    * overrides the vocabulary cut (spec aid — the default is inert on a
    * corpus with fewer distinct words). */
  def nbModel(docs: DataFrame, curated: Column, cap: Int = nbVocab): NbModel = {
    val lab = when(curated, 1L).otherwise(0L)
    val dw = docs.select(lab.as("__lab"),
      explode(array_distinct(words(Dedup.normText))).as("w"))
    val vocab = dw.groupBy(col("w"))
      .agg(sum(col("__lab")).as("df1"), sum(lit(1L) - col("__lab")).as("df0"))
      .orderBy((col("df1") + col("df0")).desc, col("w").asc)
      .limit(cap)
    // sum over an EMPTY training frame is NULL — coalesce to 0 so a
    // misconfigured curated predicate degrades to the neutral prior
    // instead of NULL scores / a driver NPE in the streaming form (the
    // lmModel greatest(v,1) guard class)
    val counts = docs.agg(coalesce(sum(lab), lit(0L)).as("n1"),
      coalesce(sum(lit(1L) - lab), lit(0L)).as("n0"))
    NbModel(vocab, counts)
  }

  /** Score `docs` under a (possibly file-backed) trained [[NbModel]].
    * Output: `(doc_id, n_words, nb_score)`; NULL-text docs keep their
    * row with n_words = 0 and a NULL score. */
  def nbScoreWith(docs: DataFrame, model: NbModel): DataFrame = {
    val dw = docs.select(col("doc_id"),
      explode(array_distinct(words(Dedup.normText))).as("w"))
    val a = (coalesce(col("df1"), lit(0L)) + 1).cast("double") *
      (col("n0") + 2).cast("double")
    val b = (coalesce(col("df0"), lit(0L)) + 1).cast("double") *
      (col("n1") + 2).cast("double")
    val scored = dw
      .join(broadcast(model.vocab), Seq("w"), "left")
      .crossJoin(broadcast(model.counts))
      .select(col("doc_id"), (a / (a + b)).cast("decimal(30,25)").as("r"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("r")).cast("double") / count(lit(1)), 6).as("nb_score"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"), col("nb_score"))
  }

  /** The composed deployment shape: train on the curated slice, score
    * the whole corpus (the driver entry uses `doc_id % 10 = 0` as the
    * curated label, like `text_lm_score_ref`). */
  def nbScore(docs: DataFrame, curated: Column): DataFrame =
    nbScoreWith(docs, nbModel(docs, curated))

  /**
   * STATELESS stream form of [[nbScoreWith]] — score an ingest stream
   * against a trained model with NO aggregate and NO state store: the
   * model is driver-sized BY CONSTRUCTION ([[nbVocab]] affinity entries
   * + two counts — the same legitimacy class as the IVF centroid collect
   * and Prep's literal probe grams, with the same fail-loud bound), so
   * it inlines as a map literal and the per-doc mean becomes an exact
   * DECIMAL array fold in one projection (decimal addition is exact, so
   * the fold equals the batch groupBy sum bit-for-bit; the spec pins
   * stream == batch). Works identically on a batch frame.
   */
  def nbScoreStreaming(docs: DataFrame, model: NbModel): DataFrame = {
    val vocabRows = model.vocab.collect()
    require(vocabRows.length <= 65536,
      s"model vocabulary ${vocabRows.length} exceeds the literal-inline bound; " +
        "score with nbScoreWith (broadcast join) instead")
    val cnt = model.counts.head()
    val (n1, n0) = (cnt.getAs[Long]("n1"), cnt.getAs[Long]("n0"))
    def ratio(df1: Long, df0: Long): Double = {
      val a = (df1 + 1).toDouble * (n0 + 2).toDouble
      val b = (df0 + 1).toDouble * (n1 + 2).toDouble
      a / (a + b)
    }
    val rMap = vocabRows.map(r =>
      r.getAs[String]("w") -> ratio(r.getAs[Long]("df1"), r.getAs[Long]("df0"))).toMap
    val neutral = ratio(0L, 0L)
    val w = array_distinct(words(Dedup.normText))
    val rArr = transform(w, t =>
      coalesce(element_at(typedLit(rMap), t), lit(neutral)).cast("decimal(30,25)"))
    // the fold accumulator is DECIMAL(37,25), NOT (38,25) (r14 review
    // fix): (38,25) + (30,25) exceeds precision 38 and Spark's ANSI
    // reduction types it (38,24) — HALF-UP ROUNDING the 25th digit on
    // EVERY step, which made the claimed bit-equality with the batch
    // sum() merely luck-identical (the banned r12 class). (37,25) +
    // (30,25) types (38,25) — max(12,5) integer digits + 25 + 1 = 38,
    // no reduction, addition EXACT — and the cast back to (37,25) is a
    // same-scale no-op while the running sum stays under 10^12 (each
    // element is <= 1, so that is 10^12 distinct words per document).
    val sumR = aggregate(rArr, lit(java.math.BigDecimal.ZERO).cast("decimal(37,25)"),
      (acc, x) => (acc + x).cast("decimal(37,25)"))
    val nW = coalesce(size(w), lit(0)).cast(LongType)
    docs.select(col("doc_id"), nW.as("n_words"),
      when(nW > 0, round(sumR.cast("double") / nW, 6)).otherwise(lit(null))
        .as("nb_score"))
  }

  /**
   * STATELESS streaming form of the LM likelihood gate (r14 — the
   * [[nbScoreStreaming]] recipe applied to [[lmScoreWith]]): the
   * trained tri/bi counts inline as literal maps (fail-loud bound —
   * a charset-cubed model that outgrows the inline belongs on the
   * broadcast-join form), the per-document mean accumulates as an
   * exact DECIMAL(38,25) fold over the trigram array — bit-equal to
   * the batch `sum()` (same widened accumulator type, same addition
   * order per document since the array is ordered), so a stream
   * micro-batch scores exactly what the batch pass would. Pure
   * projection: no aggregation, no state store, no watermark.
   */
  def lmScoreStreaming(docs: DataFrame, model: LmModel): DataFrame = {
    val triRows = model.tri.collect()
    val biRows = model.bi.collect()
    require(triRows.length + biRows.length <= 65536,
      s"model size ${triRows.length + biRows.length} exceeds the " +
        "literal-inline bound; score with lmScoreWith (broadcast join) instead")
    val v = model.vocab.head().getAs[Long]("__v")
    val triMap = triRows.map(r => r.getAs[String]("g") -> r.getAs[Long]("c3")).toMap
    val biMap = biRows.map(r => r.getAs[String]("b") -> r.getAs[Long]("c2")).toMap
    val tris = lmGrams(3)
    val pArr = transform(tris, g => {
      val c3 = coalesce(element_at(typedLit(triMap), g), lit(0L))
      val c2 = coalesce(element_at(typedLit(biMap), g.substr(1, 2)), lit(0L))
      ((c3 + 1).cast("double") / (c2 + lit(v)).cast("double"))
        .cast("decimal(30,25)")
    })
    // DECIMAL(37,25) accumulator for the same exactness reason as
    // [[nbScoreStreaming]]'s (see the comment there): (37,25) + (30,25)
    // adds exactly in (38,25); a (38,25) accumulator would round every
    // step through Spark's (38,24) reduction
    val sumP = aggregate(pArr, lit(java.math.BigDecimal.ZERO).cast("decimal(37,25)"),
      (acc, x) => (acc + x).cast("decimal(37,25)"))
    val n = coalesce(size(tris), lit(0)).cast(LongType)
    docs.select(col("doc_id"), n.as("n_trigrams"),
      when(n > 0, round(sumP.cast("double") / n, 6)).otherwise(lit(null))
        .as("lm_score"))
  }

  /** DuckDB mirror of [[nbScore]] with `curatedPred` as the label. */
  def nbScoreSql(curatedPred: String): String = {
    val norm = Dedup.normTextSql
    s"""WITH dw0 AS (
       |  SELECT doc_id, CASE WHEN $curatedPred THEN 1 ELSE 0 END AS lab,
       |         unnest(list_distinct(string_split($norm, ' '))) AS w
       |  FROM documents
       |),
       |voc AS (
       |  SELECT w, CAST(SUM(lab) AS BIGINT) AS df1,
       |         CAST(SUM(1 - lab) AS BIGINT) AS df0
       |  FROM dw0 GROUP BY w
       |  ORDER BY (SUM(lab) + SUM(1 - lab)) DESC, w ASC LIMIT $nbVocab
       |),
       |cnt AS (
       |  SELECT CAST(SUM(CASE WHEN $curatedPred THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |         CAST(SUM(CASE WHEN $curatedPred THEN 0 ELSE 1 END) AS BIGINT) AS n0
       |  FROM documents
       |),
       |dw AS (
       |  SELECT doc_id, unnest(list_distinct(string_split($norm, ' '))) AS w
       |  FROM documents
       |),
       |ps AS (
       |  SELECT dw.doc_id,
       |         CAST((CAST(coalesce(v.df1, 0) + 1 AS DOUBLE) * CAST(n0 + 2 AS DOUBLE))
       |              / ((CAST(coalesce(v.df1, 0) + 1 AS DOUBLE) * CAST(n0 + 2 AS DOUBLE))
       |                 + (CAST(coalesce(v.df0, 0) + 1 AS DOUBLE) * CAST(n1 + 2 AS DOUBLE)))
       |              AS DECIMAL(30,25)) AS r
       |  FROM dw LEFT JOIN voc v USING (w), cnt
       |),
       |s AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |         round(CAST(SUM(r) AS DOUBLE) / COUNT(*), 6) AS nb_score
       |  FROM ps GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(coalesce(s.n_words, 0) AS BIGINT) AS n_words,
       |       s.nb_score
       |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin
  }

  // ------------------------------------------------------------ repetition

  /** Duplicate-n-gram threshold above which a doc is gated as
    * repetitious (Gopher-rule family: high duplicate 2-/3-gram mass is
    * the signature of boilerplate and looping generations). */
  val repDupThreshold = 0.10

  /**
   * Distinct-element count of an array via sorted-run counting:
   * `array_distinct` evaluates interpreted (higher-order functions skip
   * codegen) as O(n²) pairwise STRING compares — ~10k compares per
   * 100-gram doc, the dominant corpus-gate cost. Sorting first
   * (O(n log n)) and counting adjacent equal positions gives the same
   * count ~14× cheaper. Callers must keep the downstream FORMULA as
   * `1.0 - distinct/n` (the oracle's shape): algebraically equal
   * rewrites like `dups/n` land on different ulps and can flip a
   * threshold comparison.
   */
  def distinctCount(g: Column): Column = {
    // single-pass fold over the sorted array: `aggregate` evaluates its
    // input expression ONCE per row — an index-lambda formulation
    // (element_at(sorted, i)) would re-sort per ELEMENT, since lambda
    // bodies inline their free expressions
    val s = array_sort(g)
    val z = struct(lit(null).cast("string").as("prev"), lit(0).as("c"))
    aggregate(s, z,
      (acc, x) => struct(
        x.as("prev"),
        (acc.getField("c") +
          when(acc.getField("prev").isNotNull && acc.getField("prev") === x, 0)
            .otherwise(1)).as("c")),
      acc => acc.getField("c"))
  }

  /** Duplicate fraction `1.0 - distinct/n` (0 for empty `g`) — the exact
    * expression the DuckDB oracle computes, via [[distinctCount]]. */
  def dupFracOf(g: Column): Column =
    when(size(g) > 0,
      lit(1.0) - distinctCount(g).cast("double") / size(g).cast("double"))
      .otherwise(lit(0.0))

  /**
   * Intra-document repetition signals — duplicate bigram / trigram
   * fractions (1 − distinct/total) plus the gate flag. Entirely
   * array-native (split / shingle / sorted-run distinct inside one
   * projection): zero shuffles, linear in corpus size, the same shape as
   * [[quality]] so both gates fuse into a single scan under
   * [[cleanCorpus]]-style composition.
   */
  def repetition(docs: DataFrame): DataFrame =
    repetitionOver(docs).select("doc_id", "n2", "dup2_frac", "n3", "dup3_frac",
      "repetitious")

  /** [[repetition]] keeping every input column (for gate composition).
    * Words and gram arrays materialize in their own projections
    * (fingerprints()-style): inlining them into the consuming lambdas /
    * multiple consumers would re-split the text PER GRAM — O(n²) per doc
    * and the dominant corpus-gate cost. Multi-referenced non-cheap
    * aliases survive CollapseProject, so each evaluates once per row. */
  def repetitionOver(docs: DataFrame): DataFrame = {
    val withW = docs.select(col("*"), words(col("text")).as("__w"))
    val withG = withW.select(col("*"),
        shinglesOf(col("__w"), 2).as("__g2"),
        shinglesOf(col("__w"), 3).as("__g3"))
      .drop("__w")
    // fracs in their own projection too: round() and the flag both read
    // them, and each dupFracOf is a sort + fold worth evaluating once
    val withD = withG.select(col("*"),
        size(col("__g2")).cast(LongType).as("n2"),
        size(col("__g3")).cast(LongType).as("n3"),
        dupFracOf(col("__g2")).as("__d2"),
        dupFracOf(col("__g3")).as("__d3"))
      .drop("__g2", "__g3")
    withD.select(col("*"),
        round(col("__d2"), 6).as("dup2_frac"),
        round(col("__d3"), 6).as("dup3_frac"),
        (col("__d2") > repDupThreshold || col("__d3") > repDupThreshold)
          .as("repetitious"))
      .drop("__d2", "__d3")
  }

  /** DuckDB rendering of a word k-gram list over a `w` array column —
    * shared by repetitionSql, Decontam.flagSql, and Prep.prepareSql so
    * the shingle window can never diverge between the component oracles
    * and the composed one. */
  def gramListSql(k: Int): String =
    s"list_transform(range(0, greatest(len(w) - ${k - 1}, 0)), i -> array_to_string(w[(i + 1):(i + $k)], ' '))"

  /** DuckDB rendering of the duplicate fraction over a gram-list column
    * (the exact formula [[dupFracOf]] computes) — shared for the same
    * reason as [[gramListSql]]. */
  def dupFracSql(col: String): String =
    s"CASE WHEN len($col) > 0 THEN 1.0 - len(list_distinct($col)) / CAST(len($col) AS DOUBLE) ELSE 0.0 END"

  val repetitionSql: String = {
    def gram(k: Int): String = gramListSql(k)
    def dup(k: Int): String = dupFracSql(s"g$k")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, ${gram(2)} AS g2, ${gram(3)} AS g3 FROM t)
       |SELECT doc_id,
       |       CAST(len(g2) AS BIGINT) AS n2,
       |       round(${dup(2)}, 6) AS dup2_frac,
       |       CAST(len(g3) AS BIGINT) AS n3,
       |       round(${dup(3)}, 6) AS dup3_frac,
       |       (${dup(2)}) > $repDupThreshold OR (${dup(3)}) > $repDupThreshold AS repetitious
       |FROM g""".stripMargin
  }

  // ---------------------------------------------------------------- mixing

  /**
   * Weighted multi-source corpus mixing — the data-mixing step of an LLM
   * training pipeline: each source is re-sampled to a target weight
   * (epochs). Weight w means floor(w) guaranteed full copies of every
   * document plus one extra copy admitted by a deterministic content-hash
   * gate with probability frac(w) — so w < 1 is a down-sample, w = 1 a
   * pass-through, and w > 1 an up-sample with fractional epochs.
   *
   * The gate is CONTENT-keyed (md5 of text + copy index, [[h60]]), not
   * id-keyed: re-ingesting the same corpus under different doc_ids keeps
   * the identical sample, and both engines (Spark / DuckDB oracle)
   * compute the identical decision. Fully distributed: one projection +
   * one explode, no shuffle until the caller aggregates; at 100 TB each
   * task emits its own copies locally and the per-source weights are a
   * four-entry literal array, not a joined table.
   *
   * Weights cycle by the numeric source suffix: src(4k)=0.3,
   * src(4k+1)=1.0, src(4k+2)=1.5, src(4k+3)=2.25.
   */
  val mixWeights: Seq[Double] = Seq(0.3, 1.0, 1.5, 2.25)

  /** The mixed corpus: every emitted copy as a row, `rep` = copy index,
    * `w` = the source's target weight carried through for auditing. */
  def mixEpochs(docs: DataFrame): DataFrame = {
    val idx = substring(col("source"), 4, 10).cast("int") % mixWeights.size
    val w = element_at(array(mixWeights.map(lit): _*), idx + 1)
    val nFull = floor(col("w")).cast("int")
    val frac1000 = round((col("w") - floor(col("w"))) * 1000).cast("int")
    docs
      .withColumn("w", w)
      .withColumn("__full", nFull)
      .withColumn("__frac", frac1000)
      .withColumn("rep", explode(sequence(lit(0), col("__full"))))
      .where(col("rep") < col("__full") ||
        pmod(h60(concat(col("text"), lit(":"), col("rep").cast("string"))),
          lit(1000)) < col("__frac"))
      .drop("__full", "__frac")
  }

  /** Per-source audit of [[mixEpochs]]: target weight, emitted copies,
    * emitted character mass (the driver's oracle-checked aggregate). */
  def mixSummary(docs: DataFrame): DataFrame =
    mixEpochs(docs)
      .groupBy(col("source"), col("w").cast("double").as("w"))
      .agg(count(lit(1)).as("docs_out"), sum(col("n_chars")).as("chars_out"))

  /** DuckDB CASE over the source-suffix index rendering a per-weight
    * constant — shared by mixSummarySql and Prep.prepareSql. */
  def mixCaseSql(f: Double => String): String =
    "CASE idx " + mixWeights.zipWithIndex.map { case (wv, i) =>
      s"WHEN $i THEN ${f(wv)}"
    }.mkString(" ") + " END"

  val mixSummarySql: String = {
    val n = mixWeights.size
    def byIdx(f: Double => String): String = mixCaseSql(f)
    val w = byIdx(_.toString)
    val nFull = byIdx(wv => wv.toInt.toString)
    val frac = byIdx(wv => math.round((wv - wv.toInt) * 1000).toString)
    val copies = byIdx(wv => (wv.toInt + 1).toString)
    s"""WITH wdoc AS (
       |  SELECT source, text, n_chars,
       |         CAST(substr(source, 4) AS INT) % $n AS idx
       |  FROM documents
       |),
       |e AS (
       |  SELECT source, text, n_chars,
       |         $w AS w, $nFull AS nfull, $frac AS frac,
       |         unnest(range(0, $copies)) AS rep
       |  FROM wdoc
       |)
       |SELECT source, CAST(w AS DOUBLE) AS w,
       |       CAST(count(*) AS BIGINT) AS docs_out,
       |       CAST(sum(n_chars) AS BIGINT) AS chars_out
       |FROM e
       |WHERE rep < nfull
       |   OR (${h60Sql("text || ':' || rep::VARCHAR")}) % 1000 < frac
       |GROUP BY 1, 2""".stripMargin
  }

  /**
   * TEMPERATURE-sampled language balancing (mT5 / XLM-R style): sample
   * language l proportionally to `n_l^alpha` so rare languages are
   * up-sampled and the head language down-sampled. The per-document
   * expected copy count is `c_l = N * q_l / n_l` with
   * `q_l = n_l^alpha / sum_m n_m^alpha` — the corpus keeps its total
   * size N in expectation while the language mix flattens.
   *
   * alpha is pinned to 0.5 BY DESIGN: `sqrt` is the one power IEEE 754
   * requires to be correctly rounded, so `n_l^alpha` is bit-identical
   * in Spark and DuckDB (a libm `pow(x, 0.3)` is only faithfully
   * rounded and may disagree in the last ulp — the class of
   * luck-identical oracle the r12 `list_sum` find banned). The sqrt
   * sum crosses engines as DECIMAL(30,15) (the exact, order-free
   * accumulator — the established DOUBLE→DECIMAL hop), and every later
   * op is a fixed-order double chain shared with [[mixEpochs]]'s
   * proven copy gate.
   *
   * Scale shape: the census is one map-side-combinable groupBy over a
   * language-cardinality frame (dozens of rows at any corpus size); the
   * rates broadcast back; emission is a per-row explode + content-hash
   * gate — the corpus never shuffles. Output audits per language:
   * input docs, the computed weight, emitted docs and char mass.
   */
  def mixByLanguage(docs: DataFrame): DataFrame = {
    val census = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    val tot = census.groupBy().agg(
      sum(col("n_l")).as("n_tot"),
      sum(sqrt(col("n_l").cast("double")).cast("decimal(30,15)")).as("s_sum"))
    val rates = census.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_l"),
        round((col("n_tot").cast("double") * sqrt(col("n_l").cast("double"))) /
          (col("s_sum").cast("double") * col("n_l").cast("double")), 6).as("w"))
    val emitted = docs.join(broadcast(rates), "lang")
      .withColumn("__full", floor(col("w")).cast("int"))
      .withColumn("__frac", round((col("w") - floor(col("w"))) * 1000).cast("int"))
      .withColumn("rep", explode(sequence(lit(0), col("__full"))))
      .where(col("rep") < col("__full") ||
        pmod(h60(concat(lit("lt:"), col("text"), lit(":"), col("rep").cast("string"))),
          lit(1000)) < col("__frac"))
    emitted.groupBy(col("lang"), col("n_l"), col("w"))
      .agg(count(lit(1)).as("docs_out"), sum(col("n_chars")).as("chars_out"))
  }

  /** DuckDB mirror of [[mixByLanguage]] — census, sqrt-temperature
    * rates (same fixed double op order), copy explode, hash gate. */
  val mixByLanguageSql: String =
    s"""WITH census AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
       |tot AS (
       |  SELECT sum(n_l) AS n_tot,
       |         sum(CAST(sqrt(CAST(n_l AS DOUBLE)) AS DECIMAL(30,15))) AS s_sum
       |  FROM census
       |),
       |rates AS (
       |  SELECT lang, n_l,
       |         round((CAST(n_tot AS DOUBLE) * sqrt(CAST(n_l AS DOUBLE))) /
       |               (CAST(s_sum AS DOUBLE) * CAST(n_l AS DOUBLE)), 6) AS w
       |  FROM census, tot
       |),
       |wdoc AS (
       |  SELECT d.lang, r.n_l, r.w, d.text, d.n_chars,
       |         CAST(floor(r.w) AS INT) AS nfull,
       |         CAST(round((r.w - floor(r.w)) * 1000) AS INT) AS frac
       |  FROM documents d JOIN rates r ON r.lang = d.lang
       |),
       |e AS (
       |  SELECT lang, n_l, w, text, n_chars, nfull, frac,
       |         unnest(range(0, nfull + 1)) AS rep
       |  FROM wdoc
       |)
       |SELECT lang, n_l, w,
       |       CAST(count(*) AS BIGINT) AS docs_out,
       |       CAST(sum(n_chars) AS BIGINT) AS chars_out
       |FROM e
       |WHERE rep < nfull
       |   OR (${h60Sql("'lt:' || text || ':' || rep::VARCHAR")}) % 1000 < frac
       |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------ segment-level dedup

  /** Words per dedup segment (the "paragraph" unit: real pipelines split
    * on newlines — RefinedWeb/Dolma paragraph dedup; this corpus is
    * single-line, so fixed word windows are the deterministic segment). */
  val segWords = 20

  /**
   * SEGMENT-LEVEL exact dedup (paragraph dedup for newline-free text):
   * every document is cut into [[segWords]]-word segments; each distinct
   * segment string is kept at its FIRST occurrence corpus-wide (ordered
   * by doc_id, then position — including within-document repeats) and
   * removed everywhere else; surviving segments reassemble in order.
   * This is the finer-grained sibling of whole-document dedup: boilerplate
   * shared across documents disappears while unique content survives.
   *
   * Scale shape (r13): the first-occurrence pick is a PARTIAL
   * (map-side-combinable) min(struct(doc_id, seg_idx)) per segment —
   * a hot boilerplate segment repeated 10^6 times collapses to one
   * struct per map partition before its decision ever shuffles — and
   * the winners join back on the segment key (AQE-skew-splittable,
   * unlike the row_number window this replaces, whose per-key sort
   * funneled the hot segment's whole occurrence list through one
   * reducer: the same class removed from pipe_span_dedup in r10 and
   * pipe_topk/pipe_pack this round). The reassembly regroups by doc_id
   * (second shuffle, payload = surviving segments only). Output:
   * doc_id, n_segs, n_kept, text_deduped (NULL when nothing survives).
   */
  /** The segment cutter standing alone: one `(doc_id, seg_idx, seg)` row
    * per [[segWords]]-word window — shared by [[segmentDedup]] and the
    * fuzzy sibling [[Dedup.segmentDedupFuzzy]]. */
  def segments(docs: DataFrame): DataFrame = {
    // NULL text would null the explode bound and silently DROP the doc
    // from the one-row-per-doc output (the same contract bug chunk and
    // spanDedup fixed); coalesce to '' keeps it as one empty segment
    val w = words(coalesce(col("text"), lit("")))
    val nSegs = ceil(size(w) / lit(segWords.toDouble)).cast(LongType)
    docs
      .select(col("doc_id"), w.as("w"), nSegs.as("n"))
      .select(col("doc_id"), col("w"), explode(sequence(lit(0L), col("n") - 1)).as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"),
        array_join(slice(col("w"), (col("seg_idx") * segWords + 1).cast("int"), lit(segWords)), " ")
          .as("seg"))
  }

  def segmentDedup(docs: DataFrame): DataFrame = {
    val segs = segments(docs)
    val first = segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("__f"))
    val marked = segs.join(first, Seq("seg"))
      .withColumn("__kept",
        col("__f.doc_id") === col("doc_id") && col("__f.seg_idx") === col("seg_idx"))
    marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_segs"),
      count(when(col("__kept"), 1)).as("n_kept"),
      { val kept = array_sort(collect_list(
          when(col("__kept"), struct(col("seg_idx"), col("seg")))))
        when(size(kept) === 0, lit(null: String))
          .otherwise(array_join(transform(kept, s => s("seg")), " ")).as("text_deduped") })
  }

  /** DuckDB oracle for [[segmentDedup]] over the `documents` view. */
  val segmentDedupSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
       |segs AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
       |         array_to_string(w[(i*$segWords+1):(i*$segWords+$segWords)], ' ') AS seg
       |  FROM w, UNNEST(range(CAST(ceil(len(w)/$segWords.0) AS BIGINT))) AS t(i)),
       |mark AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
       |         FROM segs)
       |SELECT doc_id, COUNT(*) AS n_segs,
       |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1) AS text_deduped
       |FROM mark GROUP BY doc_id""".stripMargin

  // ------------------------------------------------- line-level cleaning

  /** Minimum words for a line to survive [[lineClean]] (C4 keeps only
    * lines of >= 5 words / ending in punctuation; the corpus has no
    * punctuation, so the word floor carries the rule). */
  val minLineWords = 4

  /** Word-level line blacklist — the C4 "javascript"/"lorem ipsum"
    * class: a line containing any of these tokens is boilerplate. */
  val lineBlacklist = Seq("dup", "slow")

  /** Minimum surviving lines for the DOCUMENT to survive (C4 drops
    * pages with < 3 retained sentences; scaled to the corpus). */
  val minDocLines = 2

  /**
   * Deterministic LINE-STRUCTURE plant: the corpus ships single-line
   * documents, so the line-cleaning entry synthesizes newline structure
   * first — each doc is re-wrapped at `3 + doc_id % 7` words per line
   * (width varies ACROSS docs, so the short-line rule fires on whole
   * short-width docs, on tail lines, and not at all on wide docs). A
   * pure projection: the wrap is transform+slice over the word array,
   * no explode, no shuffle. The oracle replays it literally.
   */
  def plantLines(docs: DataFrame): DataFrame =
    docs.withColumn("text", expr(
      """array_join(
        |  transform(
        |    sequence(0, cast(ceil(size(split(coalesce(text, ''), ' '))
        |                          / cast(3 + pmod(doc_id, 7) as double)) as bigint) - 1),
        |    i -> array_join(slice(split(coalesce(text, ''), ' '),
        |                          cast(i * (3 + pmod(doc_id, 7)) + 1 as int),
        |                          cast(3 + pmod(doc_id, 7) as int)), ' ')),
        |  '\n')""".stripMargin))

  /**
   * C4-STYLE LINE-LEVEL CLEANING (Raffel et al. 2020 §2.2, adapted to
   * the corpus): documents are cleaned line by line BEFORE any
   * document-level decision —
   *
   *   1. a line survives only with >= [[minLineWords]] words (C4's
   *      short-line rule; terminal-punctuation is vacuous here);
   *   2. a line containing a [[lineBlacklist]] token is boilerplate
   *      and dropped (C4's "javascript"/policy-text rule);
   *   3. surviving DUPLICATE lines within a document keep only their
   *      first occurrence (C4 dedups three-sentence spans per page);
   *   4. the document itself is dropped when < [[minDocLines]] lines
   *      survive (C4's empty-page rule) — `doc_kept` false,
   *      `text_clean` NULL.
   *
   * Scale shape: rules 1–2 are per-row projections on the exploded
   * line frame; rule 3 is a partial min(line_idx) per (doc_id, line) —
   * within-doc keep-first needs no corpus-wide key, so the hot key is
   * at worst one document's repeats, map-side combined (never a
   * window); rule 4 and the reassembly are one groupBy(doc_id) whose
   * payload is surviving lines only. Line order is preserved through
   * `string_agg`-equivalent sorted reassembly. Output: (doc_id,
   * n_lines, n_kept, doc_kept, text_clean).
   */
  def lineClean(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(coalesce(col("text"), lit("")), "\n")))
      .withColumnRenamed("pos", "line_idx")
      .withColumnRenamed("col", "line")
    val w = split(col("line"), " ")
    val ok = lines.where(size(w) >= minLineWords &&
      !lineBlacklist.map(b => array_contains(w, b)).reduce(_ || _))
    // within-doc keep-first: ONE partial aggregate emits the kept set
    // directly (no join-back — distinct surviving lines ARE the output)
    val keptLines = ok.groupBy(col("doc_id"), col("line"))
      .agg(min(col("line_idx")).as("line_idx"))
    val perKept = keptLines.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("line_idx"), col("line")))),
        s => s("line")), "\n").as("__text"))
    lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
      .join(perKept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_kept"), lit(0L)) >= minDocLines).as("doc_kept"),
        when(coalesce(col("n_kept"), lit(0L)) >= minDocLines, col("__text"))
          .as("text_clean"))
  }

  /** [[plantLines]] + [[lineClean]] as one DuckDB query (the oracle). */
  lazy val lineCleanSql: String = {
    val bl = lineBlacklist
      .map(b => s"NOT list_contains(string_split(line, ' '), '$b')")
      .mkString(" AND ")
    s"""WITH planted AS (
       |  SELECT doc_id, array_to_string(
       |    list_transform(range(0, CAST(ceil(len(w) / CAST(3 + doc_id % 7 AS DOUBLE)) AS BIGINT)),
       |      i -> array_to_string(w[(i*(3 + doc_id % 7)+1):(i*(3 + doc_id % 7)+(3 + doc_id % 7))], ' ')),
       |    chr(10)) AS text
       |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents)
       |), lines AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS line_idx, ls[i] AS line
       |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
       |       UNNEST(range(1, len(ls) + 1)) AS t(i)
       |), ok AS (
       |  SELECT * FROM lines
       |  WHERE len(string_split(line, ' ')) >= $minLineWords AND $bl
       |), keptl AS (
       |  SELECT doc_id, line, min(line_idx) AS line_idx
       |  FROM ok GROUP BY doc_id, line
       |), perkept AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         string_agg(line, chr(10) ORDER BY line_idx) AS text_clean
       |  FROM keptl GROUP BY doc_id
       |)
       |SELECT a.doc_id, a.n_lines, coalesce(k.n_kept, 0) AS n_kept,
       |       coalesce(k.n_kept, 0) >= $minDocLines AS doc_kept,
       |       CASE WHEN coalesce(k.n_kept, 0) >= $minDocLines THEN k.text_clean END AS text_clean
       |FROM (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id) a
       |LEFT JOIN perkept k USING (doc_id)""".stripMargin
  }

  // ------------------------------------------------- substring-span dedup

  /** Repeated-span width in words for [[spanDedup]]. */
  val spanWords = 10

  /**
   * Cross-document SUBSTRING-SPAN dedup (the ExactSubstr recipe of Lee
   * et al., "Deduplicating Training Data Makes Language Models Better",
   * ACL 2022, approximated at word granularity): every [[spanWords]]-word
   * window that occurred EARLIER in the corpus (lower doc_id, then lower
   * position — within-doc repeats included) marks its words for removal;
   * the first occurrence survives. Catches boilerplate embedded inside
   * otherwise-distinct documents, which document- and segment-level
   * dedup both miss (a suffix array finds variable-length repeats; the
   * fixed-width window trades that generality for two scans and two
   * combinable shuffles).
   *
   * Output: (doc_id, n_words, n_dropped, text_span_deduped) — NULL text
   * when every word was covered.
   *
   * Scale shape: grams are one in-partition fan-out (~n_words rows);
   * the first-occurrence pick is a groupBy-min of a (doc_id, pos)
   * struct — MAP-SIDE COMBINABLE, so a boilerplate span repeated 10^6
   * times partial-aggregates instead of funneling one hot window
   * partition (the row_number form would); the word-level rebuild
   * shuffles corpus words once on doc_id. No driver-side state.
   */
  def spanDedup(docs: DataFrame): DataFrame = {
    // same NULL guard as chunk: words(NULL) explodes to zero rows, which
    // would silently drop NULL-text docs from the per-doc output contract
    // (one row per doc); coalesce to '' keeps them (n_words=1, the empty
    // word, nothing droppable) identically in both engines
    val w = words(coalesce(col("text"), lit("")))
    val base = docs.select(col("doc_id"), w.as("w"))
    val grams = base.where(size(col("w")) >= spanWords)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0L), (size(col("w")) - spanWords).cast("long"))).as("pos"))
      .select(col("doc_id"), col("pos"),
        h60(array_join(slice(col("w"), (col("pos") + 1).cast("int"), lit(spanWords)), " ")).as("h"))
    val first = grams.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val covered = grams.join(first, "h")
      .where(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + spanWords - 1)).as("idx"))
      .distinct()
    val exploded = base
      .select(col("doc_id"), posexplode(col("w")).as(Seq("idx", "word")))
      .select(col("doc_id"), col("idx").cast(LongType).as("idx"), col("word"))
    exploded.join(covered.withColumn("cov", lit(1)), Seq("doc_id", "idx"), "left")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_words"),
        count(col("cov")).as("n_dropped"),
        { val kept = array_sort(collect_list(
            when(col("cov").isNull, struct(col("idx"), col("word")))))
          when(size(kept) === 0, lit(null: String))
            .otherwise(array_join(transform(kept, s => s("word")), " "))
            .as("text_span_deduped") })
  }

  /** DuckDB oracle for [[spanDedup]] over the `documents` view. */
  val spanDedupSql: String = {
    val L = spanWords
    s"""WITH w AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |         ${h60Sql(s"array_to_string(w[(i+1):(i+$L)], ' ')")} AS h
       |  FROM w, UNNEST(range(len(w) - $L + 1)) AS t(i)
       |),
       |f AS (SELECT h, min({'doc_id': doc_id, 'pos': pos}) AS f FROM g GROUP BY h),
       |cov AS (
       |  SELECT DISTINCT g.doc_id, CAST(g.pos + j AS BIGINT) AS idx
       |  FROM g JOIN f ON f.h = g.h, UNNEST(range($L)) AS t(j)
       |  WHERE NOT (g.doc_id = f.f.doc_id AND g.pos = f.f.pos)
       |),
       |ew AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS idx, w[i+1] AS word
       |  FROM w, UNNEST(range(len(w))) AS t(i)
       |)
       |SELECT ew.doc_id, COUNT(*) AS n_words,
       |       CAST(SUM(CASE WHEN cov.idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       string_agg(word, ' ' ORDER BY ew.idx) FILTER (WHERE cov.idx IS NULL)
       |         AS text_span_deduped
       |FROM ew LEFT JOIN cov ON cov.doc_id = ew.doc_id AND cov.idx = ew.idx
       |GROUP BY ew.doc_id""".stripMargin
  }

  /** Repeated-span width in CHARACTERS for [[spanDedupChars]]. */
  val spanChars = 40

  /**
   * CHARACTER-level substring-span dedup (r16 — closing [[spanDedup]]'s
   * word-granularity caveat): the same ExactSubstr recipe (Lee et al.,
   * ACL 2022) over [[spanChars]]-CHARACTER windows, so repeats that
   * cross tokenization — sub-word overlaps, boundary-shifted
   * boilerplate, glued words — are caught where the 10-word windows
   * miss them. Lee et al. operate on byte suffix arrays; fixed-width
   * character h-grams trade variable-length repeats for the same two
   * scans + two map-side-combinable shuffles as the word form, and the
   * first-occurrence pick (min (doc_id, pos) struct per window hash)
   * keeps the oracle exact. Unit note: both engines' length/substr are
   * code-point based, so "byte-level" is character-level here — equal
   * on any text, not just ASCII.
   *
   * Output: (doc_id, n_chars, n_dropped, text_byte_deduped) — NULL
   * rebuilt text when every character was covered (or the doc was
   * empty); empty/NULL docs keep their row with n_chars = 0.
   */
  def spanDedupChars(docs: DataFrame): DataFrame = {
    val L = spanChars
    // spread ahead of the per-window md5 pass (r18 — ~len(text) hashed
    // windows per doc, the operator's dominant cost; see Tables.spread)
    val base = graft.sources.Tables.spread(docs)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
    // persisted: the window hashes feed BOTH the first-occurrence
    // aggregate and the covered join — independent subtrees, so without
    // the pin the per-window md5 pass (the operator's dominant cost)
    // runs twice (r16 profile find; callers release via
    // CacheRegistry.unpersistAll, the repo-wide contract)
    val grams = graft.CacheRegistry.persistTracked(
      base.where(length(col("t")) >= L)
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0L), (length(col("t")) - L).cast("long"))).as("pos"))
        .select(col("doc_id"), col("pos"),
          h60(col("t").substr((col("pos") + 1).cast("int"), lit(L))).as("h")))
    val first = grams.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val covered = grams.join(first, "h")
      .where(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + L - 1)).as("idx"))
      .distinct()
    // rebuild ONLY the docs that actually lost characters, and cut by
    // MAXIMAL RUNS rather than per character: the covered indices merge
    // into disjoint (start, end) runs (the classic idx − row_number
    // grouping — the per-doc window is bounded by document length), and
    // the kept text is one fold over the few runs, copying the gap
    // before each run and the tail once. The naive per-character
    // explode + collect_list rebuild ran for EVERY doc (15s hashed at
    // sf0.1); a per-char array_contains rebuild was still quadratic on
    // hit docs (12s) — this is O(kept chars) with |runs| substr copies.
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("idx")
    val runs = covered
      .withColumn("__grp", col("idx") - row_number().over(wRun))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(min(col("idx")).as("s"), max(col("idx")).as("e"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__runs"),
        sum(col("e") - col("s") + 1L).as("__ndrop"))
    val tlen = length(col("t")).cast("long")
    val kept = aggregate(col("__runs"),
      struct(lit(0L).as("pos"), lit("").as("acc")),
      (acc, r) => struct(
        (r.getField("e") + 1L).as("pos"),
        concat(acc.getField("acc"),
          col("t").substr((acc.getField("pos") + 1L).cast("int"),
            (r.getField("s") - acc.getField("pos")).cast("int"))).as("acc")),
      acc => concat(acc.getField("acc"),
        col("t").substr((acc.getField("pos") + 1L).cast("int"),
          (tlen - acc.getField("pos")).cast("int"))))
    base.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        tlen.as("n_chars"),
        coalesce(col("__ndrop"), lit(0L)).as("n_dropped"),
        when(col("t") === "", lit(null: String))
          .when(col("__runs").isNull, col("t"))
          .when(col("__ndrop") === tlen, lit(null: String))
          .otherwise(kept).as("text_byte_deduped"))
  }

  /** DuckDB oracle for [[spanDedupChars]] over the `documents` view. */
  val spanDedupCharsSql: String = {
    val L = spanChars
    s"""WITH tt AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |         ${h60Sql(s"substr(t, i + 1, $L)")} AS h
       |  FROM tt, UNNEST(range(len(t) - $L + 1)) AS x(i)
       |),
       |f AS (SELECT h, min({'doc_id': doc_id, 'pos': pos}) AS f FROM g GROUP BY h),
       |cov AS (
       |  SELECT DISTINCT g.doc_id, CAST(g.pos + j AS BIGINT) AS idx
       |  FROM g JOIN f ON f.h = g.h, UNNEST(range($L)) AS x(j)
       |  WHERE NOT (g.doc_id = f.f.doc_id AND g.pos = f.f.pos)
       |),
       |ec AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS idx, substr(t, i + 1, 1) AS ch
       |  FROM tt, UNNEST(range(len(t))) AS x(i)
       |),
       |r AS (
       |  SELECT ec.doc_id, COUNT(*) AS n_chars,
       |         CAST(SUM(CASE WHEN cov.idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_dropped,
       |         string_agg(ch, '' ORDER BY ec.idx) FILTER (WHERE cov.idx IS NULL)
       |           AS text_byte_deduped
       |  FROM ec LEFT JOIN cov ON cov.doc_id = ec.doc_id AND cov.idx = ec.idx
       |  GROUP BY ec.doc_id
       |)
       |SELECT d.doc_id, CAST(coalesce(r.n_chars, 0) AS BIGINT) AS n_chars,
       |       CAST(coalesce(r.n_dropped, 0) AS BIGINT) AS n_dropped,
       |       r.text_byte_deduped
       |FROM documents d LEFT JOIN r ON r.doc_id = d.doc_id""".stripMargin
  }

  // ----------------------------------------------------------- PII redaction

  /** PII patterns, written in the common Java-regex/RE2 dialect (no
    * lookaround) so Spark and the DuckDB oracle match identically. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b555-\\d{4}\\b"

  /** Deterministic PII planting (docs carry no natural PII): every 7th
    * document gains an email, a phone, and an IPv4 derived from doc_id —
    * the operator's inputs stay reproducible across engines. */
  def plantPii(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 7 === 0, concat(
        col("text"), lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex-"), (col("doc_id") % 13).cast("string"),
        lit(".com or 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" at 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 100).cast("string")))
        .otherwise(col("text")))

  /** SQL rendering of [[plantPii]]'s text column (DuckDB). */
  val plantPiiSql: String =
    "CASE WHEN doc_id % 7 = 0 THEN text || ' contact u' || doc_id || '@ex-' || " +
      "(doc_id % 13) || '.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' at 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) ELSE text END"

  /**
   * PII REDACTION (the C4/Dolma-style scrub): count then mask emails,
   * IPv4 addresses, and phone-like numbers with `<EMAIL>`/`<IP>`/`<PHONE>`
   * tokens. Pure projection — one scan, zero shuffles, codegen'd regex
   * ops; counts are computed on the ORIGINAL text so the audit survives
   * the masking. Masking order (email → ip → phone) is part of the
   * contract: replacement tokens contain no pattern characters, so the
   * passes cannot cascade.
   */
  def redactPii(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast(LongType).as("n_email"),
      size(regexp_extract_all(col("text"), lit(ipv4Re), lit(0))).cast(LongType).as("n_ip"),
      size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).cast(LongType).as("n_phone"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        emailRe, "<EMAIL>"), ipv4Re, "<IP>"), phoneRe, "<PHONE>").as("redacted"))

  /** DuckDB oracle for [[plantPii]] + [[redactPii]] over `documents`. */
  val redactPiiSql: String =
    s"""WITH p AS (SELECT doc_id, $plantPiiSql AS text FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_email,
       |       CAST(len(regexp_extract_all(text, '$ipv4Re')) AS BIGINT) AS n_ip,
       |       CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phone,
       |       regexp_replace(regexp_replace(regexp_replace(text,
       |         '$emailRe', '<EMAIL>', 'g'), '$ipv4Re', '<IP>', 'g'),
       |         '$phoneRe', '<PHONE>', 'g') AS redacted
       |FROM p""".stripMargin
}
