package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import TextOps.{h60, h60Sql, words}

/**
 * Deduplication operators for LLM training-data pipelines: exact,
 * n-gram-Jaccard, MinHash+LSH, and SimHash near-dup.
 *
 * Scale design (the point of each variant):
 *  - exact: one hash-groupBy — map-side combinable, one shuffle of (hash).
 *  - ngram: inverted-index self-join on shingles with a document-frequency
 *    cap (stop-shingle skew kill); candidate pairs only, never all-pairs.
 *  - minhash: banded LSH — the 12 signature mins are signed map-side
 *    from each doc's shingle set (no shuffle), candidates join on
 *    (band, key) buckets, exact Jaccard verified on candidates only.
 *  - simhash: 120-bit signature (two md5-derived halves) computed in one
 *    zero-shuffle projection pass, candidate pairs via 20-bit chunk
 *    buckets with a hot-bucket cap (pigeonhole: hamming <= chunks-1 is
 *    guaranteed recall), verified by bit_count(xor) on both halves.
 *
 * All hashes are md5-derived (see [[TextOps.h60]]) so the DuckDB oracle is
 * exact, not rows-only.
 */
object Dedup {

  /**
   * Lean static MinHash near-dup index (see [[Dedup.minhashIndex]]):
   * `keys` is the bucket relation `(band, key, corpus_id)`, `sets` the
   * one-row-per-member verify payload `(corpus_id, corpus_shs)`. Total
   * index mass = key rows (3 small columns × bands per member) + 1×
   * the corpus shingle mass — NOT bands× it, which is what a single
   * fat frame carrying the set on every band row costs.
   */
  case class MinhashIndex(keys: DataFrame, sets: DataFrame) {
    /** Bucket-write the index (the cluster-scale persisted form): a
      * `minhash` [[graft.Artifact]] of two tables under `dir`, re-read
      * with [[MinhashIndex.read]] — a file-backed index is re-listed per
      * micro-batch, so corpus refreshes need no cache invalidation. */
    def write(dir: String): Unit =
      graft.Artifact.write(dir, "minhash", Nil, Seq("keys" -> keys, "sets" -> sets))
  }

  object MinhashIndex {
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): MinhashIndex = {
      val a = graft.Artifact.read(spark, dir, "minhash")
      MinhashIndex(a("keys"), a("sets"))
    }

    /** INCREMENTAL ingest (r13): append one new shard's index rows to a
      * file-backed index without touching the existing files. Signatures
      * and band keys are PER-DOCUMENT (no cross-doc state), so
      * index(A ∪ B) ≡ index(A) ∪ index(B) row-for-row — the appended
      * store is bit-equivalent in content to a full rebuild
      * (DedupStreamingSpec pins gate-output equality), at the cost of
      * one shard scan instead of a corpus scan. The caller owns shard
      * disjointness (re-appending a doc_id duplicates its rows, the
      * same contract as any append-only store). */
    def append(dir: String, newDocs: org.apache.spark.sql.DataFrame): Unit = {
      // UN-PINNED frames (r13 review fix): a repeated-append ingest loop
      // must not accumulate cache pins that are used exactly once for a
      // file write — the shard scans twice (keys pass + sets pass)
      // instead, like EmbedIndex.append
      val (keys, sets) = leanIndexFrom(newDocs)
      graft.Artifact.update(dir, appends = Seq("keys" -> keys, "sets" -> sets))
    }
  }

  // ----------------------------------------------------------------- exact

  /** Normalized text: lowercase, trimmed, whitespace collapsed. */
  def normText: Column = lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  val normTextSql: String = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

  /** Exact dedup: group by md5(normalized text), keep the min doc_id. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(normText).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    s"""SELECT md5($normTextSql) AS h, min(doc_id) AS keep_id,
       |       CAST(count(*) AS BIGINT) AS n_copies
       |FROM documents GROUP BY 1""".stripMargin

  /**
   * Streaming exact dedup: keep the FIRST occurrence of each normalized
   * text hash as documents arrive (`readStream` input with an event-time
   * `ts` column). `dropDuplicatesWithinWatermark` (NOT plain
   * `dropDuplicates`, whose state never evicts regardless of watermark)
   * drops each hash from the state store once the watermark passes its
   * horizon — state is proportional to the watermark window, not the
   * corpus. A text seen again AFTER the horizon is re-emitted; that is
   * the contract of windowed ingest dedup. This is the ingest-pipeline
   * form of [[exact]]; see DedupStreamingSpec (incl. the eviction test).
   */
  def exactStreaming(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs.withColumn("h", md5(normText))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("h")

  // ------------------------------------------------------------- shingling

  /** Word n-gram size shared by ngram-Jaccard and MinHash. */
  val shingleK = 3

  /** Distinct (doc_id, shingle-hash) pairs over NORMALIZED text (near-dup
    * detection must not split on case/whitespace) — the inverted-index
    * input: the exploded, distinct view of [[shingleSets]]. Shingle
    * identity is the 60-bit md5 hash, not the string:
    * 8-byte join/shuffle keys instead of ~25-byte strings, identical in
    * both engines (collisions are 2^-60 AND, when they do happen, happen
    * identically on both sides — parity is unaffected). */
  def shingles(docs: DataFrame): DataFrame = postings(docs).distinct()

  /** One `(doc_id, sh)` row per element of each row's shingle set.
    * explode_outer + IS NOT NULL, not explode: from an inner explode
    * Catalyst infers `size(shs) > 0` and pushes it below the projection,
    * which inlines the whole shingle hashing into a scan filter, so
    * every gram is hashed twice. */
  private def postings(docs: DataFrame): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"), explode_outer(col("shs")).as("sh")).where(col("sh").isNotNull)

  /** Shared CTE prefix rendering [[shingles]] in DuckDB. */
  val shinglesCte: String =
    s"""t AS (SELECT doc_id, string_split($normTextSql, ' ') AS w FROM documents),
       |shpos AS (
       |  SELECT doc_id, w,
       |         unnest(range(0, greatest(len(w) - ${shingleK - 1}, 0))) AS i
       |  FROM t
       |),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         ${h60Sql(s"array_to_string(w[(i + 1):(i + $shingleK)], ' ')")} AS sh
       |  FROM shpos
       |)""".stripMargin

  // -------------------------------------------------------- n-gram Jaccard

  /** Document-frequency cap: shingles in more docs than this are dropped. */
  val ngramDfCap = 50

  /** Jaccard threshold for the exact n-gram near-dup op. */
  val ngramTau = 0.10

  /**
   * Exact n-gram Jaccard near-dup via inverted index: per pair of docs
   * (d1 < d2), count the shingles they share among those in at most
   * [[ngramDfCap]] docs (the cap bounds fanout at cap^2 per shingle),
   * and emit the pairs with Jaccard >= [[ngramTau]]. Jaccard is computed
   * over the capped shingle sets on both engines.
   *
   * ONE job collects at most [[driverPairBudget]] + 1 `(doc_id, sh)`
   * postings (the per-doc shingle sets, exploded: no shuffle, no
   * persist). If they fit, the pairs are counted on the driver and, when
   * at most that many pass the threshold, the result is a local frame.
   * Over the budget, the probe's postings are dropped and the distributed plan
   * self-joins the capped postings on shingle and counts shared
   * shingles per pair directly off that join. Both finishes end in the
   * same Spark division, threshold and `round`.
   */
  def ngramJaccard(docs: DataFrame): DataFrame = ngramJaccard(docs, driverPairBudget)

  /** [[ngramJaccard]] with the driver-finish budget explicit: a budget
    * of 0 always runs the distributed plan. */
  private[datapipe] def ngramJaccard(docs: DataFrame, driverBudget: Int): DataFrame =
    ngramCountsOnDriver(docs, driverBudget).getOrElse(ngramCounts(docs))
      .withColumn("jac", col("shared") / (col("sz1") + col("sz2") - col("shared")))
      .where(col("jac") >= ngramTau)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))

  /** The distributed `(d1, d2, shared, sz1, sz2)` counts: self-join the
    * capped postings on shingle and count the shared shingles per pair
    * directly off that join (one pass — no candidate set and re-verify),
    * with both docs' capped set sizes. */
  private def ngramCounts(docs: DataFrame): DataFrame = {
    // the shingle explode feeds both the df-cap aggregate and the capped
    // join below — persist it or the explode runs twice (tracked).
    // Spread ahead of the pin (r18): a pin over a single-task scan
    // lineage caches ONE partition, so every downstream read of the
    // inverted index — including each CC round in the cluster entries —
    // starts serial (see Tables.spread)
    val sh = graft.CacheRegistry.persistTracked(
      shingles(graft.sources.Tables.spread(docs)))
    val keep = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") <= ngramDfCap).select(col("sh"))
    val capped = graft.CacheRegistry.persistTracked(
      sh.join(keep, Seq("sh"), "left_semi").select("doc_id", "sh")
    ) // reused by the self-join (both sides) and the size agg; tracked
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val shared = capped.toDF("d1", "sh").join(capped.toDF("d2", "sh2")
        .withColumnRenamed("sh2", "sh"), "sh")
      .where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.toDF("d1", "sz1"), "d1")
      .join(sizes.toDF("d2", "sz2"), "d2")
  }

  /** The driver finish of [[ngramJaccard]]'s counts, or None for a
    * stream, a non-long `doc_id`, more than `budget` postings or more
    * than `budget` pairs passing the threshold. The
    * postings are made distinct per `(doc_id, sh)` here, so repeated
    * `doc_id` rows collapse as in the distributed `distinct`; a NULL
    * `doc_id` counts toward df but pairs with nothing, as `d1 < d2`
    * rejects it there. The frame carries the distributed counts' exact
    * schema. */
  private def ngramCountsOnDriver(docs: DataFrame, budget: Int): Option[DataFrame] = {
    if (budget <= 0 || docs.isStreaming || docs.schema("doc_id").dataType != LongType)
      return None
    graft.DriverRows.within(postings(docs), budget).flatMap { got =>
      val nullDocShs = mutable.HashSet.empty[Long]
      val docShs = mutable.LongMap.empty[mutable.HashSet[Long]]
      for (r <- got)
        (if (r.isNullAt(0)) nullDocShs
         else docShs.getOrElseUpdate(r.getLong(0), mutable.HashSet.empty)) += r.getLong(1)
      val dfOf = mutable.LongMap.empty[Int]
      (docShs.valuesIterator ++ Iterator(nullDocShs))
        .foreach(_.foreach(s => dfOf(s) = dfOf.getOrElse(s, 0) + 1))
      // ascending doc_id: every doc already in a posting list is a d1
      val ids = docShs.keys.toArray.sorted
      val capped = ids.map(d => docShs(d).iterator.filter(dfOf(_) <= ngramDfCap).toArray)
      // inverted-index all-pairs (Bayardo et al., WWW '07): each doc
      // walks the posting lists of its capped shingles, which hold the
      // docs before it, counting shared shingles in a dense per-doc
      // accumulator, then appends itself to those lists. Work is
      // Σ C(df, 2) <= postings × (cap − 1) / 2. More than `budget`
      // passing pairs stop it: a local frame that large costs more than
      // the distributed plan
      val index = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
      val shared = new Array[Int](ids.length)
      val touched = mutable.ArrayBuffer.empty[Int]
      val rows = mutable.ArrayBuffer.empty[Row]
      var x = 0
      while (x < ids.length && rows.length <= budget) {
        for (s <- capped(x)) {
          val earlier = index.getOrElseUpdate(s, mutable.ArrayBuffer.empty)
          earlier.foreach { y => if (shared(y) == 0) touched += y; shared(y) += 1 }
          earlier += x
        }
        for (y <- touched) {
          val (n, sz1, sz2) = (shared(y).toLong, capped(y).length.toLong, capped(x).length.toLong)
          // the tail's own double test: a pair it drops never becomes a row
          if (n.toDouble / (sz1 + sz2 - n).toDouble >= ngramTau)
            rows += Row(ids(y), ids(x), n, sz1, sz2)
          shared(y) = 0
        }
        touched.clear()
        x += 1
      }
      // the distributed counts' schema: both ids carry doc_id's field
      // (joins keep it), the counts are non-null longs
      val id = docs.schema("doc_id")
      if (rows.length > budget) None
      else Some(docs.sparkSession.createDataFrame(rows.asJava, StructType(
        Seq(id.copy(name = "d1"), id.copy(name = "d2")) ++
          Seq("shared", "sz1", "sz2").map(StructField(_, LongType, nullable = false)))))
    }
  }

  val ngramJaccardSql: String =
    s"""WITH $shinglesCte,
       |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $ngramDfCap),
       |capped AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep k ON s.sh = k.sh),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
       |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT p.d1, p.d2,
       |       round(shared / CAST(s1.sz + s2.sz - shared AS DOUBLE), 6) AS jac
       |FROM pairs p JOIN sizes s1 ON p.d1 = s1.doc_id
       |             JOIN sizes s2 ON p.d2 = s2.doc_id
       |WHERE shared / CAST(s1.sz + s2.sz - shared AS DOUBLE) >= $ngramTau""".stripMargin

  // --------------------------------------------------------- MinHash + LSH

  /** Mersenne prime modulus for the affine permutations. */
  val mhP = 2147483647L

  /** Fixed affine-permutation constants (a*x + b mod p), 12 signatures. */
  val mhA: Seq[Long] = Seq(1103515245L, 1226874159L, 784588716L, 1541148377L,
    948373933L, 1887436481L, 662124064L, 1289741197L, 1724937521L, 433024253L,
    1579031354L, 2097152111L)
  val mhB: Seq[Long] = Seq(1013904223L, 373708743L, 144099523L, 1779033703L,
    555555555L, 913471051L, 1734575199L, 87855851L, 1460987219L, 666173207L,
    299792458L, 1618033988L)

  val mhBands = 3
  val mhRows = 4 // 12 signatures = 3 bands x 4 rows; 4-row bands keep
                 // bucket collision rates sane on low-diversity vocab

  /** Jaccard threshold applied after LSH candidate generation. */
  val mhTau = 0.08

  /**
   * Banded-LSH near-dup: docs agreeing on any full band of [[mhRows]]
   * signatures become candidates (join on (band, key) — never
   * all-pairs); candidates are verified with exact Jaccard over the
   * uncapped shingle sets.
   *
   * Map-side signing: the per-document shingle sets ([[nonEmptySets]])
   * are pinned once, signed through the same [[bandKeys]] as the index
   * and the stream gate, and the band self-join runs on the slim
   * `(doc_id, band, key)` rows; each candidate pair joins the two sets
   * and is verified by `array_intersect`. No shingle crosses a shuffle.
   * `doc_id` is the member key: every input row is its own member, so
   * for ids shared by several rows a candidate id pair is verified for
   * every pair of their rows, one output row per pair that passes.
   * Docs below the shingle width, NULL texts and NULL ids pair with
   * nothing.
   */
  def minhashLsh(docs: DataFrame): DataFrame = {
    // the sets feed the signatures AND both sides of the verify. Spread
    // ahead of the pin — same single-partition-cache reasoning as
    // [[ngramJaccard]] (r18)
    val sets = graft.CacheRegistry.persistTracked(
      nonEmptySets(shingleSets(graft.sources.Tables.spread(docs))))
    val bands = bandKeys(sets).select(col("doc_id"), col("band"), col("key"))
    val cand = bands.toDF("d1", "band", "key")
      .join(bands.toDF("d2", "band", "key"), Seq("band", "key"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    cand.join(sets.toDF("d1", "__s1"), "d1").join(sets.toDF("d2", "__s2"), "d2")
      .withColumn("jac", setJaccard(col("__s1"), col("__s2")))
      .where(col("jac") >= mhTau)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac"))
  }

  /** Exact Jaccard of two non-empty shingle-set arrays. */
  private def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / ((size(a) + size(b)).cast("double") - inter)
  }

  /** Per-doc shingle SET as ONE array column (`array_distinct` of the
    * hashed word k-grams of the normalized text): the one place document
    * text becomes hashed shingles. A stateless projection, legal on an
    * unbounded stream; [[shingles]] is its exploded, distinct view. */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.words(normText).as("w"))
      .select(col("doc_id"),
        array_distinct(graft.functions.ShingleHashes.hashes(col("w"), shingleK)).as("shs"))

  /** The rows of a shingle-set frame whose `shs` is not empty (docs
    * below the shingle width, or NULL text), keyed by `keys`. The test
    * sits in the generator, not in a filter: Catalyst pushes a filter
    * below the projection that hashes the shingles, so every set would
    * be hashed twice. */
  private[datapipe] def nonEmptySets(sets: DataFrame,
      keys: Seq[String] = Seq("doc_id")): DataFrame =
    sets.select(keys.map(col) :+
      explode(when(size(col("shs")) > 0, array(col("shs")))).as("shs"): _*)

  /** Banded signature keys from the array form — map-side only: all
    * [[mhBands]] × [[mhRows]] signature mins in one codegen'd loop
    * ([[graft.functions.MinhashSignature]]) over the shingle set, each
    * band key a concat of its rows; the explode fans out rows WITHIN the
    * partition (stateless in streaming). Keeps the member `keys` and
    * `shs`. `withSets` holds non-empty sets only ([[nonEmptySets]]): a
    * member with no shingles has no signature, and its band keys would
    * all collapse to "" (concat_ws skips NULLs), putting every short doc
    * in one bucket with a NaN (0/0) Jaccard that Spark orders ABOVE the
    * threshold. */
  private[datapipe] def bandKeys(withSets: DataFrame,
      keys: Seq[String] = Seq("doc_id")): DataFrame = {
    val sig = graft.functions.MinhashSignature.signature(
      col("shs"), mhA.take(mhBands * mhRows), mhB.take(mhBands * mhRows), mhP)
    def mh(j: Int): Column = element_at(col("__sig"), j + 1)
    val bandStructs = (0 until mhBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until mhRows).map(r => mh(b * mhRows + r)): _*).as("key"))
    }
    val kept = (keys :+ "shs").map(col)
    withSets.withColumn("__sig", sig)
      .select(kept :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(kept ++ Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
  }

  /**
   * Static near-dup INDEX over an existing corpus, LEAN form: the
   * materialized artifact an ingest pipeline builds once (bucket-write
   * it at cluster scale) and every arriving batch probes. Two frames:
   *
   *  - `keys`: one `(band, key, corpus_id)` row per (member, band) —
   *    the probe join's build side carries NOTHING but the bucket
   *    identity (the fat single-frame form replicated every member's
   *    full shingle set onto all [[mhBands]] band rows — bands× the
   *    corpus shingle mass materialized, carried through every probe
   *    join, and cached);
   *  - `sets`: ONE `(corpus_id, corpus_shs)` row per member — the
   *    verify payload, joined only onto bucket HITS, so set mass moves
   *    per collision, never per probe.
   *
   * Both frames are PINNED via CacheRegistry: the cached frames are what
   * every micro-batch reads, trading index freshness for probe cost —
   * to pick up corpus refreshes, unpersist (or rebuild); a FILE-backed
   * index ([[MinhashIndex.write]]/[[MinhashIndex.read]], the
   * cluster-scale form) is re-listed per micro-batch and needs no such
   * step.
   *
   * Both frames are built map-side from the per-document shingle sets
   * ([[shingleSets]]; keys through the same [[bandKeys]] as the stream
   * side, so the two sides' band keys agree bit for bit): each is one
   * scan stage, no shingle crosses a shuffle. `doc_id` is the index
   * key: every input row is indexed as its own member, so rows sharing
   * a `doc_id` give repeated key and set rows under that id (the
   * contract [[MinhashIndex.append]] already has across shards). Docs
   * below the shingle width and NULL texts have no shingles and are
   * not indexed.
   */
  def minhashIndex(corpus: DataFrame): MinhashIndex = {
    val (keys, sets) = leanIndexFrom(corpus)
    MinhashIndex(graft.CacheRegistry.persistTracked(keys),
      graft.CacheRegistry.persistTracked(sets))
  }

  /** The lean index frames of `docs` — shared by the cache-pinned
    * [[minhashIndex]] and the write-only un-pinned
    * [[MinhashIndex.append]] path. */
  private def leanIndexFrom(docs: DataFrame): (DataFrame, DataFrame) = {
    val sets = nonEmptySets(shingleSets(docs))
    (bandKeys(sets).select(col("band"), col("key"), col("doc_id").as("corpus_id")),
      sets.select(col("doc_id").as("corpus_id"), col("shs").as("corpus_shs")))
  }

  /**
   * Streaming ingest near-dup gate: flag each arriving document against
   * the static corpus index — the online form of [[minhashLsh]]. The
   * stream side is STATELESS end-to-end (signature + band keys are one
   * projection per micro-batch, the probe is a stream-static equi-join,
   * the verify an exact array-Jaccard), so there is no watermark and no
   * state store; Spark re-plans the static side per micro-batch (note
   * the default [[minhashIndex]] is cache-pinned — see its doc for the
   * freshness trade). Emits one row per
   * (arriving doc, corpus near-dup, matching band) — at-least-once per
   * pair when several bands agree; consumers needing exactly-one-per-
   * pair dedup downstream (the batch parity spec compares distinct
   * pairs). Works identically on a batch frame (same plan, no stream).
   */
  /** `excludeSelf = false` skips the `doc_id <> corpus_id` filter — for
    * callers whose probe and index id spaces are UNRELATED (e.g. an
    * external benchmark as the index: a corpus doc numerically equal to
    * a probe id is NOT that probe, and dropping the pair silently
    * un-flags genuine contamination — r12 review fix). The default
    * matches the ingest-gate contract, where arrivals share the corpus
    * id space. */
  def minhashStreamingFlag(stream: DataFrame, index: MinhashIndex,
                           excludeSelf: Boolean = true): DataFrame = {
    val probe = bandKeys(nonEmptySets(shingleSets(stream)))
    // bucket probe against the LEAN key rows first; the verify payload
    // (each member's shingle set, held ONCE in index.sets) joins only
    // onto the hits — set mass moves per collision, not per probe row
    probe.join(index.keys, Seq("band", "key"))
      .where(if (excludeSelf) col("doc_id") =!= col("corpus_id") else lit(true))
      .join(index.sets, "corpus_id")
      .withColumn("jac", setJaccard(col("shs"), col("corpus_shs")))
      .where(col("jac") >= mhTau)
      .select(col("doc_id"), col("corpus_id").as("dup_of"), col("band"),
        round(col("jac"), 6).as("jac"))
  }

  /** DuckDB mirror of [[minhashStreamingFlag]] probed on the documents
    * corpus (the batch-parity form the driver gate checks): the probe
    * side filtered by `probePred` (an ingest gate's probe is one
    * micro-batch, small relative to the corpus — the benchmark entry
    * models that ratio; the spec's full self-probe sets it `true`),
    * one row per bucket-agreeing (probe, corpus, band), exact Jaccard
    * filter. */
  def minhashFlagSql(probePred: String = "true"): String = {
    val mins = (0 until mhBands * mhRows).map { j =>
      s"min((${mhA(j)} * s + ${mhB(j)}) % $mhP) AS mh$j"
    }.mkString(",\n         ")
    val bandSelects = (0 until mhBands).map { b =>
      val key = (0 until mhRows).map(r => s"mh${b * mhRows + r}").mkString(", '_', ")
      s"SELECT doc_id, $b AS band, concat(${key}) AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesCte,
       |s31 AS (SELECT doc_id, sh % $mhP AS s FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM s31 GROUP BY doc_id
       |),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT a.doc_id AS doc_id, b.doc_id AS dup_of, a.band
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id <> b.doc_id AND ($probePred)
       |),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT x.doc_id, x.dup_of, count(*) AS shared
       |  FROM (SELECT DISTINCT doc_id, dup_of FROM cand) x
       |  JOIN sh a ON a.doc_id = x.doc_id JOIN sh b ON b.doc_id = x.dup_of AND b.sh = a.sh
       |  GROUP BY 1, 2
       |)
       |SELECT c.doc_id, c.dup_of, c.band,
       |       round(h.shared / CAST(s1.sz + s2.sz - h.shared AS DOUBLE), 6) AS jac
       |FROM cand c JOIN shared h ON h.doc_id = c.doc_id AND h.dup_of = c.dup_of
       |            JOIN sizes s1 ON c.doc_id = s1.doc_id
       |            JOIN sizes s2 ON c.dup_of = s2.doc_id
       |WHERE h.shared / CAST(s1.sz + s2.sz - h.shared AS DOUBLE) >= $mhTau""".stripMargin
  }

  val minhashLshSql: String = {
    val mins = (0 until mhBands * mhRows).map { j =>
      s"min((${mhA(j)} * s + ${mhB(j)}) % $mhP) AS mh$j"
    }.mkString(",\n         ")
    val bandSelects = (0 until mhBands).map { b =>
      val key = (0 until mhRows).map(r => s"mh${b * mhRows + r}").mkString(", '_', ")
      s"SELECT doc_id, $b AS band, concat(${key}) AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $shinglesCte,
       |s31 AS (SELECT doc_id, sh % $mhP AS s FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM s31 GROUP BY doc_id
       |),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id
       |),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |shared AS (
       |  SELECT c.d1, c.d2, count(*) AS shared
       |  FROM cand c JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2 AND b.sh = a.sh
       |  GROUP BY 1, 2
       |)
       |SELECT x.d1, x.d2,
       |       round(shared / CAST(s1.sz + s2.sz - shared AS DOUBLE), 6) AS jac
       |FROM shared x JOIN sizes s1 ON x.d1 = s1.doc_id
       |              JOIN sizes s2 ON x.d2 = s2.doc_id
       |WHERE shared / CAST(s1.sz + s2.sz - shared AS DOUBLE) >= $mhTau""".stripMargin
  }

  // ------------------------------------------------- Bloom membership gate

  /** Filter size in bit positions and hash-function count. At 2^17 bits
    * / 5 hashes the false-positive rate stays under 1% up to ~9k member
    * docs; production sizes m per corpus (the filter is O(m) REGARDLESS
    * of corpus size — the whole point vs carrying the 8-byte-per-doc
    * exact hash set of a 10^11-doc corpus across refreshes). */
  val bloomBits: Int = 1 << 17
  val bloomK: Int = 5

  /** The k bit positions of one document's normalized-text identity —
    * affine permutations of the 60-bit hash under the committed
    * [[mhA]]/[[mhB]] constants, so both engines compute the identical
    * filter (a library Bloom's internal hashing would be oracle-opaque). */
  private def bloomPositions: Seq[Column] = {
    val s = h60(normText) % mhP
    (0 until bloomK).map(i => (lit(mhA(i)) * s + lit(mhB(i))) % mhP % bloomBits)
  }

  private def bloomPositionsSql: Seq[String] = {
    val s = s"(${h60Sql(normTextSql)} % $mhP)"
    (0 until bloomK).map(i => s"((${mhA(i)} * $s + ${mhB(i)}) % $mhP) % $bloomBits")
  }

  /**
   * CROSS-REFRESH membership gate (r14): a Bloom filter over a previous
   * corpus snapshot, probed by the next refresh's arrivals — the
   * standard way an incremental pipeline skips exact re-dedup against
   * history without carrying history. The filter materializes as its
   * SET BIT POSITIONS, one slim row each (≤ [[bloomBits]] rows
   * total, independent of corpus size): trivially broadcastable,
   * MERGEABLE by plain union (bloom(A ∪ B) ≡ distinct(bloom(A) ∪
   * bloom(B)) — per-member positions are independent), and append-able
   * file-to-file via [[graft.Artifact.update]] with no
   * rebuild. Zero false negatives by construction (an exact re-post
   * hashes to the same positions); false positives are the documented
   * Bloom trade, bounded by the m/k sizing above.
   */
  def bloomBuild(corpus: DataFrame): DataFrame =
    corpus.select(explode(array(bloomPositions: _*)).as("pos")).distinct()

  /** Arrivals whose EVERY position is set — the possibly-seen set
    * (route to exact verification or drop, per pipeline policy). The
    * probe is one broadcast join of the m-bounded filter; the filter
    * side is re-distincted so appended/unioned position files need no
    * pre-compaction. */
  def bloomFlag(arrivals: DataFrame, filter: DataFrame): DataFrame = {
    val ps = arrivals.select(col("doc_id"),
      array_distinct(array(bloomPositions: _*)).as("__ps"))
    ps.select(col("doc_id"), size(col("__ps")).as("__need"),
        explode(col("__ps")).as("pos"))
      .join(broadcast(filter.select(col("pos")).distinct()), Seq("pos"))
      .groupBy(col("doc_id"), col("__need"))
      // count DISTINCT, not rows (r14 review fix): a doc_id arriving
      // TWICE in one batch groups its copies together — a plain count
      // reads 2k hits against need=k and silently false-negatives the
      // one gate that advertises zero false negatives. One row per
      // distinct flagged doc_id; the stateless form (below) flags per
      // ROW instead — identical membership, per-arrival multiplicity.
      .agg(countDistinct(col("pos")).as("__got"))
      .where(col("__got") === col("__need"))
      .select(col("doc_id"), lit(true).as("maybe_seen"))
  }

  /** The composed driver entry: the even-doc_id half is yesterday's
    * snapshot, every document probes — output ⊇ the members (zero false
    * negatives), plus any (deterministic) false positives. */
  def bloomFlagDocuments(docs: DataFrame): DataFrame =
    bloomFlag(docs, bloomBuild(docs.where(col("doc_id") % 2 === 0)))

  /**
   * STATELESS streaming form of the Bloom gate (r14): [[bloomFlag]]'s
   * explode → per-doc count aggregation is state-store territory in a
   * stream; here the k=bloomK membership tests run as k SEPARATE
   * broadcast left joins of the m-bounded filter (one per position),
   * flagged when ALL k hit — pure stream-static joins, no aggregation,
   * no watermark, so the gate rides a `readStream` unchanged (the same
   * contract as [[minhashStreamingFlag]]). Membership is IDENTICAL to
   * [[bloomFlag]]'s (spec-pinned: a position array is all-set iff each
   * of its k members is set); multiplicity differs by design on
   * duplicate doc_id arrivals — this form flags every arriving ROW,
   * the aggregate form emits one row per distinct flagged doc_id
   * (spec-pinned too). The filter side is
   * re-distincted (a static-side aggregate — allowed) so appended
   * position files need no pre-compaction.
   */
  def bloomFlagStateless(arrivals: DataFrame, filter: DataFrame): DataFrame = {
    val dedupFilter = filter.select(col("pos")).distinct()
    val withPos = arrivals.select(col("doc_id") +: bloomPositions.zipWithIndex
      .map { case (p, i) => p.as(s"__p$i") }: _*)
    (0 until bloomK).foldLeft(withPos) { (df, i) =>
      df.join(broadcast(dedupFilter.select(col("pos").as(s"__hit$i"))),
        col(s"__p$i") === col(s"__hit$i"), "left")
    }
      .where((0 until bloomK).map(i => col(s"__hit$i").isNotNull).reduce(_ && _))
      .select(col("doc_id"), lit(true).as("maybe_seen"))
  }

  /** DuckDB mirror of [[bloomFlagDocuments]]. */
  lazy val bloomFlagSql: String = {
    val posList = bloomPositionsSql.mkString("[", ", ", "]")
    s"""WITH pos AS (
       |  SELECT doc_id, unnest($posList) AS pos FROM documents
       |),
       |filt AS (SELECT DISTINCT pos FROM pos WHERE doc_id % 2 = 0),
       |need AS (SELECT doc_id, count(DISTINCT pos) AS need FROM pos GROUP BY 1),
       |got AS (
       |  SELECT p.doc_id, count(DISTINCT p.pos) AS got
       |  FROM pos p JOIN filt f ON p.pos = f.pos GROUP BY 1
       |)
       |SELECT g.doc_id, true AS maybe_seen
       |FROM got g JOIN need n USING (doc_id)
       |WHERE g.got = n.need""".stripMargin
  }

  // ------------------------------------------- segment-level FUZZY dedup

  /** Jaccard threshold for segment-level near-dup (r14). Segments are
    * short ([[TextOps.segWords]] words, ~18 shingles), so reflowed
    * boilerplate keeps most of its shingles and sits WELL above this,
    * while unrelated template segments share at most a couple. */
  val segTau = 0.5

  /** Plant period for [[plantSegmentNearDups]]. */
  val segPlantMod = 101

  /**
   * Deterministic REFLOWED-BOILERPLATE plant (r14) — the segment-level
   * analogue of [[Decontam.plantNearDups]]'s argument: the synthetic
   * corpus has no natural within-segment reflows, so the raw fuzzy
   * entry's improvement over exact segment dedup would be an empty-set
   * tautology. Every doc with `doc_id % segPlantMod == 1` gets its text
   * replaced by a PER-SEGMENT HALF-SWAPPED copy of doc `doc_id - 1`'s
   * text: each [[TextOps.segWords]]-word window keeps its word SET but
   * swaps its two halves — exact segment equality is destroyed (every
   * full window differs from the source), while each planted segment
   * still shares ~80% of its 3-gram shingles with its source segment,
   * the reflow class this operator exists for. Engine-portable (the CTE
   * mirrors it); planted rows carry recomputed n_chars.
   */
  def plantSegmentNearDups(docs: DataFrame): DataFrame = {
    val W = TextOps.segWords
    val H = W / 2
    val srcTexts = docs.where(col("doc_id") % segPlantMod === 0)
      .select((col("doc_id") + 1).as("doc_id"), col("text").as("__ptext"))
    val w = split(col("__ptext"), " ")
    val n = ceil(size(w) / lit(W.toDouble)).cast("long")
    val swapped = array_join(
      flatten(transform(sequence(lit(0L), n - 1), i =>
        concat(
          slice(w, (i * W + H + 1).cast("int"), lit(W - H)),
          slice(w, (i * W + 1).cast("int"), lit(H))))), " ")
    docs.join(broadcast(srcTexts), Seq("doc_id"), "left")
      .withColumn("text",
        when(col("__ptext").isNotNull, swapped).otherwise(col("text")))
      .withColumn("n_chars",
        when(col("__ptext").isNotNull, length(col("text")).cast("long"))
          .otherwise(col("n_chars")))
      .drop("__ptext")
  }

  /** DuckDB rendering of [[plantSegmentNearDups]] as a
    * `documents`-shadowing CTE prefix. */
  lazy val plantSegmentNearDupsCte: String = {
    val W = TextOps.segWords
    val H = W / 2
    s"""documents AS (
       |  SELECT d.* REPLACE (
       |    CASE WHEN p.w IS NOT NULL THEN p.swapped ELSE d.text END AS text,
       |    CASE WHEN p.w IS NOT NULL THEN len(p.swapped) ELSE d.n_chars END AS n_chars)
       |  FROM main.documents d
       |  LEFT JOIN (
       |    SELECT doc_id + 1 AS doc_id, w,
       |           array_to_string(flatten(list_transform(
       |             range(0, CAST(ceil(len(w) / $W.0) AS BIGINT)),
       |             i -> w[(i*$W+$H+1):(i*$W+$W)] || w[(i*$W+1):(i*$W+$H)])), ' ') AS swapped
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w
       |          FROM main.documents WHERE doc_id % $segPlantMod = 0)
       |  ) p USING (doc_id)
       |)""".stripMargin
  }

  /**
   * SEGMENT-LEVEL FUZZY dedup (r14): MinHash banding at the
   * [[TextOps.segWords]]-word segment level — catches reflowed
   * boilerplate that exact segment dedup ([[TextOps.segmentDedup]])
   * structurally misses, the segment analogue of near-dup
   * decontamination's argument over exact containment. A segment
   * occurrence survives iff it is the FIRST exact occurrence of its
   * segment string (by (doc_id, seg_idx)) AND no EARLIER distinct
   * segment is banding-candidate + Jaccard ≥ [[segTau]] similar;
   * survivors reassemble per document, same output shape as
   * [[TextOps.segmentDedup]].
   *
   * Scale shape — the same no-hot-reducer contract as exact segment
   * dedup, extended to the fuzzy stage:
   *  - the exact collapse is the partial (map-side-combinable)
   *    `min(struct(doc_id, seg_idx))` per segment string — a boilerplate
   *    segment repeated 10^6× collapses to one representative per map
   *    partition BEFORE anything shuffles, which also means the fuzzy
   *    machinery only ever sees DISTINCT segment strings: identical
   *    copies can never flood a band bucket;
   *  - signatures/band keys are signed map-side per representative by
   *    the index's [[bandKeys]] path — no shingle is shuffled;
   *  - the candidate self-join is banded (never all-pairs), verified by
   *    exact Jaccard over the two ~18-shingle sets;
   *  - decisions join back on the segment string (AQE-skew-splittable,
   *    1 rep row per string) and on the near-unique rep key.
   */
  def segmentDedupFuzzy(docs: DataFrame): DataFrame = {
    val segs = TextOps.segments(docs)
    // exact collapse: one representative (first occurrence) per distinct
    // segment string — partial min, no hot key (30g's machinery)
    val reps = graft.CacheRegistry.persistTracked(
      segs.groupBy(col("seg"))
        .agg(min(struct(col("doc_id"), col("seg_idx"))).as("__f"))
        .select(col("seg"), col("__f.doc_id").as("rdoc"), col("__f.seg_idx").as("ridx")))
    // per-representative shingle sets (h60 3-gram hashes, distinct).
    // Segments shorter than the shingle width have NO shingles: they
    // never enter the fuzzy stage and always survive to the exact rule
    // (the empty-set contract of nonEmptySets, whose generator keeps the
    // hashing from being pushed into a filter below it).
    // persisted (r14 review fix): the signatures and both sides of the
    // Jaccard verify read it
    val rsh = graft.CacheRegistry.persistTracked(nonEmptySets(
      reps.select(col("rdoc"), col("ridx"),
        array_distinct(
          graft.functions.ShingleHashes.hashes(words(col("seg")), shingleK)).as("shs")),
      Seq("rdoc", "ridx")))
    // map-side band keys per representative — the index's signing path
    val bands = bandKeys(rsh, Seq("rdoc", "ridx"))
      .select(col("rdoc"), col("ridx"), col("band"), col("key"))
    // banded candidates among EARLIER/LATER representative pairs
    // ((d1,i1) < (d2,i2) lexicographic — total order, ids unique)
    val cand = bands.select(col("rdoc").as("d1"), col("ridx").as("i1"),
        col("band"), col("key"))
      .join(bands.select(col("rdoc").as("d2"), col("ridx").as("i2"),
        col("band"), col("key")), Seq("band", "key"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("i1") < col("i2")))
      .select(col("d1"), col("i1"), col("d2"), col("i2")).distinct()
    // exact-Jaccard verify over the two small shingle sets
    val dropped = cand
      .join(rsh.toDF("d1", "i1", "__s1"), Seq("d1", "i1"))
      .join(rsh.toDF("d2", "i2", "__s2"), Seq("d2", "i2"))
      .where(setJaccard(col("__s1"), col("__s2")) >= segTau)
      .select(col("d2").as("rdoc"), col("i2").as("ridx")).distinct()
      .withColumn("__fz", lit(true))
    // decision per occurrence: first exact occurrence AND its
    // representative has no earlier fuzzy twin
    val marked = segs.join(reps, Seq("seg"))
      .join(dropped, Seq("rdoc", "ridx"), "left")
      .withColumn("__kept",
        col("rdoc") === col("doc_id") && col("ridx") === col("seg_idx") &&
          col("__fz").isNull)
    marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_segs"),
      count(when(col("__kept"), 1)).as("n_kept"),
      { val kept = array_sort(collect_list(
          when(col("__kept"), struct(col("seg_idx"), col("seg")))))
        when(size(kept) === 0, lit(null: String))
          .otherwise(array_join(transform(kept, s => s("seg")), " ")).as("text_deduped") })
  }

  /** DuckDB mirror of [[segmentDedupFuzzy]] (naive one-window rank form
    * for the exact collapse — the semantics the partial-min form equals;
    * same [[mhA]]/[[mhB]] signature constants). */
  lazy val segmentDedupFuzzySql: String = {
    val W = TextOps.segWords
    val mins = (0 until mhBands * mhRows).map { j =>
      s"min((${mhA(j)} * s + ${mhB(j)}) % $mhP) AS mh$j"
    }.mkString(",\n         ")
    val bandSelects = (0 until mhBands).map { b =>
      val key = (0 until mhRows).map(r => s"mh${b * mhRows + r}").mkString(", '_', ")
      s"SELECT rdoc, ridx, $b AS band, concat(${key}) AS key FROM rsig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH wt AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w FROM documents),
       |segs AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
       |         array_to_string(w[(i*$W+1):(i*$W+$W)], ' ') AS seg
       |  FROM wt, UNNEST(range(CAST(ceil(len(w)/$W.0) AS BIGINT))) AS t(i)),
       |reps AS (
       |  SELECT seg, doc_id AS rdoc, seg_idx AS ridx FROM (
       |    SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
       |    FROM segs) WHERE rn = 1),
       |rw AS (SELECT rdoc, ridx, string_split(seg, ' ') AS sw FROM reps),
       |rsh AS (
       |  SELECT DISTINCT rdoc, ridx,
       |         ${h60Sql(s"array_to_string(sw[(i + 1):(i + $shingleK)], ' ')")} AS sh
       |  FROM (SELECT rdoc, ridx, sw,
       |               unnest(range(0, greatest(len(sw) - ${shingleK - 1}, 0))) AS i
       |        FROM rw)),
       |rsig AS (
       |  SELECT rdoc, ridx,
       |         $mins
       |  FROM (SELECT rdoc, ridx, sh % $mhP AS s FROM rsh) GROUP BY 1, 2),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT a.rdoc AS d1, a.ridx AS i1, b.rdoc AS d2, b.ridx AS i2
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.rdoc < b.rdoc OR (a.rdoc = b.rdoc AND a.ridx < b.ridx)),
       |sizes AS (SELECT rdoc, ridx, count(*) AS sz FROM rsh GROUP BY 1, 2),
       |shared AS (
       |  SELECT c.d1, c.i1, c.d2, c.i2, count(*) AS shared
       |  FROM cand c
       |  JOIN rsh a ON a.rdoc = c.d1 AND a.ridx = c.i1
       |  JOIN rsh b ON b.rdoc = c.d2 AND b.ridx = c.i2 AND b.sh = a.sh
       |  GROUP BY 1, 2, 3, 4),
       |dropped AS (
       |  SELECT DISTINCT h.d2 AS rdoc, h.i2 AS ridx
       |  FROM shared h JOIN sizes s1 ON h.d1 = s1.rdoc AND h.i1 = s1.ridx
       |                JOIN sizes s2 ON h.d2 = s2.rdoc AND h.i2 = s2.ridx
       |  WHERE h.shared / CAST(s1.sz + s2.sz - h.shared AS DOUBLE) >= $segTau),
       |mark AS (
       |  SELECT g.doc_id, g.seg_idx, g.seg,
       |         (g.doc_id = r.rdoc AND g.seg_idx = r.ridx
       |          AND NOT EXISTS (SELECT 1 FROM dropped dr
       |                          WHERE dr.rdoc = r.rdoc AND dr.ridx = r.ridx)) AS kept
       |  FROM segs g JOIN reps r USING (seg))
       |SELECT doc_id, COUNT(*) AS n_segs,
       |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept) AS text_deduped
       |FROM mark GROUP BY doc_id""".stripMargin
  }

  /** [[segmentDedupFuzzySql]] over the PLANTED corpus — the driver-entry
    * mirror (known-nonzero fuzzy drop set at every SF). */
  lazy val segmentDedupFuzzyPlantedSql: String =
    s"WITH $plantSegmentNearDupsCte,\n" +
      segmentDedupFuzzySql.stripPrefix("WITH ")

  // ---------------------------------------------------------------- SimHash

  val shBits = 60      // usable bits per md5-derived signature HALF
  val shSalt = "g2:"   // token salt deriving the second, independent half
  val shChunks = 6     // 6 x 20-bit bucket keys (3 per half)
  val shChunkBits = 20
  /** Pigeonhole-EXACT recall: two 120-bit signatures within hamming
    * distance `shChunks - 1` must agree on at least one of the `shChunks`
    * disjoint chunks, so every such pair IS generated as a candidate —
    * the recall contract is a theorem, not a probability. Pairs farther
    * apart than this are out of contract (raise the chunk count — and
    * narrow the chunks — to widen it). */
  val shMaxHamming = shChunks - 1
  /** Hot-bucket cap: a chunk key shared by more than this many docs is
    * dropped from candidate generation. Without it one degenerate key
    * (near-empty docs all hash their chunks to 0) alone makes candidate
    * pairs quadratic in corpus size. Contract refinement: a qualifying
    * pair is reported IF at least one of its shared chunks is uncapped —
    * the same skew/recall trade [[ngramDfCap]] makes for stop-shingles. */
  val shBucketCap = 200

  /** Chunk width sized to the corpus: random candidate collisions are
    * ~ chunks * N² / 2^bits pairs, so keep 2^bits ≳ N·slack. The two
    * 60-bit halves support (chunks, bits) = (8,15) → N ~ 10³,
    * (6,20) → N ~ 10⁵, (4,30) → N ~ 10⁸; the pigeonhole guarantee
    * chunks-1 narrows as buckets widen — that is the honest trade. */
  def shChunkBitsFor(n: Long): Int =
    if (n <= 1000L) 15 else if (n <= 300000L) 20 else 30

  /**
   * Two 60-bit SimHash halves per doc (120 bits total) over distinct
   * NORMALIZED tokens, computed ENTIRELY map-side: the token array is
   * materialized once per doc, each half's hash array once (own
   * projections — CollapseProject keeps non-cheap exprs un-duplicated),
   * then each signature bit counts its set hashes with an array filter.
   * No explode, no shuffle, no aggregation — a projection pass over the
   * scan, the zero-shuffle shape you want signing 100 TB of text. The
   * second half hashes `"g2:" + token` — independent bits, same pass.
   * Sign rule: bit set ⇔ 2·ones > n ⇔ the classic ±1 sum is positive.
   */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val withWs = docs.select(col("doc_id"), array_distinct(words(normText)).as("ws"))
    val withHs = withWs.select(col("doc_id"),
      transform(col("ws"), t => h60(t)).as("hs"),
      transform(col("ws"), t => h60(concat(lit(shSalt), t))).as("hs2"))
    def pack(hsCol: Column): Column = {
      val n = size(hsCol)
      (0 until shBits).map { b =>
        val ones = size(filter(hsCol,
          h => shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L)))
        when(ones * 2 > n, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    withHs.select(col("doc_id"), pack(col("hs")).as("sig"), pack(col("hs2")).as("sig2"))
  }

  /** Candidate pairs (d1 < d2) sharing at least one uncapped signature
    * chunk — exposed separately so callers (and the perf specs) can COUNT
    * the candidate volume, the quantity that decides cost at scale. */
  def simhashCandidates(
      sig: DataFrame, chunks: Int, chunkBits: Int, cap: Int): DataFrame = {
    val perHalf = shBits / chunkBits
    require(chunks >= 2 && chunks <= 2 * perHalf,
      s"$chunks chunks of $chunkBits bits exceed 2x$shBits signature bits")
    val chunkStructs = (0 until chunks).map { c =>
      val half = if (c / perHalf == 0) col("sig") else col("sig2")
      val off = (c % perHalf) * chunkBits
      struct(lit(c).as("chunk"),
        shiftright(half, off).bitwiseAND(lit((1L << chunkBits) - 1)).as("key"))
    }
    val ck = sig.select(col("doc_id"), explode(array(chunkStructs: _*)).as("ck"))
      .select(col("doc_id"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    // hot-bucket cap as a map-side-collapsed count + anti-join, NOT a
    // count window: the partial aggregation reduces each bucket to one
    // row per partition before the exchange, the over-cap key set is
    // tiny by construction (≤ N·chunks/cap rows — AQE broadcasts it at
    // runtime), and the candidate self-join then shuffles only the
    // CAPPED frame — a pathological hot bucket's row mass is dropped
    // before it ever concentrates on one reducer (r12: the same
    // argmin-class fix as sdSubBucketed/withClusterSize, applied to the
    // one remaining count-window in the dedup family)
    val hot = ck.groupBy(col("chunk"), col("key"))
      .agg(count(lit(1)).as("__bsz")).where(col("__bsz") > cap)
      .select(col("chunk"), col("key"))
    // re-select in ck's order: a Seq-key join leads with the join keys,
    // and the positional toDF below labels by position
    val capped = ck.join(hot, Seq("chunk", "key"), "left_anti")
      .select(col("doc_id"), col("chunk"), col("key"))
    capped.toDF("d1", "chunk", "key")
      .join(capped.toDF("d2", "chunk2", "key2")
        .withColumnRenamed("chunk2", "chunk").withColumnRenamed("key2", "key"),
        Seq("chunk", "key"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /**
   * SimHash near-dup with the default, corpus-sized parameters: pairs
   * within hamming distance [[shMaxHamming]] over the 120-bit signature,
   * found via uncapped-chunk buckets (never all-pairs) and verified by
   * bit_count(xor) on both halves.
   */
  def simhashNearDup(docs: DataFrame): DataFrame =
    simhashNearDup(docs, shChunks, shChunkBits, shBucketCap)

  /** Parameterized form — pick `chunkBits` with [[shChunkBitsFor]] as the
    * corpus grows; the recall bound is always `chunks - 1`. */
  def simhashNearDup(
      docs: DataFrame, chunks: Int, chunkBits: Int, cap: Int): DataFrame = {
    // signatures feed chunk generation AND both verify joins: persist the
    // tiny (doc_id, sig, sig2) frame so the 120-bit packing runs once
    val sig = graft.CacheRegistry.persistTracked(simhashSignatures(docs))
    val cand = simhashCandidates(sig, chunks, chunkBits, cap)
    cand
      .join(sig.toDF("d1", "s1a", "s1b"), "d1")
      .join(sig.toDF("d2", "s2a", "s2b"), "d2")
      .withColumn("hamming",
        (expr("bit_count(s1a ^ s2a)") + expr("bit_count(s1b ^ s2b)")).cast("long"))
      .where(col("hamming") <= chunks - 1)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  // ------------------------------------------- connected-component clusters

  /**
   * Connected-component clustering over a near-dup pair list — the step
   * that turns pairwise evidence into the dedup DECISION: every document
   * appearing in `pairs` (cols d1, d2) is assigned
   * `cluster_id` = the minimum doc_id reachable through the pair graph,
   * so the deduplicated corpus is simply `doc_id = cluster_id` (one
   * canonical keeper per component, the rest drop). A NULL endpoint
   * names no document: its pair only contributes the other endpoint.
   *
   * The pair frame is persisted once, here, unless it is already a
   * local frame (then it is read with no job, and persisted only if it
   * goes to the rounds). Then ONE job collects at most
   * [[driverPairBudget]] + 1 pairs: if the whole pair list fits the
   * budget (a few MB of longs), the components are labelled on the
   * driver by a min-root union-find and returned as a local frame —
   * no per-round jobs at all. Near-dup pair lists are usually this
   * small (Kiveris et al., "Connected Components in MapReduce and
   * Beyond", SoCC '14, finish in memory once the active edge set fits).
   *
   * Over the budget, distributed min-label propagation to a FIXED POINT:
   * `L'(v) = min(L(v), min over neighbours u of L(u))`. Each round is
   * one shuffle join + one map-side-combinable min aggregate; per-round
   * state is one (vertex, label) row per vertex — proportional to the
   * documents under suspicion, never to pairs². Each round's labels are
   * persisted and the superseded round is released immediately; the
   * driver sees only a changed-row COUNT (one long per round) to decide
   * convergence — in these rounds the labels never leave the executors.
   * Round count = the pair graph's diameter, which for near-dup clusters
   * is small (duplicate clusters are dense, not path-like); if the fixed
   * point is not reached within [[propagateRoundBudget]] rounds (LONG
   * components — chained near-dups, general 100 TB graphs) the call
   * AUTO-SWITCHES to the large-star/small-star contraction, whose round
   * count is logarithmic in component size rather than linear in
   * diameter (Kiveris et al.), with identical cluster assignment (spec'd
   * on planted paths + random graphs), within 50 rounds in all. All
   * three finishes return the same `(doc_id, cluster_id, cluster_size)`
   * schema and rows.
   */
  def clusters(pairs: DataFrame): DataFrame =
    clusters(pairs, maxRounds = 50, alternatingStar = false, driverPairBudget)

  /** [[clusters]] with the finish explicit, for specs that pin the
    * distributed rounds on inputs small enough to finish on the driver:
    * `maxRounds` bounds the rounds, `alternatingStar = true` runs the
    * star contraction from round one, and a `driverBudget` of 0 always
    * runs the distributed rounds. */
  private[datapipe] def clusters(pairs: DataFrame, maxRounds: Int,
      alternatingStar: Boolean, driverBudget: Int): DataFrame = {
    // persisted ONCE: the budget probe, the symmetrizing union of the
    // propagation and a star restart all reread the cached pairs, not
    // the (expensive) pair derivation. Local rows need no pin for the
    // probe; the rounds still get one
    val local = graft.DriverRows.isLocal(pairs)
    val p = if (local) pairs else graft.CacheRegistry.persistTracked(pairs)
    clustersOnDriver(p, driverBudget).getOrElse {
      val q = if (local) graft.CacheRegistry.persistTracked(p) else p
      if (alternatingStar) clustersStar(q, maxRounds) else clustersPropagate(q, maxRounds)
    }
  }

  /** Largest pair list [[clusters]] labels on the driver: 2^18 pairs is
    * 4 MB of raw longs, while a near-dup pair list of a real corpus is
    * usually far smaller. [[ngramJaccard]] bounds its postings and its
    * passing pairs by it. */
  val driverPairBudget: Int = 1 << 18

  /** The driver finish of [[clusters]], or None when the pairs exceed
    * `budget` (or the ids are not longs): one bounded collect
    * ([[graft.DriverRows.within]]). */
  private def clustersOnDriver(p: DataFrame, budget: Int): Option[DataFrame] = {
    val ids = p.select(col("d1").as("v")).union(p.select(col("d2").as("v")))
    // the distributed finishes' exact schema (analysis only, no job)
    val schema = withClusterSize(
      ids.select(col("v").as("doc_id"), col("v").as("cluster_id"))).schema
    if (budget <= 0 || schema("doc_id").dataType != LongType) return None
    val got = graft.DriverRows.within(
        p.select(col("d1").cast(LongType), col("d2").cast(LongType)), budget) match {
      case Some(rows) => rows
      case None => return None
    }
    // min-root union-find: the larger root always hangs under the
    // smaller, so every root is its component's minimum id
    val parent = mutable.LongMap.empty[Long]
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var x = v
      while (x != r) { val next = parent(x); parent(x) = r; x = next }
      r
    }
    for (row <- got) {
      val ends = (0 to 1).filterNot(row.isNullAt).map(row.getLong)
      ends.foreach(v => parent.getOrElseUpdate(v, v))
      if (ends.size == 2) {
        val (a, b) = (find(ends(0)), find(ends(1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
    }
    val root = parent.keys.toSeq.map(v => v -> find(v))
    val size = root.groupMapReduce(_._2)(_ => 1L)(_ + _)
    val rows = root.map { case (v, r) => Row(v, r, size(r)) }
    Some(p.sparkSession.createDataFrame(rows.asJava, schema))
  }

  /** Plain-propagation round budget before [[clusters]] auto-switches to
    * the alternating-star variant: propagation converges in
    * diameter-many rounds — ideal for the dense near-dup clusters dedup
    * actually produces (diameter ~4) and measurably cheaper per round —
    * but provably blows any fixed budget on long-path components. Rather
    * than make the caller know which variant fits their pair graph, run
    * the cheap variant for this many rounds and restart with the
    * logarithmic one if the fixed point hasn't been reached (restart,
    * not resume: the star state is the edge set, not labels, and the
    * pair frame is already persisted so the restart rereads cached
    * pairs, not the derivation). */
  val propagateRoundBudget = 10

  /** Min-label propagation over the persisted pair frame `p`. */
  private def clustersPropagate(p: DataFrame, maxRounds: Int): DataFrame = {
    val edges = graft.CacheRegistry.persistTracked(
      p.select(col("d1").as("v"), col("d2").as("u"))
        .union(p.select(col("d2").as("v"), col("d1").as("u"))))
    // per-round labels are eagerly materialized with their LINEAGE
    // TRUNCATED (localCheckpoint): the round body references the previous
    // labels twice, and Catalyst re-traverses every occurrence of a
    // shared subtree, so un-truncated iteration makes plan analysis cost
    // grow ~2^rounds — fatal on the driver well before maxRounds even
    // though per-round DATA stays one row per vertex. Superseded round
    // storage is released by the ContextCleaner when the previous frame's
    // reference drops.
    // LAZY truncation (r18): the logical plan is cut to the checkpoint
    // RDD at construction either way; laziness fuses the materialization
    // into the job that first needs it instead of paying a separate job
    // per round — one action per round instead of two (the r17 BPE fix,
    // applied to the CC iteration)
    var lbl = edges.select(col("v")).distinct().withColumn("lbl", col("v"))
      .transform(graft.Checkpoints.truncate(_, eager = false))
    var changed = 1L
    var rounds = 0
    val budget = math.min(maxRounds, propagateRoundBudget)
    while (changed > 0 && rounds < budget) {
      val nbrMin = edges.join(lbl.toDF("u", "ulbl"), "u")
        .groupBy(col("v")).agg(min(col("ulbl")).as("nlbl"))
      val step = lbl.toDF("v", "old").join(nbrMin, Seq("v"), "left_outer")
        .select(col("v"), col("old"),
          least(col("old"), coalesce(col("nlbl"), col("old"))).as("lbl"))
        .transform(graft.Checkpoints.truncate(_, eager = false))
      // the count both decides convergence and materializes the round's
      // lazy checkpoint — ONE job per round
      changed = step.where(col("lbl") < col("old")).count()
      lbl = step.select(col("v"), col("lbl"))
      rounds += 1
    }
    if (changed > 0)
      // long-diameter component: restart on the logarithmic-round variant
      // (p is persisted, so the pair derivation is NOT recomputed)
      return clustersStar(p, maxRounds)
    withClusterSize(lbl.select(col("v").as("doc_id"), col("lbl").as("cluster_id")))
  }

  /** Attach `cluster_size` to a (doc_id, cluster_id) decision frame via
    * groupBy-count + join, NOT count().over(cluster_id): the partial
    * (map-side) aggregation collapses each cluster to one row per
    * partition before any exchange, and the attach join is
    * AQE-skew-splittable — a pathological giant duplicate cluster never
    * concentrates its full row mass on one reducer for a sort the size
    * computation doesn't need. (Same fix as the r12 sdSubBucketed size
    * pass; sizes are NOT broadcast here because the cluster count is
    * unbounded — one row per singleton.) */
  private def withClusterSize(decision: DataFrame): DataFrame = {
    val sizes = decision.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    decision.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /**
   * Alternating large-star / small-star connected components — the
   * logarithmic-round escape hatch for long-diameter pair graphs.
   *
   * The edge set itself is the state (kept canonically oriented
   * larger→smaller, deduplicated):
   *  - LARGE-STAR: per node u with symmetric neighbourhood Γ(u), let
   *    m = min(Γ(u) ∪ {u}); rewire every strictly larger neighbour
   *    v > u to m. Shrinks long tails by hooking "uphill" vertices
   *    directly to the local minimum.
   *  - SMALL-STAR: per node u over its smaller neighbours Γ⁻(u), let
   *    m = min(Γ⁻(u)); rewire u and every v ∈ Γ⁻(u) \ {m} to m.
   *    Flattens the partial trees large-star built.
   * Both preserve connectivity and component minima; their fixed points
   * are stars rooted at each component's minimum id, and the alternation
   * reaches one in O(log n) rounds on paths (vs diameter rounds for
   * plain propagation) — Kiveris et al., SoCC '14.
   *
   * Per round: two groupBy-min aggregates + two joins, all
   * map-side-combinable on (node) keys; the convergence test the driver
   * sees is a count + an empty-EXCEPT probe (longs only — edges never
   * leave the executors). Output schema and assignment are identical to
   * the propagation variant: (doc_id, cluster_id = min reachable id,
   * cluster_size).
   */
  private def clustersStar(p: DataFrame, maxRounds: Int): DataFrame = {
    // every vertex the input mentions (self-pairs included) — re-joined at
    // the end so no degenerate input shape can drop a vertex
    val verts = graft.CacheRegistry.persistTracked(
      p.select(col("d1").as("v")).union(p.select(col("d2").as("v"))).distinct())
    // Each round's edge set is eagerly materialized with its LINEAGE
    // TRUNCATED (localCheckpoint): the round body references its input
    // ~4 times, and Catalyst re-traverses every occurrence of a shared
    // subtree, so un-truncated iteration makes plan ANALYSIS cost grow
    // ~4^rounds — the driver, not the data, becomes the bottleneck. With
    // truncation the plan stays constant-size per round; superseded
    // round storage is released by the ContextCleaner when the previous
    // frame's reference drops.
    var edges = p
      .select(greatest(col("d1"), col("d2")).as("u"),
              least(col("d1"), col("d2")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .transform(graft.Checkpoints.truncate(_, eager = false))
    var nEdges = edges.count() // materializes the lazy checkpoint too
    var converged = nEdges == 0L
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // large-star over the symmetric view; emitted edges (v, m) have
      // v > u >= m, so the output is already canonically oriented
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(least(col("v"), col("u"))).as("m"))
      val large = sym.join(lsMin, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star over the oriented view: m = min of u's smaller
      // neighbours; u and each other smaller neighbour rewire to m
      val ss = large.join(
        large.groupBy(col("u")).agg(min(col("v")).as("m")), "u")
      val step = ss.select(col("v").as("u"), col("m").as("v"))
        .union(ss.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
        .transform(graft.Checkpoints.truncate(_, eager = false))
      val nStep = step.count() // one fused job per round (see above)
      converged = nStep == nEdges && step.except(edges).head(1).isEmpty
      edges = step
      nEdges = nStep
      rounds += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    // fixed point = stars: src -> component min; roots appear only as dst
    val lbl = edges.select(col("u").as("v"), col("v").as("lbl")).distinct()
    withClusterSize(verts.join(lbl, Seq("v"), "left_outer")
      .select(col("v").as("doc_id"), coalesce(col("lbl"), col("v")).as("cluster_id")))
  }

  /**
   * Cluster decision with a QUALITY-RANKED keeper (r15): the same
   * connected components as [[clusters]], but each cluster's survivor
   * is its HIGHEST-quality member (ties to the smallest doc_id) instead
   * of the smallest id — the production corpus-dedup policy (keep the
   * best copy of a duplicated page, not an arbitrary one). The keeper
   * pick is ONE partial `max(struct(score, -doc_id))` aggregate per
   * cluster — never a per-cluster window (the closed single-reducer
   * class) — joined back on cluster_id; quality scores ride
   * [[TextOps.quality]]'s engine-exact rounded projection, so the
   * decision is hash-comparable. Output: one row per SUSPECT doc
   * (member of some near-dup pair) with `(doc_id, cluster_id, score,
   * keep, keeper_id)`.
   */
  def clustersKeepBest(docs: DataFrame): DataFrame = {
    val cl = clusters(ngramJaccard(docs)).select(col("doc_id"), col("cluster_id"))
    val q = TextOps.quality(docs).select(col("doc_id"), col("score"))
    val scored = cl.join(q, Seq("doc_id"))
    val keepers = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("score").as("s"), (-col("doc_id")).as("nd"))).as("__b"))
      .select(col("cluster_id"), (-col("__b.nd")).as("keeper_id"))
    scored.join(keepers, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        (col("doc_id") === col("keeper_id")).as("keep"), col("keeper_id"))
  }

  /** DuckDB mirror of [[clustersKeepBest]]: the recursive-CTE closure +
    * the quality projection, keeper via a window argmax (oracle only has
    * to be correct; the window order (score DESC, doc_id) is exactly the
    * max(struct(score, -doc_id)) rule). */
  def clustersKeepBestSql: String =
    s"""WITH cl AS (SELECT doc_id, cluster_id FROM (${clustersSql(ngramJaccardSql)})),
       |qq AS (SELECT doc_id, score FROM (${TextOps.qualitySql})),
       |s AS (SELECT cl.doc_id, cl.cluster_id, qq.score FROM cl JOIN qq USING (doc_id)),
       |k AS (SELECT cluster_id, doc_id AS keeper_id FROM (
       |        SELECT cluster_id, doc_id,
       |               row_number() OVER (PARTITION BY cluster_id
       |                                  ORDER BY score DESC, doc_id) AS rn
       |        FROM s) WHERE rn = 1)
       |SELECT s.doc_id, s.cluster_id, s.score,
       |       s.doc_id = k.keeper_id AS keep, k.keeper_id
       |FROM s JOIN k USING (cluster_id)""".stripMargin

  /** DuckDB mirror of [[clusters]]: transitive closure via a recursive
    * CTE (labels walk the undirected edges; UNION dedup bounds the
    * closure at component-size² rows), min label per vertex = the
    * component minimum. The pair query rides in as a derived table. */
  def clustersSql(pairsSql: String): String =
    s"""WITH RECURSIVE __pairs AS (
       |  SELECT d1, d2 FROM ($pairsSql) __sp
       |),
       |__e AS (SELECT d1 AS a, d2 AS b FROM __pairs
       |        UNION ALL SELECT d2, d1 FROM __pairs),
       |__walk(v, lbl) AS (
       |  SELECT DISTINCT a, a FROM __e
       |  UNION
       |  SELECT __e.b, w.lbl FROM __walk w JOIN __e ON __e.a = w.v
       |),
       |__lab AS (SELECT v AS doc_id, min(lbl) AS cluster_id FROM __walk GROUP BY v)
       |SELECT doc_id, cluster_id,
       |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM __lab""".stripMargin

  val simhashNearDupSql: String = simhashNearDupSqlFor(shChunks, shChunkBits, shBucketCap)

  def simhashNearDupSqlFor(chunks: Int, chunkBits: Int, cap: Int): String = {
    val perHalf = shBits / chunkBits
    val sums = (0 until shBits).map { b =>
      s"sum(((h >> $b) & 1) * 2 - 1) AS s$b"
    }.mkString(",\n         ")
    val sums2 = (0 until shBits).map { b =>
      s"sum(((h2 >> $b) & 1) * 2 - 1) AS t$b"
    }.mkString(",\n         ")
    val packed = (0 until shBits).map { b =>
      s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    val packed2 = (0 until shBits).map { b =>
      s"CASE WHEN t$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    val chunkSelects = (0 until chunks).map { c =>
      val half = if (c / perHalf == 0) "sig" else "sig2"
      val off = (c % perHalf) * chunkBits
      s"SELECT doc_id, $c AS chunk, ($half >> $off) & ${(1L << chunkBits) - 1} AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val ham = "bit_count(xor(s1.sig, s2.sig)) + bit_count(xor(s1.sig2, s2.sig2))"
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, t
       |  FROM (SELECT doc_id, unnest(string_split($normTextSql, ' ')) AS t FROM documents)
       |),
       |th AS (SELECT doc_id, ${h60Sql("t")} AS h, ${h60Sql(s"'$shSalt' || t")} AS h2 FROM tok),
       |bitsums AS (
       |  SELECT doc_id,
       |         $sums,
       |         $sums2
       |  FROM th GROUP BY doc_id
       |),
       |sig AS (SELECT doc_id, $packed AS sig, $packed2 AS sig2 FROM bitsums),
       |chunks AS (
       |  $chunkSelects
       |),
       |capped AS (
       |  SELECT * FROM chunks
       |  QUALIFY count(*) OVER (PARTITION BY chunk, key) <= $cap
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM capped a JOIN capped b ON a.chunk = b.chunk AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id
       |)
       |SELECT c.d1, c.d2, CAST($ham AS BIGINT) AS hamming
       |FROM cand c JOIN sig s1 ON c.d1 = s1.doc_id JOIN sig s2 ON c.d2 = s2.doc_id
       |WHERE $ham <= ${chunks - 1}""".stripMargin
  }
}
