package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/**
 * Table loaders for the graft engine.
 *
 * All loaders are plain parquet/csv scans — column pruning and predicate
 * pushdown are left to Catalyst (verify with `.explain`: `ReadSchema` /
 * `PushedFilters`). Nothing here collects to the driver.
 */
object Tables {

  /** Session tuning we rely on everywhere (all dynamic SQLConf). */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // coalescePartitions.parallelismFirst stays at its default (true):
    // the r18 optimization round A/B'd =false (bytes-sized AQE
    // coalescing, guide §2.2/§9) on a 30-entry subset spanning the
    // anti-scaling class, dual mode: 59.7/62.2 -> 79.5/79.8 s. Byte-
    // based coalescing cannot see CPU density — it collapsed small-byte
    // but CPU-heavy post-shuffle stages to one task (wcoj_square's
    // hypercube probe 2.4 -> 16.4 s, text_langid_nb 0.59 -> 1.32,
    // text_tfidf 0.81 -> 1.31) for wins only on dedup_minhash and
    // wcoj_triangle. The anti-scaling class's overhead is per-stage
    // fixed cost, not coalescible partition count; see
    // OPTIMIZATION_r18.md.
    // preferSortMergeJoin stays at its default: the r17 optimization
    // round A/B'd =false on the join-heavy subset (18 entries, dual
    // mode) and measured no win (32.5/31.3 -> 35.1/34.9 s) — the hot
    // joins here either broadcast or are size-estimated too large for
    // the shuffled-hash pick; see OPTIMIZATION_r17.md.
    // events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
    // rejects; read as long and convert (see events()).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** Per-session memo of the RESOLVED base-table plans (r17-opt, guide
    * §6): `spark.read.parquet` pays a footer schema-read and a file
    * listing on every call, and the query builders call these loaders
    * several times per query — all inside the benched region. The memo
    * holds the LAZY DataFrame only (schema + file index — catalog-class
    * metadata, exactly what a real catalog caches); every action still
    * reads the parquet data itself. Keyed by session so a stopped
    * session's plans are never served to a new one (WeakHashMap: dropped
    * with the session), plus (dir, name). Base tables are immutable
    * inputs by contract — nothing in main or test writes to these paths. */
  private val tableMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]()

  /** The per-session (dir, key) plan memo [[table]] uses; `build` runs at
    * most once per (session, dir, key). */
  private def memoized(spark: SparkSession, dir: String, key: String)
                      (build: => DataFrame): DataFrame = {
    val perSession = tableMemo.synchronized {
      // r18 (ADVICE fix): the cached DataFrames strongly reference their
      // SparkSession (value→key strong ref — the documented WeakHashMap
      // pitfall), so entries for STOPPED sessions would be pinned for the
      // JVM lifetime. Purge them eagerly on access instead: a stopped
      // context can never serve these plans again. Cheap — the map holds
      // a handful of sessions at most.
      val it = tableMemo.keySet().iterator()
      while (it.hasNext) {
        val s = it.next()
        if (s != null && s.sparkContext.isStopped) it.remove()
      }
      var m = tableMemo.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
        tableMemo.put(spark, m)
      }
      m
    }
    // NOT computeIfAbsent: the fanout loaders' build calls [[table]],
    // which memoizes into the SAME map — a nested computeIfAbsent on one
    // ConcurrentHashMap throws "Recursive update" when a resize lands
    // mid-compute (bit EventStreamsSpec as a flake). get/putIfAbsent
    // tolerates the benign race: two threads may build the same LAZY
    // plan, one wins, no data is computed either way.
    val hit = perSession.get((dir, key))
    if (hit != null) hit
    else {
      val v = build
      val prev = perSession.putIfAbsent((dir, key), v)
      if (prev != null) prev else v
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    memoized(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** Gated round-robin spread ahead of HEAVY per-row string/codec work
    * (r18-opt — guide §2.5 "input skew — one huge unsplittable file …
    * repartition immediately after the read" / §8): a parquet file with
    * few row groups scans as a handful of effective tasks no matter how
    * many byte-range splits Spark cuts, so a downstream per-row pass
    * (shingles, minhash signatures, trigram explodes, codec decodes)
    * runs on one core while the rest idle.
    *
    * r17 placed this fanout in the documents LOADER; that taxed every
    * light-per-row consumer with an exchange it cannot amortize
    * (measured residue: mm_dedup 2.50→3.76 s, dedup_stream_flag_append
    * 2.92→3.78, text_langid_nb 0.91→1.66, dedup_bloom 0.63→0.94,
    * pipe_para_fuzzy hashed 1.68→2.74). It now sits INSIDE the heavy
    * operators (keptCorpus staging, the decontam gram explodes, the
    * char-trigram NB/LM chains, span dedup, the BPE vocab pass, the mm
    * feature codec), immediately ahead of the expensive per-row pass.
    *
    * The gate fires only when ALL of:
    *  - the frame is batch (never a streaming source);
    *  - its streamed lineage is exchange-free (post-shuffle frames are
    *    already spread across spark.sql.shuffle.partitions) and bottoms
    *    out in file scans (an in-memory relation has no input-layout
    *    problem to fix); broadcast subtrees are ignored — a broadcast
    *    side never determines the result's partitioning;
    *  - the scan's EFFECTIVE parallelism — min(splits, parquet row
    *    groups) — is below the session's defaultParallelism. Row groups,
    *    not just splits (r17 VERDICT item 6): a parquet scan runs at
    *    most one non-empty task per row group, so a single-row-group
    *    file BIGGER than cores × maxPartitionBytes passed the r17
    *    split-count gate and still scanned serially. Footer reads are
    *    memoized per file and short-circuited at the parallelism target,
    *    so the gate costs O(cores) footer reads once per file set, not a
    *    full listing pass.
    * At cluster scale (inputs with ≥cores row groups across ≥cores
    * splits) it never fires — no shuffle is ever added to a well-laid-
    * out input. Filters still push below the repartition
    * (PushPredicateThroughNonJoin), so pushdown-reliant consumers keep
    * their PushedFilters. */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    // cheap LOGICAL screen first: no file relation anywhere → nothing to
    // fix, and — load-bearing for lazily-constructed operators — the
    // optimizer must not even run (ConvertToLocalRelation EVALUATES
    // projections over local relations at optimize time; LmScoreSpec
    // pins that operator construction stays metadata-only)
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val hasFileScan = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] => l
    }.isDefined
    if (!hasFileScan) return df
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (effectiveScanParallelism(df, want) < want) df.repartition(want) else df
  }

  /** min(scan splits, parquet row groups) when `df` is an exchange-free
    * lineage over file scans; Int.MaxValue (the gate never fires)
    * otherwise. */
  private def effectiveScanParallelism(df: DataFrame, want: Int): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    // the EXECUTED plan (pre-execution: AQE's initial plan), NOT
    // queryExecution.sparkPlan — exchanges are only inserted by the
    // EnsureRequirements preparation, so the un-prepared plan would
    // read as exchange-free for every aggregate/join lineage
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // streamed-side walk: skip broadcast subtrees — their scans and any
    // exchanges inside them do not shape the result's partitioning
    def streamedShuffle(p: SparkPlan): Boolean = p match {
      case _: BroadcastExchangeLike => false
      case _: ShuffleExchangeLike => true
      case other => other.children.exists(streamedShuffle)
    }
    def streamedScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case _: BroadcastExchangeLike => Nil
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(streamedScans)
    }
    if (streamedShuffle(plan)) return Int.MaxValue
    val scans = streamedScans(plan)
    if (scans.isEmpty) return Int.MaxValue
    // max over scans: multiple streamed scans in one narrow plan are in
    // practice re-reads of the same file set (a corpus scan broadcast-
    // joined to a derived slice of itself); any scan already at ≥want
    // row groups means the widest input needs no spread
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val rgCap = scans.map(s => rowGroupsCapped(
      s.relation.location.listFiles(Nil, Nil).flatMap(_.files), conf, want)).max
    if (rgCap < want) rgCap
    else {
      // row groups clear the bar — splits decide. Read the SCANS' own
      // partition counts (sum: a union's parallelism adds), never
      // df.rdd: converting the full frame to an RDD would eagerly build
      // any broadcast side at gate time
      val splits = scans.map(s =>
        try s.inputRDD.getNumPartitions
        catch { case scala.util.control.NonFatal(_) => want }).sum
      math.min(splits, rgCap)
    }
  }

  /** Per-file parquet row-group counts, memoized on (path, length,
    * modification time) — a file rewritten in place re-reads its footer
    * (the listing's statuses are already cached by the scan's file
    * index, so the key costs no filesystem call). Cleared past
    * [[rgMemoCap]] entries so a long-lived process that keeps rewriting
    * files cannot grow it without bound. */
  private val rgMemo = new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Integer]()
  private val rgMemoCap = 4096
  private def rowGroupsCapped(
      files: Seq[org.apache.spark.sql.execution.datasources.FileStatusWithMetadata],
      conf: org.apache.hadoop.conf.Configuration, cap: Int): Int = {
    if (rgMemo.size > rgMemoCap) rgMemo.clear()
    var total = 0L
    val it = files.iterator
    while (it.hasNext && total < cap) {
      val f = it.next()
      total += rgMemo.computeIfAbsent((f.getPath.toString, f.getLen, f.getModificationTime),
        _ => Integer.valueOf(
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRowGroups.size finally r.close()
        } catch {
          // non-parquet or unreadable footer: no row-group information —
          // this file must not cap the estimate below the split count
          case scala.util.control.NonFatal(_) => cap
        })).intValue()
    }
    math.min(total, Int.MaxValue.toLong).toInt
  }

  /** Corpus-payload loader: a PLAIN scan again (r18 — the r17
    * loader-level fanout moved into the heavy operators; see
    * [[spread]]). */
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  // NO spread anywhere in embeddings lineages (r17-opt, measured like
  // events): the vector operators' per-ROW work is light (the heavy
  // lifting happens after joins/persists that are already post-shuffle
  // parallel), and the ANN family regressed ~1.7x in the r17 mid-round
  // sweep with the spread exchange in every embeddings lineage
  // (ann_graph_search_hnsw 8.6->13.7s, ann_ivfpq 2.6->4.4s) — the
  // spread pays only ahead of heavy per-row work.
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /**
   * Events with `ts` normalized to a millisecond-precision timestamp.
   * The raw column has been generated as TIMESTAMP(NANOS) (read as
   * nanos-since-epoch LongType), timezone-adjusted micros (TimestampType),
   * or naive micros (TimestampNTZType, what pyarrow `timestamp[us]`
   * becomes under Spark's parquet NTZ inference) across testdata
   * generations; all three truncate to the same ms-precision TIMESTAMP so
   * comparisons agree across engines. The session timezone is pinned to
   * UTC (see [[table]]), so the NTZ→TIMESTAMP cast is epoch-identity —
   * naive wall-clock values mean UTC, exactly how DuckDB reads the file.
   */
  // NO fanout on events (r17-opt, measured): its consumers (as-of /
  // band / interval joins, windowed aggregates) do LIGHT per-row work
  // and mostly broadcast or aggregate map-side — adding the spread
  // exchange doubled the family's isolated bench (4.6→9.3s count at
  // sf0.1) where documents' string-heavy consumers halved. Fanout pays
  // only ahead of expensive per-row work (guide §2.3/§8).
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    // integer `div`, NOT floor(x / N): ns-since-epoch exceeds 2^53, so a
    // double division can round the quotient up a full millisecond
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_millis(expr("ts div 1000000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          timestamp_millis(expr("unix_micros(cast(ts as timestamp)) div 1000")))
      case _ =>
        df.withColumn("ts", timestamp_millis(expr("unix_micros(ts) div 1000")))
    }
  }

  /**
   * Derived directed graph for the CQC graph queries (reference
   * examples/query/q1-q8 run on a `Graph(src,dst)` relation; our testdata
   * has no graph table, so we derive one deterministically from lineitem —
   * the oracle SQL uses the identical derivation).
   *
   * Kept degree-bounded across scale factors: one edge per sampled order.
   */
  def edges(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .where(col("l_linenumber") === 1 && col("l_orderkey") % 4 === 0)
      .select((col("l_orderkey") % 100).as("src"), (col("l_partkey") % 100).as("dst"))
      .distinct()

  /** The same derivation as ANSI SQL, reusable inside oracle queries. */
  val edgesSql: String =
    "SELECT DISTINCT l_orderkey % 100 AS src, l_partkey % 100 AS dst FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0"

  /**
   * Wide-domain sparse graph (2000x2000 keys): the dense 100-key graph
   * above makes every join key hot by construction, which says nothing
   * about sparse-graph behavior — this derivation exercises the
   * low-collision regime the same operators must also handle.
   */
  def edgesWide(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .where(col("l_linenumber") === 1)
      .select((col("l_orderkey") % 2000).as("src"), (col("l_partkey") % 2000).as("dst"))
      .distinct()

  val edgesWideSql: String =
    "SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst FROM lineitem WHERE l_linenumber = 1"

  /**
   * Power-law-skewed edge list: `dst = 1000 div (1 + l_orderkey % 1000)`
   * concentrates ~half of all rows on dst=1 (and a long tail of ever-
   * hotter low keys) — a deterministic zipf-ish hub distribution. This is
   * the input where a plain hash join puts half the build/probe work in
   * ONE task; the salted join (see [[graft.plans.Skew]]) or AQE skew
   * split must spread it.
   */
  def edgesSkewed(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select((col("l_orderkey") % 5000).as("src"),
        expr("1000 div (1 + l_orderkey % 1000)").as("dst"))

  val edgesSkewedSql: String =
    "SELECT l_orderkey % 5000 AS src, 1000 // (1 + l_orderkey % 1000) AS dst FROM lineitem"

  /**
   * Derived PARTSUPP for the TPC-H Q2/Q9/Q11/Q20 shapes (the reference's
   * TpchQueriesTest exercises them; our testdata ships no partsupp
   * table). One row per observed (partkey, suppkey) pair in lineitem,
   * with supply cost and available quantity derived DETERMINISTICALLY
   * from the keys so the DuckDB oracle reproduces them bit-for-bit.
   * Supply cost is kept in integral CENTS — all downstream arithmetic
   * stays exact until one final division.
   */
  def partsupp(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .withColumn("ps_supplycost_c",
        (col("ps_partkey") * 7 + col("ps_suppkey") * 13) % 9000 + 1000)
      .withColumn("ps_availqty",
        (col("ps_partkey") * 31 + col("ps_suppkey") * 17) % 500 + 1)

  val partsuppSql: String =
    """SELECT ps_partkey, ps_suppkey,
      |       (ps_partkey * 7 + ps_suppkey * 13) % 9000 + 1000 AS ps_supplycost_c,
      |       (ps_partkey * 31 + ps_suppkey * 17) % 500 + 1 AS ps_availqty
      |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |      FROM lineitem)""".stripMargin.replace("\n", " ")

  /**
   * Fixed-size example graphs for the reference's verbatim example
   * queries (examples/query/q1-q11 run on FIXED graph datasets whose
   * size is independent of any TPC-H scale factor). The orderkey cap
   * makes the derivation IDENTICAL at every sf >= 0.01 — example-query
   * cost must not grow with the corpus, exactly like the reference's.
   * Sparse 2000-key variant: paths/degree comparisons stay selective.
   */
  def edgesRef(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .where(col("l_linenumber") === 1 && col("l_orderkey") % 4 === 0 &&
        col("l_orderkey") < 16000)
      .select((col("l_orderkey") % 2000).as("src"), (col("l_partkey") % 2000).as("dst"))
      .distinct()

  val edgesRefSql: String =
    "SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0 AND l_orderkey < 16000"

  /** Denser 500-key variant of [[edgesRef]] — triangles exist, for the
    * cyclic example queries (q2/q10). */
  def edgesRefDense(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .where(col("l_linenumber") === 1 && col("l_orderkey") % 4 === 0 &&
        col("l_orderkey") < 16000)
      .select((col("l_orderkey") % 500).as("src"), (col("l_partkey") % 500).as("dst"))
      .distinct()

  val edgesRefDenseSql: String =
    "SELECT DISTINCT l_orderkey % 500 AS src, l_partkey % 500 AS dst FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0 AND l_orderkey < 16000"

  /**
   * Trade relation for the reference's example q9 (its only non-graph
   * example; a TPC-E-style trade table). Derived deterministically from
   * events: trade type from the event id (so one account holds both
   * buys and sells), symbol from the account, ms-precision timestamps.
   */
  def trade(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id").as("T_ID"),
      col("user_id").as("T_CA_ID"),
      concat(lit("S"), (col("user_id") % 20).cast("string")).as("T_S_SYMB"),
      when(col("event_id") % 3 === 0, "TMB")
        .when(col("event_id") % 3 === 1, "TLS")
        .otherwise("TMS").as("T_TT_ID"),
      col("ts").as("T_DTS"),
      col("value").as("T_TRADE_PRICE"))

  /** The same derivation for DuckDB, timestamps as epoch milliseconds
    * (the oracle compares ms arithmetic; 90 days = 7776000000 ms). */
  val tradeSqlMs: String =
    """SELECT event_id AS t_id, user_id AS t_ca_id,
      |       'S' || CAST(user_id % 20 AS VARCHAR) AS t_s_symb,
      |       CASE WHEN event_id % 3 = 0 THEN 'TMB'
      |            WHEN event_id % 3 = 1 THEN 'TLS'
      |            ELSE 'TMS' END AS t_tt_id,
      |       epoch_ns(ts) // 1000000 AS t_dts_ms,
      |       value AS t_trade_price
      |FROM events""".stripMargin.replace("\n", " ")

  /** Weighted graph for ranked (top-k) joins: edge rating = max quantity. */
  def ratedEdges(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .where(col("l_linenumber") === 1 && col("l_orderkey") % 4 === 0)
      .groupBy((col("l_orderkey") % 100).as("src"), (col("l_partkey") % 100).as("dst"))
      .agg(max(col("l_quantity")).as("rating"))

  val ratedEdgesSql: String =
    "SELECT l_orderkey % 100 AS src, l_partkey % 100 AS dst, CAST(max(l_quantity) AS DOUBLE) AS rating FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 4 = 0 GROUP BY 1, 2"

  /**
   * Bucketed write: pre-shuffle a relation into `nBuckets` sorted hash
   * buckets on the join keys. Two tables bucketed the same way join with
   * ZERO shuffle exchanges (see BucketingSpec) — the co-located-join
   * pattern for fact-fact joins repeated across a 100 TB pipeline, where
   * paying one bucketing write amortizes every later join/groupBy on the
   * same keys.
   */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int, keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /**
   * Partitioned parquet write: one directory per value combination of
   * `cols`. Reads that filter on a partition column scan ONLY the
   * matching directories (`PartitionFilters` in the plan — verified in
   * TablesSpec) — at 100 TB, date/source partitioning is what turns a
   * full-corpus scan into a single-partition read.
   */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /**
   * RANGE-CLUSTERED parquet write (r14) — the data-LAYOUT lever between
   * `partitionBy` (directory pruning on low-cardinality columns) and
   * `bucketBy` (join co-location): rows are range-partitioned on `key`
   * via a sampled range exchange and sorted within each partition, so
   * every output file covers a narrow, non-overlapping slice of the key
   * domain and the parquet footer min/max statistics become surgical. A
   * later scan with a `key` range predicate skips every non-overlapping
   * row group at the reader level (the pushed filter is evaluated
   * against footer stats before any page is decoded) — on a 100 TB
   * time-ordered event store this turns a 3-day query into a read of
   * ~3 days of files, the same discipline as Delta/Iceberg OPTIMIZE
   * ZORDER with one dimension. TablesSpec pins the contract: per-file
   * key ranges are pairwise disjoint and the range predicate reaches
   * `PushedFilters`.
   */
  def writeClustered(df: DataFrame, path: String, key: String, files: Int): Unit =
    writeClusteredBy(df, path, col(key), files)

  /** [[writeClustered]] over an arbitrary key EXPRESSION (the z-order
    * form passes [[zorderKey]]); the key never lands in the file — it
    * exists only in the exchange + in-partition sort. */
  def writeClusteredBy(df: DataFrame, path: String, key: Column, files: Int): Unit =
    df.repartitionByRange(files, key)
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(path)

  /**
   * SMALL-FILE COMPACTION (r14) — the other half of data layout
   * management: streaming ingests, partitioned writes, and incremental
   * appends accumulate files far below the optimal scan unit, and at
   * 100 TB the driver-side listing + per-file open cost of a
   * million-file table dominates the scan itself (the classic
   * small-files problem; Delta/Iceberg OPTIMIZE's compaction half).
   * Rewrites `dir` into `ceil(totalBytes / targetBytes)` files of
   * roughly `targetBytes` each. Returns (filesBefore, filesAfter).
   *
   * Sizing reads the FILESYSTEM listing (exact, no sampling); the
   * rewrite is one round-robin exchange — contents are re-binned, not
   * re-sorted, so pair compaction with [[writeClusteredBy]] when footer
   * pruning must survive (compact FIRST, cluster SECOND, or cluster
   * directly at the right file count).
   */
  def compact(spark: SparkSession, dir: String, outDir: String,
              targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "positive target size")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing (r14 review fix): a hive-partitioned directory —
    // the canonical small-files producer — holds its part-files under
    // key=value subdirectories; a flat listStatus would size it as 0
    // bytes and silently rewrite a multi-GB table into one file. Note
    // the rewrite still FLATTENS partition directories (the columns
    // survive in the files, the layout does not) — at scale, compact
    // per partition or re-partitionBy after.
    val it = fs.listFiles(path, true)
    var nIn = 0
    var totalBytes = 0L
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")) {
        nIn += 1
        totalBytes += st.getLen
      }
    }
    // overflow-safe ceil (r14 review fix): totalBytes + targetBytes can
    // wrap past Long.MaxValue for huge targets and mis-size the output
    val nOut = (if (totalBytes == 0) 1L
                else 1L + (totalBytes - 1) / targetBytes).toInt
    spark.read.parquet(dir).repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    val outParts = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
    (nIn, outParts)
  }

  /**
   * Z-ORDER (Morton) key of two bounded non-negative dimensions: bit i
   * of `a` lands at position 2i, bit i of `b` at 2i+1, so sorting by
   * the key clusters BOTH dimensions at once — each output file of a
   * [[writeClusteredBy]] covers a bounded rectangle in (a, b) space and
   * a range predicate on EITHER column prunes via footer min/max stats
   * (the multi-dimension generalization of single-key clustering;
   * Delta/Iceberg OPTIMIZE ZORDER). Both inputs must fit in `bits`
   * bits — the caller maps raw domains down (bucket, scale, or offset)
   * — and the fit is ENFORCED per row (r14 review fix): an input
   * outside [0, 2^bits) raises instead of silently truncating, because
   * truncation aliases distant keys onto the same curve position and a
   * negative sign-extends to all-ones — either way the clustering
   * quietly degenerates while every result stays correct-looking (one
   * scale-factor step past the caller's margin is all it takes). The
   * guard is two comparisons per row inside codegen.
   */
  def zorderKey(a: Column, b: Column, bits: Int = 16): Column = {
    def checked(c: Column, name: String): Column = {
      val wide = c.cast("long")
      when(wide < 0L || wide >= (1L << bits),
        raise_error(concat(
          lit(s"zorderKey: $name out of [0, 2^$bits): "), wide.cast("string"))))
        .otherwise(wide)
    }
    val (ca, cb) = (checked(a, "a"), checked(b, "b"))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(ca, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(cb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Bucketed parquet write: rows hash-bucketed (and sorted) by the join
    * key into `buckets` buckets, registered in the session catalog. The
    * co-location contract at 100 TB: two tables bucketed by the same key
    * into the same bucket count join with NO shuffle exchange on either
    * side — the scan itself satisfies the join's required distribution,
    * so the biggest join in a pipeline costs zero network. Hive-style
    * `partitionBy` (above) PRUNES; `bucketBy` CO-LOCATES — different
    * problems. (BucketingSpec asserts the exchange-free plan.) */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** CSV loader (the reference reads comma-separated `.dat` files). */
  def csv(spark: SparkSession, path: String, schemaDdl: String, delimiter: String = ","): DataFrame =
    tune(spark).read
      .option("delimiter", delimiter)
      .option("header", "false")
      .schema(schemaDdl)
      .csv(path)

  /** JSONL (newline-delimited JSON) write — the lingua franca of LLM
    * corpus interchange. One JSON object per line; Spark's json sink
    * escapes newlines/quotes/control chars, so arbitrary document text
    * round-trips byte-exactly. Splittable on read (line-delimited), so a
    * 100 TB corpus dump parallelizes like any text source. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Schema'd JSONL read. An EXPLICIT schema is the scale contract:
    * schema inference reads the whole input twice and widens types by
    * observation (non-deterministic under sampling at 100 TB); a declared
    * schema makes the scan single-pass with per-line projection pushdown
    * of only the referenced fields. */
  def readJsonl(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    tune(spark).read.schema(schemaDdl).json(path)

  /**
   * CDC MERGE (r14 wave 4) — Delta/Iceberg `MERGE INTO`, materialized as
   * ONE declarative plan: apply a change batch to a base snapshot.
   * `changes` carries the base schema plus `seqCol` (the change-log
   * position: monotonically increasing, UNIQUE per key — the caller's
   * CDC ordering contract; ties would break arbitrarily-but-
   * deterministically on the payload struct order) and `opCol`
   * (`'U'` upsert / `'D'` delete). Semantics:
   *
   *   - the LATEST change per key wins (a delete followed by a
   *     re-insert at a higher seq survives; an early update superseded
   *     by a later one disappears entirely);
   *   - base rows whose key appears in ANY change are replaced by that
   *     latest change (or dropped if it is a delete);
   *   - untouched base rows pass through unchanged.
   *
   * Latest-per-key is ONE map-side-combinable `max(struct(seq, op,
   * payload…))` aggregate — deliberately not a window: a hot key folds
   * in partial aggregates instead of sorting on one reducer (the closed
   * r13 single-reducer class). The merged result is
   * `base ANTI-JOIN changedKeys  UNION  latest WHERE op != 'D'`. At
   * 100 TB the change batch is typically executor-small next to the
   * snapshot, so AQE broadcasts the anti-join's key side and the base
   * NEVER crosses the network; the one exchange in the plan carries
   * only the change batch. Idempotent: re-applying the same batch is a
   * no-op (MergeSpec pins this plus the window-free plan).
   */
  def merge(base: DataFrame, changes: DataFrame, keys: Seq[String],
            seqCol: String = "seq", opCol: String = "op"): DataFrame =
    merge(base, changes, keys, seqCol, opCol, evolveSchema = false)

  /** SCHEMA EVOLUTION (r16 — Delta's `mergeSchema` contract, explicit
    * opt-in exactly as there): with `evolveSchema = true` a change
    * batch may carry payload columns the base lacks — the base
    * null-extends to the widened schema before the merge, so untouched
    * rows keep NULL in the new columns and upserts carry their values.
    * Columns may only be ADDED (the append-compatible direction);
    * a batch that DROPS base columns still fails loud either way, and
    * without the opt-in any extra column fails loud too — Delta's own
    * no-mergeSchema contract (NOTE, r16 behavior change: the pre-r16
    * merge silently DROPPED extra change columns, which hid feed
    * drift). Extras are detected CASE-INSENSITIVELY: under Spark's
    * default resolver `withColumn` REPLACES a case-colliding existing
    * column, so a feed column differing only in case must route to the
    * strict schema require (loud) rather than null out live data. */
  def merge(base: DataFrame, changes: DataFrame, keys: Seq[String],
            seqCol: String, opCol: String, evolveSchema: Boolean): DataFrame = {
    val extras = changes.columns
      .filterNot(c => base.columns.exists(_.equalsIgnoreCase(c)) ||
        c == seqCol || c == opCol).toSeq
    val base1 =
      if (extras.isEmpty) base
      else {
        require(evolveSchema,
          s"merge: changes carry columns the base lacks (${extras.mkString(", ")}) — " +
            "pass evolveSchema = true to widen the snapshot (Delta mergeSchema), " +
            "or fix the change feed")
        extras.foldLeft(base)((df, c) =>
          df.withColumn(c, lit(null).cast(changes.schema(c).dataType)))
      }
    val payload = base1.columns.filterNot(keys.contains).toSeq
    require((keys ++ payload ++ Seq(seqCol, opCol)).forall(changes.columns.contains),
      s"merge: changes must carry the base schema plus $seqCol/$opCol")
    val latest = changes
      .groupBy(keys.map(col): _*)
      .agg(max(struct((seqCol +: opCol +: payload).map(col): _*)).as("__last"))
      .select(keys.map(col) ++
        (opCol +: payload).map(c => col(s"__last.`$c`").as(c)): _*)
    val kept = base1.join(latest.select(keys.map(col): _*), keys, "left_anti")
    val upserts = latest.where(col(opCol) =!= "D")
      .select(base1.columns.toSeq.map(col): _*)
    kept.unionByName(upserts)
  }

  // ------------------------------------------------ streaming CDC apply

  /** Write the initial snapshot as version 0 of a versioned snapshot
    * store (`dir/v0`, `dir/v1`, … — each version a complete, immutable
    * parquet snapshot; the Delta-style layout minus the log file). */
  def initSnapshot(base: DataFrame, dir: String): Unit = {
    base.write.mode("overwrite").parquet(s"$dir/v0")
    writeSnapshotMeta(base.sparkSession, dir, 0L, "INIT")
    writeSnapshotManifest(base.sparkSession, dir)
  }

  /** Per-version commit metadata (r16 — the DESCRIBE HISTORY payload):
    * a 1-row `(version, operation, n_rows)` frame under `dir/meta/v<N>`,
    * written at commit time. The row count is a parquet footer-only
    * count of the JUST-WRITTEN version — metadata-cheap, and it records
    * what a reader will actually see rather than what the writer
    * intended. Meta lives OUTSIDE the version dir so the snapshot scan
    * stays a plain single-directory parquet read. */
  private def writeSnapshotMeta(s: SparkSession, dir: String, version: Long,
                                operation: String): Unit = {
    val n = s.read.parquet(s"$dir/v$version").count()
    s.range(1).select(lit(version).as("version"), lit(operation).as("operation"),
        lit(n).as("n_rows"))
      .write.mode("overwrite").parquet(s"$dir/meta/v$version")
  }

  /** Committed (`_SUCCESS`-marked) version numbers under a snapshot
    * store, listed through the path's Hadoop FileSystem — the store
    * must work wherever Spark writes (hdfs://, s3a://, file:), not just
    * the driver's local POSIX view. This is the DIRECTORY WALK — one
    * `listStatus` plus an existence probe per version, O(#versions)
    * round-trips. Readers go through [[snapshotVersions]], which serves
    * from the 1-file manifest instead. */
  private[sources] def snapshotVersionsWalk(s: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(1).toLong)
  }

  /** MANIFEST (r17 — VERDICT #5, Delta's `_last_checkpoint` discipline):
    * `dir/_manifest` is ONE file holding the committed version numbers,
    * rewritten by every mutation ([[initSnapshot]], [[applyChangeBatch]],
    * [[vacuumSnapshots]]) from the directory walk it replaces — so
    * [[readSnapshotAt]]/[[snapshotHistory]]/[[snapshotHistoryMeta]] stop
    * paying an O(#versions) listing per call at thousands of commits.
    * The manifest is a CACHE, not the commit point: it is written AFTER
    * the data commit via create-temp + rename, and any window where it
    * is stale or missing (crash between version write and manifest
    * update, the delete/rename gap) degrades readers to the walk or to
    * the previous committed view — never to a torn read. A replayed
    * commit (the streaming contract: same batch, same explicit parent)
    * heals it, because every mutation recomputes from the walk. */
  private def writeSnapshotManifest(s: SparkSession, dir: String,
                                    versions: Option[Seq[Long]] = None): Unit =
    graft.Artifact.writeManifest(s, dir,
      versions.getOrElse(snapshotVersionsWalk(s, dir)).sorted.map(_.toString))

  /** Committed versions as READERS see them: the 1-file manifest when
    * present (O(1) in version count), the directory walk when absent or
    * unreadable (pre-manifest stores, the rename gap, corruption —
    * the fallback is always correct, only slower). */
  private def snapshotVersions(s: SparkSession, dir: String): Seq[Long] =
    snapshotManifest(s, dir).getOrElse(snapshotVersionsWalk(s, dir))

  /** The manifest's committed-version content; None when absent OR
    * unreadable (both degrade the reader to the walk). Exposed for the
    * spec's manifest-equals-walk pin. */
  private[sources] def snapshotManifest(s: SparkSession, dir: String): Option[Seq[Long]] =
    graft.Artifact.readManifest(s, dir).flatMap(ls =>
      try Some(ls.map(_.toLong))
      catch { case _: NumberFormatException => None })

  /** Read the LATEST COMPLETE snapshot version: the highest `v<N>`
    * subdirectory carrying Spark's `_SUCCESS` commit marker. A version
    * mid-write (or torn by a crash) has no marker and is invisible to
    * readers — snapshot isolation from the filesystem contract alone. */
  def readSnapshot(s: SparkSession, dir: String): DataFrame = {
    val versions = snapshotVersions(s, dir)
    require(versions.nonEmpty, s"no complete snapshot version under $dir")
    s.read.parquet(s"$dir/v${versions.max}")
  }

  /** TIME TRAVEL (r15): read the snapshot `VERSION AS OF version` — the
    * named committed version, exactly as written. The store keeps every
    * version as a complete immutable snapshot, so time travel is a plain
    * path read: no log replay, no reconstruction, and pruning/pushdown
    * work on the old version like any parquet scan. Uncommitted or
    * missing versions fail loudly (a torn write has no `_SUCCESS` and is
    * invisible to [[snapshotVersions]]). */
  def readSnapshotAt(s: SparkSession, dir: String, version: Long): DataFrame = {
    require(snapshotVersions(s, dir).contains(version),
      s"snapshot v$version not committed under $dir")
    s.read.parquet(s"$dir/v$version")
  }

  /** Committed versions, oldest first — the public listing surface for
    * time travel (`DESCRIBE HISTORY`'s skeleton). */
  def snapshotHistory(s: SparkSession, dir: String): Seq[Long] =
    snapshotVersions(s, dir).sorted

  /** DESCRIBE HISTORY (r16): one `(version, operation, n_rows)` row per
    * COMMITTED version, from the per-commit meta frames. Versions
    * written before the meta surface existed (or whose meta was lost)
    * still list, with NULL operation/n_rows — history never hides a
    * readable version; stray meta of a vacuumed version never shows (the
    * committed list is the driver). */
  def snapshotHistoryMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val versions = snapshotHistory(s, dir).toDF("version")
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = metaPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaPath))
      versions.select(col("version"),
        lit(null).cast("string").as("operation"),
        lit(null).cast("long").as("n_rows"))
    else {
      val meta = s.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/meta")
      versions.join(meta, Seq("version"), "left")
        .select(col("version"), col("operation"), col("n_rows"))
    }
  }

  // -------------------------------------------- snapshot retention (r16)

  /** Register a reader pin on a committed version: a marker file under
    * `dir/pins/` that [[vacuumSnapshots]] refuses to delete across. A
    * long-running job pins the version it resolved before scanning it —
    * the Delta/Iceberg "don't vacuum under an active reader" contract
    * made explicit (this store has no transaction coordinator, so the
    * pin IS the registration). `token` namespaces concurrent readers. */
  def pinSnapshot(s: SparkSession, dir: String, version: Long,
                  token: String): Unit = {
    require(token.matches("[A-Za-z0-9._-]+"), s"unsafe pin token: $token")
    require(snapshotVersions(s, dir).contains(version),
      s"cannot pin uncommitted snapshot v$version under $dir")
    val p = new org.apache.hadoop.fs.Path(s"$dir/pins/v$version-$token")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.create(p, true).close()
  }

  /** Release a reader pin (idempotent). */
  def unpinSnapshot(s: SparkSession, dir: String, version: Long,
                    token: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/pins/v$version-$token")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    ()
  }

  private def pinnedVersions(s: SparkSession, dir: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/pins")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+-.*") =>
        n.drop(1).takeWhile(_.isDigit).toLong }
      .toSet
  }

  /**
   * VACUUM (r16 — the retention half of the store's lifecycle): delete
   * every committed version older than the newest `keepLast`, EXCEPT
   * versions a reader pinned ([[pinSnapshot]]) — deleting under an
   * active reader is the failure mode Delta's retention window exists
   * for. The newest version is always kept (`keepLast >= 1`); each
   * deleted version drops its data dir and its meta row, so
   * [[snapshotHistoryMeta]] and time travel stay consistent. Returns
   * the versions actually deleted.
   */
  def vacuumSnapshots(s: SparkSession, dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"must keep at least the latest version, got $keepLast")
    val vs = snapshotVersions(s, dir).sorted
    val keep = vs.takeRight(keepLast).toSet ++ pinnedVersions(s, dir)
    val doomed = vs.filterNot(keep)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // manifest ordering (r17 review find): unlike a commit, a vacuum has
    // no replay to heal a stale manifest — so the SURVIVOR list is
    // written BEFORE any dir is deleted. A crash mid-delete then leaves
    // a manifest that under-lists (readers see only survivors, all of
    // which exist) instead of one that lists deleted versions forever;
    // the final rewrite from the walk merely reconciles leftovers.
    if (doomed.nonEmpty) {
      writeSnapshotManifest(s, dir, Some(vs.filterNot(doomed.contains)))
      doomed.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v$v"), true)
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/meta/v$v"), true)
      }
      writeSnapshotManifest(s, dir)
    }
    doomed
  }

  /**
   * COLUMN RENAME as a store commit (r17 — the evolution direction r16
   * refused loudly): commits version latest+1 whose data is the parent
   * snapshot with `oldName` renamed to `newName`; history records
   * `RENAME(old->new)` and CDC reads across the rename map the old
   * side before diffing ([[snapshotChanges]]). In this full-snapshot
   * store a rename costs exactly what every commit costs — one version
   * write (Delta makes renames metadata-only via column mapping
   * because its versions SHARE data files; ours are immutable complete
   * snapshots by design, so there is no shared physical schema to
   * remap, and the usual commit is already a full rewrite). Key
   * columns refuse: they name the merge identity. Case-colliding
   * targets refuse for the same reason as the merge's evolution guard.
   */
  def renameSnapshotColumn(s: SparkSession, dir: String, oldName: String,
                           newName: String, keys: Seq[String]): Long = {
    // parent from the WALK, not the manifest (r17 review find): a stale
    // manifest (crash between a commit and its manifest update) would
    // otherwise resolve a parent BELOW a committed version and silently
    // overwrite it; mutations trust the walk, exactly as the manifest
    // heal does. Schema commits also assume exclusive write access —
    // a store fed by a LIVE mergeStreaming sink owns its version
    // sequence (batchId+1), and an interleaved schema commit would be
    // overwritten by the next micro-batch: quiesce the sink first.
    require(oldName.matches("[A-Za-z0-9_.]+") && newName.matches("[A-Za-z0-9_.]+"),
      s"rename: column names must be plain identifiers, got '$oldName'->'$newName'")
    val vs = snapshotVersionsWalk(s, dir)
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    val parent = vs.max
    val cur = s.read.parquet(s"$dir/v$parent")
    require(cur.columns.contains(oldName),
      s"rename: no column $oldName in snapshot v$parent")
    require(!keys.contains(oldName),
      s"rename: $oldName is a merge key — keys name the row identity")
    require(!cur.columns.exists(_.equalsIgnoreCase(newName)),
      s"rename: target $newName case-collides with an existing column")
    val version = parent + 1
    cur.withColumnRenamed(oldName, newName)
      .write.mode("overwrite").parquet(s"$dir/v$version")
    writeSnapshotMeta(s, dir, version, s"RENAME($oldName->$newName)")
    appendSchemaOp(s, dir, version, s"RENAME($oldName->$newName)")
    writeSnapshotManifest(s, dir)
    version
  }

  /** COLUMN DROP as a store commit (r17): same contract as
    * [[renameSnapshotColumn]] — history records `DROP(name)`, CDC
    * across the drop diffs over the surviving schema, keys refuse, and
    * the last payload column refuses (a keys-only snapshot has no
    * change signal left to merge on). */
  def dropSnapshotColumn(s: SparkSession, dir: String, name: String,
                         keys: Seq[String]): Long = {
    // walk-resolved parent + identifier guard + single-writer contract:
    // see [[renameSnapshotColumn]]
    require(name.matches("[A-Za-z0-9_.]+"),
      s"drop: column names must be plain identifiers, got '$name'")
    val vs = snapshotVersionsWalk(s, dir)
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    val parent = vs.max
    val cur = s.read.parquet(s"$dir/v$parent")
    require(cur.columns.contains(name),
      s"drop: no column $name in snapshot v$parent")
    require(!keys.contains(name),
      s"drop: $name is a merge key — keys name the row identity")
    require(cur.columns.count(!keys.contains(_)) > 1,
      s"drop: $name is the last payload column")
    val version = parent + 1
    cur.drop(name).write.mode("overwrite").parquet(s"$dir/v$version")
    writeSnapshotMeta(s, dir, version, s"DROP($name)")
    appendSchemaOp(s, dir, version, s"DROP($name)")
    writeSnapshotManifest(s, dir)
    version
  }

  private val renameOpRe = "RENAME\\((.+)->(.+)\\)".r
  private val dropOpRe = "DROP\\((.+)\\)".r

  /** Append one schema-op record (`"<version> <op>"`) to the
    * driver-side `_schema_ops` file via the temp+rename discipline.
    * The file is deliberately SEPARATE from the per-version meta and
    * untouched by vacuum: a rename version may be vacuumed away while
    * versions on both sides of it survive, and a CDC read across that
    * range still needs the rename record ([[schemaOpsBetween]]); it is
    * also a plain driver-side read, so replaying ops costs no Spark
    * job on the serve path (r17 pin find: the meta-frame read added
    * ~0.4s to every snapshotChanges call). */
  private def appendSchemaOp(s: SparkSession, dir: String,
                             version: Long, op: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_schema_ops")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/_schema_ops.bak")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prior = readSchemaOpsFile(fs, p, bak).getOrElse("")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dir/_schema_ops.tmp-${java.util.UUID.randomUUID().toString}")
    val out = fs.create(tmp, true)
    out.write((prior + s"$version $op\n").getBytes("UTF-8"))
    out.close()
    // crash-safe swap (r17 review find — this file is a SOURCE OF
    // TRUTH with no heal path, unlike the manifest): the previous
    // content retires to .bak before the new file renames in, so every
    // crash window leaves either the live file or the backup readable;
    // readers fall back to .bak when the live file is mid-swap
    if (fs.exists(p)) {
      fs.delete(bak, false)
      require(fs.rename(p, bak), s"schema-op backup rename failed under $dir")
    }
    require(fs.rename(tmp, p), s"schema-op commit rename failed under $dir")
    fs.delete(bak, false)
    ()
  }

  private def readSchemaOpsFile(fs: org.apache.hadoop.fs.FileSystem,
                                p: org.apache.hadoop.fs.Path,
                                bak: org.apache.hadoop.fs.Path): Option[String] = {
    val src = if (fs.exists(p)) Some(p) else if (fs.exists(bak)) Some(bak) else None
    src.map { sp =>
      val bytes = new Array[Byte](fs.getFileStatus(sp).getLen.toInt)
      val in = fs.open(sp)
      try in.readFully(0L, bytes) finally in.close()
      new String(bytes, "UTF-8")
    }
  }

  /** Schema operations committed in version range (fromV, toV], oldest
    * first — a driver-side file read (no Spark job on the CDC serve
    * path); stores without the file (pre-rename stores) contribute
    * nothing. */
  private def schemaOpsBetween(s: SparkSession, dir: String,
                               fromV: Long, toV: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_schema_ops")
    val bak = new org.apache.hadoop.fs.Path(s"$dir/_schema_ops.bak")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    readSchemaOpsFile(fs, p, bak) match {
      case None => Seq.empty
      case Some(content) =>
        content.split("\n").toSeq
          .map(_.trim).filter(_.nonEmpty)
          .map { line =>
            val sp = line.indexOf(' ')
            (line.take(sp).toLong, line.drop(sp + 1))
          }
          // range predicate only — WHICH op strings replay is the
          // consumer's single authority (its match has a keep-as-is
          // fallback); filtering here too invited silent drift
          .filter { case (v, _) => v > fromV && v <= toV }
          .sortBy(_._1).map(_._2)
    }
  }

  /**
   * CDC READ (r15) — Delta's `table_changes(from, to)`: the net row
   * changes between two committed versions, derived from the snapshots
   * themselves (the store keeps full versions, so the diff is one
   * full-outer key join — no log replay):
   *
   *   - key in `to` with a payload differing from `from` (or absent
   *     there) → one `'U'` row carrying the NEW payload;
   *   - key only in `from` → one `'D'` row carrying the old payload;
   *   - unchanged rows (null-safe struct equality) emit nothing.
   *
   * NET semantics by construction: an update superseded within the
   * version range shows only its final state, an insert-then-delete
   * shows nothing — the right contract for downstream re-sync. Both
   * snapshot scans prune to `keys ++ payload`; the join shuffles only
   * the two versions being compared.
   */
  def snapshotChanges(s: SparkSession, dir: String, keys: Seq[String],
                      fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    val a00 = readSnapshotAt(s, dir, fromV)
    val b = readSnapshotAt(s, dir, toV)
    // schema operations in the range (r17): replay recorded
    // RENAME/DROP commits onto the OLD side so the diff compares like
    // with like — a row unchanged across a pure rename emits NOTHING
    // (the rename is a schema event, not a row change), a value change
    // after the rename keys on the new name, and a dropped column
    // simply leaves the diff (Delta's column-mapping read semantics)
    val a0 = schemaOpsBetween(s, dir, fromV, toV).foldLeft(a00) { (df, op) =>
      op match {
        case renameOpRe(o, n) if df.columns.contains(o) =>
          df.withColumnRenamed(o, n)
        case dropOpRe(c) if df.columns.contains(c) => df.drop(c)
        case _ => df
      }
    }
    // schema evolution (r16): beyond the recorded operations the store
    // only ever ADDS columns (merge's evolveSchema contract), so the
    // replayed older schema must be a subset of the newer's —
    // null-extend the old side and diff over the widened schema (a row
    // whose only change is a value in a new column emits a 'U', exactly
    // Delta's read); any other drift still fails loud
    val missing = b.columns.filterNot(a0.columns.contains).toSeq
    require(a0.columns.forall(b.columns.contains),
      s"snapshot schema drift between v$fromV and v$toV: " +
        s"v$toV lacks ${a0.columns.filterNot(b.columns.contains).mkString(", ")}")
    val a = missing.foldLeft(a0)((df, c) =>
      df.withColumn(c, lit(null).cast(b.schema(c).dataType)))
    val payload = a.columns.filterNot(keys.contains).toSeq
    val af = a.select(keys.map(col) :+ struct(payload.map(col): _*).as("__from"): _*)
    val bf = b.select(keys.map(col) :+ struct(payload.map(col): _*).as("__to"): _*)
    af.join(bf, keys, "full_outer")
      .where(!(col("__from") <=> col("__to")))
      .select(keys.map(col) ++
        Seq(when(col("__to").isNotNull, lit("U")).otherwise(lit("D")).as("op")) ++
        payload.map(c => when(col("__to").isNotNull, col(s"__to.`$c`"))
          .otherwise(col(s"__from.`$c`")).as(c)): _*)
  }

  /** Apply one CDC change batch on top of snapshot `version - 1` and
    * commit the result as `version`. The parent is addressed EXPLICITLY
    * (never "the latest"): after a crash between the version write and
    * the stream's offset commit, the replayed batch must re-merge onto
    * its original parent — reading the latest would hand it its own
    * output, which is both semantically wrong (the batch applies twice
    * if merge ever becomes non-idempotent) and physically fatal (Spark
    * refuses to overwrite a path it is reading). With the explicit
    * parent a retry is safe twice over: re-merging the same batch onto
    * the same parent is the identical frame, and re-writing the version
    * dir just replaces it. */
  def applyChangeBatch(batch: DataFrame, keys: Seq[String], snapshotDir: String,
                       version: Long, evolveSchema: Boolean = false): Unit = {
    require(version >= 1, s"version 0 is the initSnapshot base, got $version")
    val s = batch.sparkSession
    require(snapshotVersions(s, snapshotDir).contains(version - 1),
      s"parent snapshot v${version - 1} not committed under $snapshotDir")
    val merged = merge(s.read.parquet(s"$snapshotDir/v${version - 1}"), batch, keys,
      "seq", "op", evolveSchema)
    merged.write.mode("overwrite").parquet(s"$snapshotDir/v$version")
    // evolved commits record their own operation so DESCRIBE HISTORY
    // shows WHERE the schema widened
    writeSnapshotMeta(s, snapshotDir, version,
      if (evolveSchema) "MERGE+SCHEMA" else "MERGE")
    writeSnapshotManifest(s, snapshotDir)
  }

  /**
   * STREAMING CDC apply — the Delta `MERGE INTO` sink as a Structured
   * Streaming query: each micro-batch of changes folds into the
   * versioned snapshot store via [[applyChangeBatch]] (version =
   * batchId + 1; version 0 is the [[initSnapshot]] base). Stateless by
   * design: the snapshot IS the state, the checkpoint only tracks
   * source offsets, so a restart resumes from the last committed
   * version with no state-store recovery. The batch entry `stream_merge`
   * replays the identical fold batch-by-batch and hash-verifies the
   * final snapshot against the ONE-SHOT merge oracle — sequential
   * application must equal single-batch application when the change
   * log is seq-ordered across batches (MergeSpec pins the streaming
   * run itself over a real MemoryStream).
   */
  def mergeStreaming(changes: DataFrame, keys: Seq[String], snapshotDir: String,
                     checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyChangeBatch(batch, keys, snapshotDir, batchId + 1)
      }
      .start()

  /**
   * Deterministic CDC change batch over `orders` for the `src_merge`
   * entry (the corpus ships no change log, so one derives from the keys
   * — the oracle SQL mirrors the derivation literally). Exercises every
   * merge path: updates (`%10==3` → status P, +1000), deletes
   * (`%10==7`), inserts (fresh keys offset by 10^6), a SECOND update
   * superseding the first (`%20==3` → status Q, +3000 — latest-wins),
   * and a re-insert after a delete (`%40==7` → status R). (key, seq)
   * is unique by construction: the seq-1 sets are disjoint mod 10 and
   * the insert keys are offset out of range.
   */
  def ordersChanges(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
    def ch(filter: Column, seq: Long, op: String, key: Column,
           status: Column, price: Column): DataFrame =
      o.where(filter).select(key.as("o_orderkey"), lit(seq).as("seq"),
        lit(op).as("op"), col("o_custkey"), status.as("o_orderstatus"),
        price.as("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    ch(col("o_orderkey") % 10 === 3, 1L, "U", col("o_orderkey"),
        lit("P"), col("o_totalprice") + 1000.0)
      .unionByName(ch(col("o_orderkey") % 10 === 7, 1L, "D", col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
      .unionByName(ch(col("o_orderkey") % 100 === 11, 1L, "U",
        col("o_orderkey") + 1000000L, lit("N"), col("o_totalprice") * 2.0))
      .unionByName(ch(col("o_orderkey") % 20 === 3, 2L, "U", col("o_orderkey"),
        lit("Q"), col("o_totalprice") + 3000.0))
      .unionByName(ch(col("o_orderkey") % 40 === 7, 2L, "U", col("o_orderkey"),
        lit("R"), col("o_totalprice")))
  }

  /** The three SEQ-1 change-log branches as SQL — ONE definition shared
    * by [[mergeOrdersSql]] and [[mergeOrdersPrefixSql]] so the
    * derivation can never drift between the full and prefix oracles
    * (r15 review fix; it must also stay in lockstep with
    * [[ordersChanges]]). `withSeq` adds the seq column the full oracle's
    * latest-wins window needs. */
  private def seq1BranchesSql(withSeq: Boolean): String = {
    val s1 = if (withSeq) "1 AS seq, " else ""
    val s = if (withSeq) "1, " else ""
    s"""SELECT o_orderkey, $s1'U' AS op, o_custkey, 'P' AS o_orderstatus,
       |         o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 10 = 3
       |  UNION ALL
       |  SELECT o_orderkey, $s'D', o_custkey, o_orderstatus, o_totalprice,
       |         o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 10 = 7
       |  UNION ALL
       |  SELECT o_orderkey + 1000000, $s'U', o_custkey, 'N', o_totalprice * 2.0,
       |         o_orderdate, o_orderpriority
       |  FROM orders WHERE o_orderkey % 100 = 11""".stripMargin
  }

  /** The identical change batch + merge as ANSI SQL (DuckDB oracle).
    * Latest-per-key mirrors as a row_number window — fine in the
    * oracle, which only has to be CORRECT, not scale. */
  lazy val mergeOrdersSql: String =
    s"""WITH ch AS (
      |  ${seq1BranchesSql(withSeq = true)}
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U', o_custkey, 'Q', o_totalprice + 3000.0,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 20 = 3
      |  UNION ALL
      |  SELECT o_orderkey, 2, 'U', o_custkey, 'R', o_totalprice,
      |         o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 40 = 7
      |), latest AS (
      |  SELECT * FROM (
      |    SELECT ch.*, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      |    FROM ch) WHERE rn = 1
      |), merged AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM latest WHERE op <> 'D'
      |)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |       epoch_ns(o_orderdate) // 1000000 AS odate_ms, o_orderpriority
      |FROM merged""".stripMargin

  /** The v1→v2 net change rows as SQL: both version states re-derived
    * from the SHARED change-log builders (so this oracle moves in
    * lockstep with the store), full-outer compared per key — the
    * `src_merge_changes` oracle. */
  lazy val mergeOrdersChangesSql: String = {
    val payload = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "odate_ms", "o_orderpriority")
    val picks = payload.map(c =>
      s"       CASE WHEN v2.o_orderkey IS NOT NULL THEN v2.$c ELSE v1.$c END AS $c")
      .mkString(",\n")
    val diff = payload.map(c => s"v1.$c IS DISTINCT FROM v2.$c")
      .mkString("\n   OR ")
    s"""WITH v1 AS (SELECT * FROM ($mergeOrdersPrefixSql)),
       |v2 AS (SELECT * FROM ($mergeOrdersSql))
       |SELECT coalesce(v2.o_orderkey, v1.o_orderkey) AS o_orderkey,
       |       CASE WHEN v2.o_orderkey IS NOT NULL THEN 'U' ELSE 'D' END AS op,
       |$picks
       |FROM v2 FULL OUTER JOIN v1 ON v1.o_orderkey = v2.o_orderkey
       |WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       |   OR $diff""".stripMargin
  }

  /** The seq-1 PREFIX of the change log applied to the base — what the
    * versioned store holds at v1, for the `src_merge_travel` time-travel
    * entry. Each key appears at most once in the prefix (the seq-1 sets
    * are disjoint mod 10 and inserts are offset out of range), so no
    * latest-wins dedup CTE is needed. */
  lazy val mergeOrdersPrefixSql: String =
    s"""WITH ch AS (
      |  ${seq1BranchesSql(withSeq = false)}
      |), merged AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |  FROM ch WHERE op <> 'D'
      |)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |       epoch_ns(o_orderdate) // 1000000 AS odate_ms, o_orderpriority
      |FROM merged""".stripMargin

  /** Corrupt-tolerant JSONL ingest: malformed lines land in a
    * `_quarantine` column (Spark PERMISSIVE mode's corrupt-record
    * capture) instead of aborting the read or silently dropping — at
    * 100 TB a feed WILL contain breakage, and the quarantine split
    * (`_quarantine IS NULL` = clean rows; the rest re-route to a
    * dead-letter sink with the offending line intact) is the standard
    * ingest contract. FAILFAST remains the right mode for
    * already-validated internal data (readJsonl above). */
  def readJsonlQuarantine(
      spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    tune(spark).read
      .schema(schemaDdl + ", _quarantine STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .json(path)
}
