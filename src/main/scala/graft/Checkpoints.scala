package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative operators (graph builds, beam
  * walks, CC propagation, BPE rounds), with the reliability trade
  * stated ONCE (r18 — VERDICT item 7).
  *
  * `localCheckpoint` stores the truncated lineage in EXECUTOR-LOCAL
  * storage: no distributed-filesystem round-trip, but the checkpoint
  * dies with its executor — on a real cluster an executor loss makes
  * every frame checkpointed there unrecoverable mid-query, and the
  * whole walk/build restarts. In this repo's local[(N)] bench the
  * executor IS the driver process, so the trade costs nothing and
  * stays the default.
  *
  * Set `spark.graft.checkpoint.dir=<fs path>` (a dynamic SQLConf; any
  * HDFS/S3/posix path visible to every executor) to switch EVERY
  * iterative operator to reliable checkpoints: each truncation then
  * writes to and re-reads from that directory, surviving executor
  * loss — the right choice for multi-hour 100 TB jobs where re-running
  * a build dwarfs the checkpoint I/O. Default unchanged locally.
  *
  * Reliable-mode caveats: the context's checkpoint dir is (re)set under
  * a lock whenever the conf value changes; superseded checkpoints are
  * reclaimed only with `spark.cleaner.referenceTracking.cleanCheckpoints
  * =true` set at context start; and a LAZY reliable checkpoint
  * (`eager = false`) of an unpersisted frame recomputes that frame when
  * the checkpoint job runs after its first action — persist it first if
  * it is expensive.
  */
object Checkpoints {
  val dirKey = "spark.graft.checkpoint.dir"

  /** The (context, conf value) the checkpoint dir was last set for;
    * guarded by `this`. */
  private var setFor: Option[(SparkContext, String)] = None

  /** Truncate `df`'s lineage: reliable checkpoint when [[dirKey]] is
    * set, executor-local otherwise. `eager` as in Dataset.checkpoint. */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(dirKey).filter(_.nonEmpty) match {
      case Some(d) =>
        val sc = spark.sparkContext
        synchronized {
          if (!setFor.contains((sc, d))) { sc.setCheckpointDir(d); setFor = Some((sc, d)) }
        }
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
  }
}
