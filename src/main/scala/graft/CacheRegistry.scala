package graft

import org.apache.spark.sql.DataFrame

/**
 * Session-lifetime tracking of the DataFrames persisted INSIDE graft
 * operators (Yannakakis materialization points, rank-join reduced sides,
 * dedup shingle indexes, WCOJ certificate bags). Those operators persist
 * intermediates that several downstream passes re-read, but the result
 * they return is still lazy — so they cannot unpersist before returning
 * without losing the benefit. Instead every internal persist is routed
 * through [[persistTracked]], and callers release them all with
 * [[unpersistAll]] once a result is materialized (Verify and Bench do
 * this per query). Without that, cached plans would accumulate executor
 * memory for the lifetime of the session.
 */
object CacheRegistry {
  /** A tracked frame, with its place in the tracking order, the thread
    * that tracked it, and whether its persist created the cache entry
    * (false: an identical plan was already cached, and the entry is
    * shared). */
  private final case class Tracked(seq: Long, thread: Thread, df: DataFrame, fresh: Boolean)
  private val tracked = scala.collection.mutable.ArrayBuffer[Tracked]()
  private var seq = 0L

  /** Persist `df` and remember it for [[unpersistAll]]. */
  def persistTracked(df: DataFrame): DataFrame = synchronized {
    val fresh = df.sparkSession.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty
    val p = df.persist()
    seq += 1
    tracked += Tracked(seq, Thread.currentThread(), p, fresh)
    p
  }

  /** Unpersist every tracked DataFrame (non-blocking) and forget them. */
  def unpersistAll(): Unit = synchronized {
    tracked.foreach(_.df.unpersist(blocking = false))
    tracked.clear()
  }

  /** Number of currently tracked (persisted, unreleased) DataFrames. */
  def trackedCount: Int = synchronized(tracked.size)

  /** The current position in the tracking order, for [[releaseSince]]. */
  def mark: Long = synchronized(seq)

  /** Forget exactly the frames the calling thread tracked after `mark`,
    * unpersisting (non-blocking) the cache entries those persists created
    * — how a dry run that only plans (e.g. the SQL door's explain)
    * releases its own persists without dropping an entry it shares with
    * an earlier execution of the same plan. */
  def releaseSince(mark: Long): Unit = synchronized {
    val me = Thread.currentThread()
    val (mine, rest) = tracked.partition(t => t.seq > mark && (t.thread eq me))
    mine.filter(_.fresh).foreach(_.df.unpersist(blocking = false))
    tracked.clear()
    tracked ++= rest
  }
}
