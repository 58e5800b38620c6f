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
  private val tracked = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Persist `df` and remember it for [[unpersistAll]]. */
  def persistTracked(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    tracked += p
    p
  }

  /** Unpersist every tracked DataFrame (non-blocking) and forget them. */
  def unpersistAll(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false))
    tracked.clear()
  }

  /** Number of currently tracked (persisted, unreleased) DataFrames. */
  def trackedCount: Int = synchronized(tracked.size)
}
