package graft

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from a bounded thread pool (guide
  * §2.6: the scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because the driver calls
  * them sequentially, and under the default FIFO scheduling a later
  * job's tasks back-fill executors freed by the current job's straggler
  * tail). Used where an operator runs several independent build
  * pipelines (HNSW's three layer graphs) or stages several independent
  * tables of one [[Artifact]].
  *
  * Results keep input order; a failure propagates with its ORIGINAL
  * exception. Concurrent materialization of a shared persisted frame is
  * safe: the block manager locks per partition.
  *
  * FAIL-FAST: the first failure (in completion order) stops every
  * sibling before it is rethrown — their Spark jobs are cancelled by a
  * per-call job tag (interrupting a thread blocked in an action does not
  * stop its job), their threads are interrupted, and `all` returns only
  * once the pool has terminated, so a retry never races a write left
  * running by the failed attempt.
  */
object Par {
  def all[A](tasks: Seq[() => A]): Seq[A] = {
    if (tasks.lengthCompare(2) < 0) return tasks.map(_())
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(tasks.size)
    val done = new ExecutorCompletionService[A](pool)
    try {
      val futs = tasks.map(t => done.submit(new Callable[A] {
        override def call(): A = { sc.foreach(_.addJobTag(tag)); t() }
      }))
      for (_ <- tasks) {
        try done.take().get()
        catch {
          case e: ExecutionException =>
            sc.foreach(_.cancelJobsWithTag(tag))
            futs.foreach(_.cancel(true))
            throw e.getCause
        }
      }
      futs.map(_.get())
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
