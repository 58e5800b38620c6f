package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

/** `Par.all` fail-fast: the first failure stops its siblings — plain
  * threads are interrupted, Spark jobs are cancelled — and `all` returns
  * only after every sibling has ended. */
class ParSpec extends SparkSpecBase {

  test("a failure interrupts a sleeping sibling and awaits it before rethrowing") {
    val flag = new AtomicBoolean(false)
    val ended = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    // the failure waits until the sibling is inside its try: a sibling
    // cancelled before it starts never runs, and tests nothing here
    val started = new CountDownLatch(1)
    // the interrupted sibling takes 200 ms to end (a spin, which a second
    // interrupt cannot cut short), so a return that does not await it
    // finds `ended` unset
    def windDown(): Unit = {
      val until = System.nanoTime() + 200000000L
      while (System.nanoTime() < until) Thread.onSpinWait()
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.all(Seq[() => Unit](
        () => try { started.countDown(); Thread.sleep(5000); flag.set(true) }
              finally { windDown(); ended.set(true) },
        () => { started.await(); throw boom }))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e eq boom, "the original cause must propagate")
    assert(ended.get, "Par.all returned while a sibling was still running")
    assert(!flag.get, "the sibling ran to completion instead of being stopped")
    assert(secs < 4.0, f"fail-fast took $secs%.1f s")
  }

  test("a failure cancels the Spark job a sibling is running") {
    // session start-up stays on this thread: interrupting class
    // initialization inside a pool thread would poison the JVM
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      Par.all(Seq[() => Long](
        // ~5 s of work per task, killable between records
        () => sc.parallelize(0 until 400, 4)
          .map { i => Thread.sleep(50); i }.count(),
        () => { Thread.sleep(500); throw new IllegalStateException("boom") }))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 4.0, f"Par.all waited $secs%.1f s for the sibling's job")
    Thread.sleep(1000)
    assert(sc.statusTracker.getActiveJobIds().isEmpty,
      "the sibling's job kept running after the failure")
  }

  test("results keep input order") {
    assert(Par.all((1 to 5).map(i => () => { Thread.sleep(10L * (5 - i)); i })) == (1 to 5))
  }
}
