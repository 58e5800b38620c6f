package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._

/** Additive Spark work counters; a layer's share is the difference of two
  * snapshots taken around it. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes, inputRecords - o.inputRecords)
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, inputBytes + o.inputBytes, inputRecords + o.inputRecords)
}

/** Counts the Spark work the benchmark's calls cause: jobs, stages, tasks,
  * task time, shuffle and scan bytes, and per stage the ratio of its
  * slowest task to its median task. Only attached in traced runs. */
final class SparkWork extends SparkListener {
  private var total = Work()
  private val stageTaskMs = scala.collection.mutable.HashMap[(Int, Int), ArrayBuffer[Long]]()
  private val skews = ArrayBuffer[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total = total.copy(jobs = total.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    total = total.copy(tasks = total.tasks + 1)
    if (m != null) {
      val sr = m.shuffleReadMetrics
      total = total.copy(
        runMs = total.runMs + m.executorRunTime,
        cpuNs = total.cpuNs + m.executorCpuTime,
        gcMs = total.gcMs + m.jvmGCTime,
        shuffleWriteBytes = total.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = total.shuffleReadBytes + sr.localBytesRead + sr.remoteBytesRead,
        spillBytes = total.spillBytes + m.diskBytesSpilled,
        inputBytes = total.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = total.inputRecords + m.inputMetrics.recordsRead)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total = total.copy(stages = total.stages + 1)
    stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ms =>
      if (ms.size >= 2) skews += Stats.maxOverMedian(ms.map(_.toDouble).toSeq)
    }
  }

  /** Counters after every event posted so far has been delivered, with
    * the number of multi-task stages completed so far. */
  def snapshot(sc: SparkContext): (Work, Int) = {
    BusDrain.drain(sc)
    synchronized((total, skews.size))
  }

  /** Worst max/median task-time ratio among the multi-task stages that
    * completed between two snapshots (1.0 when there were none). */
  def worstSkew(fromMark: Int, toMark: Int): Double = synchronized {
    skews.slice(fromMark, toMark).foldLeft(1.0)(math.max)
  }
}
