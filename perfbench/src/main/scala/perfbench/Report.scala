package perfbench

import scala.collection.immutable.ListMap

/** A named number with its unit. */
final case class Metric(value: Double, unit: String) {
  require(!value.isNaN && !value.isInfinite, s"non-finite metric value $value")
}

/** Turns the passes of one run into the end-to-end metrics (untraced
  * passes) or the per-layer metrics (traced passes), plus a detail line
  * and per-execution trace rows. */
final case class Report(workload: Workload, o: Options, setupS: Seq[Double],
                        passes: Seq[Pass], peakRssMb: Double) {
  private val timed = passes.filter(_.kind == "timed")
  private val untracedTimed = timed.filterNot(_.traced)
  private val tracedTimed = timed.filter(_.traced)
  private val samples = untracedTimed.flatMap(_.execs.map(_.wallS))
  private val tail = Stats.tail(samples)
  private val allExecs = passes.flatMap(_.execs)
  val failures: Seq[Exec] = allExecs.filterNot(_.ok)

  /** Median latency of each entry over the untraced timed passes. */
  val entryMedianS: ListMap[String, Double] = ListMap(workload.entries.map(e => e.name ->
    Stats.median(untracedTimed.flatMap(_.execs).filter(_.entry == e.name).map(_.wallS))): _*)

  // A pass is the sum of its entries' median latencies: a slow moment of
  // the host then costs one execution's sample, not a whole pass's. The
  // cold pass, one sample per run, is reported in the detail line only.
  def endToEnd: ListMap[String, Metric] = ListMap(
    "setup_s" -> Metric(Stats.median(setupS), "s"),
    "pass_s" -> Metric(entryMedianS.values.sum, "s"))

  /** Per-pass layer totals, as the median over traced timed passes. */
  def perLayer: ListMap[String, Metric] = {
    def med(unit: String)(f: Pass => Double) = Metric(Stats.median(tracedTimed.map(f)), unit)
    def sum(p: Pass)(f: Exec => Double) = p.execs.map(f).sum
    def art(layer: String)(p: Pass) = sum(p)(_.artifactS.getOrElse(layer, 0.0))
    def work(p: Pass): Work = p.execs.map(e => e.build + e.exec).foldLeft(Work())(_ + _)
    val mb = 1024.0 * 1024.0
    val untracedPass = Stats.median(untracedTimed.map(_.wallS))
    ListMap(
      "build.s" -> med("s")(sum(_)(_.buildS)),
      "build.jobs" -> med("count")(sum(_)(_.build.jobs.toDouble)),
      "build.share" -> med("ratio")(p => sum(p)(_.buildS) / p.wallS),
      "plan.s" -> med("s")(sum(_)(_.planS)),
      "exec.s" -> med("s")(sum(_)(_.execS)),
      "exec.jobs" -> med("count")(sum(_)(_.exec.jobs.toDouble)),
      "sched.stages" -> med("count")(work(_).stages.toDouble),
      "sched.tasks" -> med("count")(work(_).tasks.toDouble),
      "sched.tasks_per_stage" -> med("ratio")(p =>
        work(p).tasks.toDouble / math.max(1L, work(p).stages)),
      "sched.util" -> med("ratio")(p => work(p).runMs / 1e3 / (p.wallS * o.cores)),
      "task.run_s" -> med("s")(work(_).runMs / 1e3),
      "task.cpu_s" -> med("s")(work(_).cpuNs / 1e9),
      "task.gc_s" -> med("s")(work(_).gcMs / 1e3),
      "task.skew_max" -> med("ratio")(_.execs.map(_.skew).max),
      "shuffle.write_mb" -> med("MB")(work(_).shuffleWriteBytes / mb),
      "shuffle.read_mb" -> med("MB")(work(_).shuffleReadBytes / mb),
      "shuffle.spill_mb" -> med("MB")(work(_).spillBytes / mb),
      "scan.input_mb" -> med("MB")(work(_).inputBytes / mb),
      "scan.rows_per_result" -> med("ratio")(p =>
        work(p).inputRecords.toDouble / math.max(1L, p.execs.map(_.rows).sum)),
      "cache.tracked" -> med("count")(sum(_)(_.cacheTracked.toDouble)),
      "cache.storage_mb" -> med("MB")(sum(_)(_.cacheStorageBytes / mb)),
      "artifact.write_s" -> med("s")(art("write")),
      "artifact.append_s" -> med("s")(art("append")),
      "artifact.read_s" -> med("s")(art("read")),
      "artifact.serve_s" -> med("s")(art("serve")),
      "artifact.bytes_mb" -> med("MB")(sum(_)(_.artifactBytes / mb)),
      "artifact.files" -> med("count")(sum(_)(_.artifactFiles.toDouble)),
      "artifact.stored_ratio" -> med("ratio")(p =>
        sum(p)(_.artifactBytes.toDouble) / math.max(1.0, sum(p)(_.indexedBytes.toDouble))),
      "trace.overhead_s" -> Metric(Stats.median(tracedTimed.map(_.wallS)) - untracedPass, "s"),
      "trace.count_drift" -> Metric(countDrift.toDouble, "count"))
  }

  /** Traced timed passes whose exact per-entry job, stage and task counts
    * differ from the first traced pass's. */
  def countDrift: Int = {
    def counts(p: Pass) = p.execs.map(e =>
      e.entry -> (e.build.jobs, e.exec.jobs, (e.build + e.exec).stages, (e.build + e.exec).tasks)).toMap
    tracedTimed.map(counts).drop(1).count(_ != counts(tracedTimed.head))
  }

  def metrics: ListMap[String, Metric] = if (o.trace) perLayer else endToEnd

  def resultJson: String = Json.render(ListMap(
    "correct" -> failures.isEmpty,
    "attempted" -> allExecs.size,
    "failed" -> failures.size,
    "metrics" -> metrics.map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) }))

  def detailJson: String = Json.render(ListMap(
    "workload" -> workload.name,
    "seed" -> o.seed,
    "cores" -> o.cores,
    "traced" -> o.trace,
    "setup_s" -> setupS,
    "peak_rss_mb" -> peakRssMb,
    "passes" -> passes.map(p => ListMap("kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS)),
    // per-execution latency tail, by the rule of at least ten samples
    // beyond the reported percentile (None: too few samples for any)
    "query_tail" -> ListMap(
      "value_s" -> tail.map(_._2),
      "percentile" -> tail.map(_._1),
      "samples" -> samples.size,
      "beyond" -> tail.map(t => samples.count(_ > t._2))),
    "entry_median_s" -> entryMedianS,
    "failures" -> failures.map(e => ListMap("pass" -> e.pass, "entry" -> e.entry,
      "error" -> e.error.getOrElse("")))))

  /** One row per execution, for finding which entry moved a layer total. */
  def traceJson: String = Json.render(passes.flatMap(p => p.execs.map { e =>
    val w = e.build + e.exec
    ListMap(
      "pass" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "entry" -> e.entry,
      "build_s" -> e.buildS, "plan_s" -> e.planS, "exec_s" -> e.execS,
      "build_jobs" -> e.build.jobs, "exec_jobs" -> e.exec.jobs,
      "stages" -> w.stages, "tasks" -> w.tasks, "task_run_s" -> w.runMs / 1e3,
      "shuffle_write_bytes" -> w.shuffleWriteBytes, "input_bytes" -> w.inputBytes,
      "skew_max" -> e.skew, "rows" -> e.rows, "digest" -> e.digest,
      "artifact_s" -> e.artifactS, "artifact_bytes" -> e.artifactBytes,
      "error" -> e.error)
  }))
}
