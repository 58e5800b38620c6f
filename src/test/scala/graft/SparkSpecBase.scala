package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt).
  * Mixes in Spark's `AdaptiveSparkPlanHelper`: its `collect(plan)` /
  * `collectWithSubqueries(plan)` descend into AQE wrappers and query
  * stages, so a plan pin sees every exchange of an adaptive plan
  * (`plan.collect` stops at the `AdaptiveSparkPlanExec` leaf and would
  * pass on any real shuffle). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterEach
    with AdaptiveSparkPlanHelper {

  /** Release TRACKED operator persists between tests — the same hygiene
    * Verify/Bench apply per query. Operators that hold a tracked persist
    * in a returned frame's lineage (e.g. Prep.keptCorpus's staged
    * barrier) document this as their caller contract; without it a long
    * suite accumulates InMemoryRelations. Process-level constants
    * (SparkEntry.refGraph) are deliberately NOT tracked and survive. */
  override protected def afterEach(): Unit = {
    CacheRegistry.unpersistAll()
    super.afterEach()
  }
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.warehouse.dir", "/tmp/graft_spec_warehouse")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Number of Spark jobs `body` starts. The bus is drained before the
    * listener is added (so no earlier job is counted) and again before
    * the count is read (so none of `body`'s jobs is missed). */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  /** Structural census of a physical plan: parquet scans, LeftSemi
    * joins, shuffle and broadcast exchanges, and reused exchanges. It
    * descends into adaptive plans and query stages (`collect`), and not
    * into a reused exchange, so what runs once counts once. Pass the plan
    * of a frame that has run: an adaptive plan shows its initial form,
    * with no reuse yet, until then. */
  def planCensus(plan: SparkPlan): PlanCensus = {
    val nodes = collect(plan) { case p => p }
    PlanCensus(
      scans = nodes.count {
        case f: FileSourceScanExec => f.relation.fileFormat.isInstanceOf[ParquetFileFormat]
        case _ => false
      },
      semijoins = nodes.count {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      },
      shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      reused = nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  /** Smallest driver-generated scale factor — fast enough for specs. */
  val sfDir = "/root/testdata/sf0.001"
}

/** Node counts of one physical plan; see [[SparkSpecBase.planCensus]]. */
case class PlanCensus(scans: Int, semijoins: Int, shuffles: Int, broadcasts: Int, reused: Int)
