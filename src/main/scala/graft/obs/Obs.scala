package graft.obs

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** The session every main builds, the release every harness runs between
  * queries, and the one metrics collector they all read. */
object Obs {

  /** Local property naming the operator behind a job; set by
    * [[graft.operators.Checkpoints.pin]] around its action. */
  val OpKey = "graft.op"

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, else the box's. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC, no
    * UI, log level ERROR and the engine's SQL functions registered.
    * `extraConf` is applied last, so it can override any of these. */
  def session(app: String, extraConf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .appName(app)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.functions.register(spark)
    spark
  }

  /** Drop every persisted RDD (pins included: `catalog.clearCache` does
    * not free localCheckpoint blocks) and every cached plan, so one
    * query's leftovers cannot slow the next. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  private val collectors = new java.util.WeakHashMap[SparkSession, Collector]

  /** The session's collector, installed on first use and reused after. */
  def collector(spark: SparkSession): Collector = collectors.synchronized {
    collectors.computeIfAbsent(spark, { s =>
      val c = new Collector(s.sparkContext)
      // the session's execution-listener bus joins the shared queue no
      // later than this register, so it stays ahead of the SparkListener
      s.listenerManager.register(c)
      s.sparkContext.addSparkListener(c)
      c
    })
  }

  /** Run `body` with the jobs it fires on this thread tagged `op`, then
    * restore the previous tag (none when there was none). */
  def tagged[A](sc: SparkContext, op: String)(body: => A): A = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }
}

/** One job of a scope: the operator (or call site) that fired it, its
  * wall seconds and the stages it ran (skipped stages excluded). */
final case class Job(op: String, seconds: Double, stages: Int)

/** What one measured scope cost. `planMs` is the optimisation and
  * planning time of the scope's SQL executions, from each one's own
  * planning tracker; `exchanges` and `scans` (source reads) are counted
  * in their final plans. `residualBlocks` is the RDD blocks still held
  * by persisted RDDs when the scope ended. `finalPlan` is the executed
  * plan of its last SQL execution; it holds that execution's broadcasts,
  * so keep the counters, not the Scope, past the next query. */
final case class Scope(constructMs: Double, planMs: Double, execMs: Double,
    jobs: Seq[Job], stages: Int, taskMs: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, exchanges: Int, scans: Int,
    residualBlocks: Int, finalPlan: Option[SparkPlan]) {
  def wallSec: Double = (constructMs + execMs) / 1e3

  def json: String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{compact, render}
    compact(render(("construct_ms" -> constructMs) ~ ("plan_ms" -> planMs) ~
      ("exec_ms" -> execMs) ~ ("jobs" -> jobs.size) ~ ("stages" -> stages) ~
      ("task_ms" -> taskMs) ~ ("shuffle_read_bytes" -> shuffleReadBytes) ~
      ("shuffle_write_bytes" -> shuffleWriteBytes) ~
      ("spill_bytes" -> spillBytes) ~ ("exchanges" -> exchanges) ~
      ("scans" -> scans) ~ ("residual_blocks" -> residualBlocks) ~
      ("per_job" -> jobs.map(j =>
        ("op" -> j.op) ~ ("sec" -> j.seconds) ~ ("stages" -> j.stages)))))
  }
}

/** A SparkListener plus a QueryExecutionListener that account jobs,
  * stages, task metrics and SQL executions to the scope that fired them.
  * A scope is a job tag on the measuring thread, so jobs from other
  * threads and sessions stay out of it, and the jobs Spark fires from its
  * own threads for the scope (broadcasts, subqueries) stay in. The
  * collector fires no job and plans nothing: the numbers come from the
  * events and the plans the scope's own executions already made. */
final class Collector private[obs] (sc: SparkContext) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private final class Acc {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    var stages, exchanges, scans = 0
    var taskMs, shuffleRead, shuffleWrite, spill = 0L
    var planMs = 0.0
    var finalPlan: Option[SparkPlan] = None
  }
  private final class LiveJob(val acc: Acc, val op: String, val start: Long,
      val stageIds: Seq[Int]) {
    var ran = 0
  }

  private val ids = new AtomicLong
  private val scopes = new ConcurrentHashMap[String, Acc]
  // listener state: written and read on the bus thread only, and read by
  // the measuring thread after drain()
  private val liveJobs = new ConcurrentHashMap[Int, LiveJob]
  private val stageOwner = new ConcurrentHashMap[Int, LiveJob]
  private val executions = new ConcurrentHashMap[Long, (Acc, String)]
  // the execution the session's listener bus just reported: its End event
  // reaches this listener next (Obs.collector registers the bus first)
  private var ended: Option[(QueryExecution, Boolean)] = None
  private val blocks = ConcurrentHashMap.newKeySet[RDDBlockId]()
  private val barriers = new ConcurrentHashMap[Int, CountDownLatch]

  /** Build with `build`, run `action` on the result and return what both
    * cost together; `constructMs` and `execMs` split the wall between
    * them. An exception propagates after the scope is closed. */
  def measure[A](build: => A)(action: A => Unit): Scope = {
    val tag = s"graft-obs-${ids.incrementAndGet()}"
    val acc = new Acc
    scopes.put(tag, acc)
    sc.addJobTag(tag)
    try {
      val t0 = System.nanoTime()
      val built = build
      val t1 = System.nanoTime()
      action(built)
      val t2 = System.nanoTime()
      sc.removeJobTag(tag)
      drain()
      def ms(ns: Long) = ns / 100000 / 10.0
      Scope(ms(t1 - t0), acc.planMs, ms(t2 - t1), acc.jobs.toList,
        acc.stages, acc.taskMs, acc.shuffleRead, acc.shuffleWrite, acc.spill,
        acc.exchanges, acc.scans, residualBlocks(), acc.finalPlan)
    } finally {
      sc.removeJobTag(tag)
      scopes.remove(tag)
    }
  }

  /** RDD blocks stored since the collector was installed and still held
    * by a persisted RDD. */
  def residualBlocks(): Int = {
    val live = sc.getPersistentRDDs.keySet
    blocks.removeIf(b => !live.contains(b.rddId))
    blocks.size
  }

  /** Wait until the bus has delivered every event posted before the
    * call, to every listener on the shared queue. Unpersisting a
    * never-persisted RDD posts one UnpersistRDD event behind them on the
    * same queue, and fires no job. */
  def drain(): Unit = {
    val marker = sc.emptyRDD[Unit]
    val seen = new CountDownLatch(1)
    barriers.put(marker.id, seen)
    marker.unpersist(blocking = false)
    seen.await(30, TimeUnit.SECONDS)
    barriers.remove(marker.id)
  }

  private def scopeOf(tags: Iterable[String]): Option[Acc] =
    tags.iterator.flatMap(t => Option(scopes.get(t))).nextOption()

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    Option(barriers.get(e.rddId)).foreach(_.countDown())

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case b: RDDBlockId =>
        if (e.blockUpdatedInfo.storageLevel.isValid) blocks.add(b)
        else blocks.remove(b)
      case _ =>
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        .filter(_.nonEmpty)
    scopeOf(prop("spark.job.tags").toSeq.flatMap(_.split(','))).foreach {
      acc =>
        // the result stage names the action's call site; a job Spark
        // submits from its own thread names none, so its SQL execution's
        // call site stands in
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
          .getOrElse("")
        val op = prop(Obs.OpKey)
          .orElse(Some(site).filter(_.contains(".scala:")))
          .orElse(prop("spark.sql.execution.id")
            .flatMap(id => Option(executions.get(id.toLong))).map(_._2))
          .getOrElse(site)
        val job = new LiveJob(acc, op, e.time, e.stageIds)
        liveJobs.put(e.jobId, job)
        e.stageIds.foreach(stageOwner.putIfAbsent(_, job))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { job =>
      job.ran += 1
      val acc = job.acc
      acc.stages += 1
      Option(e.stageInfo.taskMetrics).foreach { m =>
        acc.taskMs += m.executorRunTime
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.diskBytesSpilled
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(liveJobs.remove(e.jobId)).foreach { job =>
      job.stageIds.foreach(stageOwner.remove(_, job))
      job.acc.jobs += Job(job.op, (e.time - job.start) / 1e3, job.ran)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      scopeOf(s.jobTags).foreach(acc =>
        executions.put(s.executionId, (acc, s.description)))
    case end: SparkListenerSQLExecutionEnd =>
      val reported = ended
      ended = None
      for ((acc, _) <- Option(executions.remove(end.executionId));
           (qe, ok) <- reported) account(acc, qe, ok)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = ended = Some((qe, true))

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ended = Some((qe, false))

  // a failed execution's plan may never have been built: only its
  // planning time is read, so the failure cannot trigger a planning pass
  private def account(acc: Acc, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    acc.planMs += Seq(QueryPlanningTracker.OPTIMIZATION,
      QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
    if (ok) {
      val plan = qe.executedPlan
      acc.exchanges += collectWithSubqueries(plan) {
        case x: ShuffleExchangeLike => x
        case x: BroadcastExchangeLike => x
      }.size
      acc.scans += collectWithSubqueries(plan) {
        case x: DataSourceScanExec => x
        case x: DataSourceV2ScanExecBase => x
      }.size
      acc.finalPlan = Some(plan)
    }
  }
}
