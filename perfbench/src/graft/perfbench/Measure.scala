package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** A thread-safe sample set with nearest-rank percentiles. */
final class Hist {
  private val xs = new ConcurrentLinkedQueue[Double]()
  def add(x: Double): Unit = xs.add(x)
  def n: Int = xs.size
  def values: Array[Double] = xs.asScala.toArray.sorted
  def sum: Double = xs.asScala.sum
  def pct(q: Double): Double = Hist.pct(values, q)
  def p50: Double = pct(0.5)
  /** The highest percentile with at least ten samples beyond it (p99 from
    * 1,000 samples on; the largest below 20 samples, where no percentile
    * has ten beyond it), as (quantile, value). */
  def tail: (Double, Double) = {
    val q = Hist.tailQuantile(n)
    (q, pct(q))
  }
}

object Hist {
  def pct(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1,
      math.max(0, math.ceil(q * sorted.length).toInt - 1)))

  def tailQuantile(n: Int): Double =
    if (n < 20) 1.0
    else math.min(0.99, math.floor((n - 10).toDouble / n * 100) / 100)

  def median(xs: Seq[Double]): Double = pct(xs.sorted.toArray, 0.5)
}

/** GC time between `start` and `stop`, and the live heap after a full
  * collection forced at `stop`: unlike the occupancy after a young
  * collection, it does not depend on when the collector last ran, and pins
  * or caches nobody releases show up in it. */
final class HeapMonitor {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var gcMs0 = 0L
  private var gcMs1 = 0L
  private var liveMb = 0.0

  def start(): Unit = gcMs0 = gcMillis
  def stop(): Unit = {
    gcMs1 = gcMillis
    // the first collection lets Spark's ContextCleaner drop the blocks of
    // unreachable pins; the second reclaims them
    System.gc()
    Thread.sleep(300)
    System.gc()
    liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
  def gcMs: Double = (gcMs1 - gcMs0).toDouble
  def afterGcMb: Double = liveMb
  private def gcMillis: Long = beans.map(_.getCollectionTime).filter(_ >= 0).sum
}

/** One finished Spark job or task, with the call site of its stage and
  * the tag of the span that fired it. */
final case class TaskRec(endNs: Long, site: String, tag: String,
    runMs: Double, bytesRead: Long, recordsRead: Long, shuffleBytes: Long) {
  def layer: String = Layers.ofFile(site)
}
final case class JobRec(startNs: Long, endNs: Long, site: String,
    stages: Int, tag: String) {
  def layer: String = Layers.ofFile(site)
}

/** SparkListener that records jobs and tasks with their wall-clock times
  * (System.nanoTime at the listener), the call site Spark names each stage
  * after (e.g. `collect at ArchiveQuerier.scala:96`) and the tag the
  * calling thread set with [[JobStats.tagged]]. */
final class JobStats extends SparkListener {
  import JobStats.TagKey
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageSite = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int, String)]()
  private val events = new AtomicLong(0L)

  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  // a SQL execution is described by the call site of the action that
  // started it; the jobs adaptive execution submits from its own threads
  // name no call site, but carry the execution id
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, Layers.siteOf(s.description))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val tag = prop(TagKey).getOrElse("")
    val ofExecution = prop("spark.sql.execution.id")
      .flatMap(id => Option(execSite.get(id.toLong))).getOrElse("")
    // the final stage carries the action's call site
    val ofStage = e.stageInfos.sortBy(_.stageId).lastOption.map(s => Layers.siteOf(s.name))
      .getOrElse("")
    // Spark's parallel file listing names its job, not its stages
    val listing = prop("spark.job.description").exists(_.startsWith("Listing leaf files"))
    val site = if (listing) Layers.Listing else if (ofStage.nonEmpty) ofStage else ofExecution
    e.stageInfos.foreach { s =>
      val st = Layers.siteOf(s.name)
      stageSite.put(s.stageId, (if (listing) Layers.Listing else if (st.nonEmpty) st else ofExecution, tag))
    }
    jobStart.put(e.jobId, (System.nanoTime(), site, e.stageInfos.size, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach { case (t0, site, n, tag) =>
      jobs.add(JobRec(t0, System.nanoTime(), site, n, tag))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      val (site, tag) = Option(stageSite.get(e.stageId)).getOrElse(("", ""))
      tasks.add(TaskRec(System.nanoTime(), site, tag,
        m.executorRunTime.toDouble, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten))
    }
  }

  /** Wait until the listener has seen no event for 200 ms (events arrive
    * asynchronously, after the action that fired them returned). */
  def settle(): Unit = {
    var last = -1L
    while (events.get() != last) { last = events.get(); Thread.sleep(200) }
  }

  /** Jobs, stages, task ms, bytes and records read and shuffle bytes
    * written of the jobs fired under `tag`. */
  def byTag(tag: String): Window = {
    val ts = tasks.asScala.filter(_.tag == tag)
    val js = jobs.asScala.filter(_.tag == tag)
    Window(js.size, js.map(_.stages).sum, ts.map(_.runMs).sum,
      ts.map(_.bytesRead).sum, ts.map(_.recordsRead).sum, ts.map(_.shuffleBytes).sum)
  }

  /** Wall ms of the jobs fired under `tag` from call site `site`: the
    * union of their intervals. */
  def wallMs(tag: String, site: String): Double =
    unionMs(jobs.asScala.filter(j => j.tag == tag && j.site == site)
      .toSeq.map(j => (j.startNs, j.endNs)))

  /** One line per job: call site, layer, tag, start/end ns, stages. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try jobs.asScala.toSeq.sortBy(_.startNs).foreach { j =>
      w.println(s"""{"site":"${j.site}","layer":"${j.layer}","tag":"${j.tag}",""" +
        s""""start_ns":${j.startNs},"end_ns":${j.endNs},"stages":${j.stages}}""")
    } finally w.close()
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total / 1e6
  }
}

object JobStats {
  val TagKey = "perfbench.tag"

  /** Run `f` with every Spark job it fires on this thread tagged `tag`. */
  def tagged[T](sc: org.apache.spark.SparkContext, tag: String)(f: => T): T = {
    val old = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, old)
  }
}

final case class Window(jobs: Int, stages: Int, taskMs: Double, bytesRead: Long,
    recordsRead: Long, shuffleBytes: Long)

/** The repo's modules as layers, keyed by source file name: Spark names
  * each stage after the user call site that fired it. The map is the
  * package directory of each library source, written by the build. */
object Layers {
  private val byFile: Map[String, String] = {
    val in = getClass.getClassLoader.getResourceAsStream("perfbench-layers.tsv")
    require(in != null, "perfbench-layers.tsv missing from the class path: rebuild")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.split("\t")).collect { case Array(f, l) => f -> l }.toMap
    finally src.close()
  }

  private val Site = """.* at ([A-Za-z0-9_$]+)\.scala:\d+.*""".r

  /** The source file (without `.scala`) a stage name points at. */
  def siteOf(stageName: String): String = stageName match {
    case Site(file) => file
    case _ => ""
  }

  /** Spark's parallel file listing (more than 32 paths in one read). */
  val Listing = "listing"

  def ofFile(site: String): String =
    if (site == Listing) Listing else byFile.getOrElse(site, "other")
}

/** In-memory spans with a shared group id per request or batch, each
  * with its parent span on the same thread. Written out at exit. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val seq = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val group = new ThreadLocal[String] { override def initialValue() = "" }

  def withGroup[T](g: String)(f: => T): T = {
    val old = group.get(); group.set(g)
    try f finally group.set(old)
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = seq.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, group.get(), layer, name, t0, t1,
          Thread.currentThread().getName))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Duration samples (ms) of spans with this layer and name. */
  def durMs(layer: String, name: String): Seq[Double] =
    all.filter(s => s.layer == layer && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e6)

  def write(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"group":"${s.group}",""" +
        s""""layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"thread":"${s.thread}"}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, group: String, layer: String,
      name: String, startNs: Long, endNs: Long, thread: String)
}
