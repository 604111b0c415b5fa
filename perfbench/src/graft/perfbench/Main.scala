package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** What one workload needs: the session, the seed, where to write, how
  * many client threads (one per core) and the Spark listener. */
final case class Ctx(spark: SparkSession, seed: Long, work: String,
    nproc: Int, jobs: JobStats)

/** One measured segment: operations attempted and failed, the primary
  * operation's latency samples and its throughput. */
final case class Measured(attempted: Long, failed: Long, opMs: Hist,
    opsPerS: Double, info: Map[String, String], failures: Seq[String])

/** A workload: set up (timed), measure for a number of seconds
  * (optionally traced), then report per-layer numbers and run its
  * end-of-run checks. */
trait Workload {
  /** Build inputs and state, warm up. */
  def setup(): Unit
  def measure(seconds: Double, tracer: Tracer): Measured
  /** Per-layer metrics of the traced segment just measured. */
  def layers(tracer: Tracer): Map[String, Double]
  /** End-of-run result checks (failures as messages). */
  def finalChecks(): Seq[String] = Nil
  def close(): Unit = ()
}

object Main {

  private val t00 = System.nanoTime()
  /** Phase progress on stderr. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t00) / 1e9}%7.2fs $msg")

  /** End-to-end metrics, printed by every `--trace 0` run. The primary
    * operation is an HTTP request (archive_read), a pushed file becoming
    * visible (archive_ingest) or a query (battery). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ops_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
    "op_tail_ms" -> "ms",
    "heap_after_gc_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    // a traced run measures three segments (untraced, traced, untraced)
    // and reports no end-to-end metric, so each gets half the time
    val segment = if (trace) seconds / 2 else seconds
    val nproc = opt("nproc").toInt
    val work = opt("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(nproc, work)
    val jobs = new JobStats
    spark.sparkContext.addSparkListener(jobs)
    val ctx = Ctx(spark, seed, work, nproc, jobs)
    val w: Workload = workload match {
      case "archive_read" => new ArchiveRead(ctx)
      case "archive_ingest" => new ArchiveIngest(ctx)
      case "battery" => new Battery(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val heap = new HeapMonitor
    var exit = 0
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val cpu0 = CpuSteal.read()
      w.setup()
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      log("set up")
      val cpu1 = CpuSteal.read()
      heap.start()
      val m = w.measure(segment, new Tracer(false))
      log("timed segment done")
      heap.stop()
      val cpu2 = CpuSteal.read()
      log("measured")
      val (tailQ, tail) = m.opMs.tail
      val e2e = Map(
        "setup_s" -> setupS,
        "ops_per_s" -> m.opsPerS,
        "op_p50_ms" -> m.opMs.p50,
        "op_tail_ms" -> tail,
        "heap_after_gc_mb" -> heap.afterGcMb)
      var attempted = m.attempted
      var failed = m.failed
      var failures = m.failures
      val metrics: Seq[(String, Double, String)] =
        if (!trace) EndToEnd.map { case (n, u) => (n, e2e(n), u) }
        else {
          val tracer = new Tracer(true)
          val t0 = System.nanoTime()
          heap.start()
          val mt = w.measure(segment, tracer)
          heap.stop()
          jobs.settle()
          val t1 = System.nanoTime()
          val layers = w.layers(tracer) ++ common(jobs, heap, spark, t0, t1)
          // untraced again: comparing the traced segment with the mean of
          // the untraced ones before and after cancels a steady warm-up drift
          val m2 = w.measure(segment, new Tracer(false))
          for (x <- Seq(mt, m2)) {
            attempted += x.attempted
            failed += x.failed
            failures ++= x.failures
          }
          val ls = layers ++ Map(
            "trace.overhead_p50_pct" -> pctDiff(mt.opMs.p50, (m.opMs.p50 + m2.opMs.p50) / 2),
            "trace.overhead_ops_pct" -> pctDiff((m.opsPerS + m2.opsPerS) / 2, mt.opsPerS))
          val spansFile = s"${opt("out")}/spans-$workload-$seed.jsonl"
          tracer.write(spansFile)
          jobs.write(s"${opt("out")}/jobs-$workload-$seed.jsonl")
          log(s"spans and jobs written to ${opt("out")}")
          PerLayer.all.map { case (n, u) => (n, ls.getOrElse(n, 0.0), u) }
        }
      val checks = w.finalChecks()
      failed += checks.size
      failures ++= checks
      failures.take(20).foreach(f => System.err.println(s"perfbench: CHECK FAILED: $f"))
      val info = m.info ++ Map("op_tail_quantile" -> f"$tailQ%.2f",
        "op_samples" -> m.opMs.n.toString, "session_s" -> f"$sessionS%.2f",
        "setup_cpu_steal_pct" -> CpuSteal.pct(cpu0, cpu1),
        "cpu_steal_pct" -> CpuSteal.pct(cpu1, cpu2))
      println(stampLine(opt, info))
      println(resultLine(failed == 0, math.max(math.max(1L, attempted), failed), failed, metrics))
      if (failed > 0) exit = 1
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 2
    } finally {
      scala.util.Try(w.close())
      spark.stop()
    }
    System.exit(exit)
  }

  private def pctDiff(a: Double, b: Double): Double =
    if (b == 0) 0.0 else (a / b - 1) * 100

  /** Per-layer numbers every workload has: task time by call-site layer,
    * GC time and cached blocks left behind. */
  private def common(jobs: JobStats, heap: HeapMonitor, spark: SparkSession,
      t0: Long, t1: Long): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val ts = jobs.tasks.asScala.filter(t => t.endNs >= t0 && t.endNs <= t1)
    val byLayer = ts.groupBy(_.layer).map { case (l, xs) => s"callsite.$l.task_s" -> xs.map(_.runMs).sum / 1e3 }
    byLayer ++ Map(
      "jvm.gc_ms" -> heap.gcMs,
      "spark.residual_cached_blocks" ->
        spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum.toDouble)
  }

  private def session(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.default.parallelism", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps up to 1,000 finished jobs, stages and SQL
      // executions by default; bounded small, the live heap measures the
      // program rather than how many jobs the run happened to fire
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  /** A JSON string literal. */
  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      .replace("\r", "\\r").replace("\t", "\\t") + "\""

  private def stampLine(opt: Map[String, String], info: Map[String, String]): String = {
    val fields = Seq(
      "workload" -> opt("workload"), "seed" -> opt("seed"),
      "seconds" -> opt("seconds"), "trace" -> opt("trace"),
      "nproc" -> opt("nproc"), "host" -> opt("host"), "heap" -> opt("heap"),
      "sf" -> "generated") ++ info.toSeq.sortBy(_._1)
    "{\"stamp\": {" + fields.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ") + "}}"
  }

  private def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"
}

/** Share of CPU time the hypervisor took from this machine (the `steal`
  * column of /proc/stat) between two readings: timings on a shared host
  * are comparable only when it is low. "n/a" where /proc/stat is absent. */
object CpuSteal {
  def read(): Option[(Long, Long)] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val xs = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    (xs(7), xs.sum)
  }.toOption

  def pct(a: Option[(Long, Long)], b: Option[(Long, Long)]): String = (a, b) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => f"${(s1 - s0) * 100.0 / (t1 - t0)}%.1f"
    case _ => "n/a"
  }
}
