package graft

import graft.obs.{Obs, Scope}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs the SparkEntry queries against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line whose `value` is the
  * battery total in seconds. Results are materialized through the noop
  * sink so the full plan (including projections that `count()` would
  * prune away) executes.
  *
  * Protocol: `SPARK_GRAFT_BENCH_RUNS` (default 2) INTERLEAVED passes over
  * the selected queries — round-robin puts a query's samples a whole
  * pass apart, so one burst of external load cannot hit all of them, and
  * the first pass also absorbs plan compilation and codegen. Per query
  * the run reports the min (best-of-N, the number `value` sums), the
  * median and the spread (max − min) of its successful samples; `-1`
  * marks a query that failed in every pass. Every pass carries a stamp
  * (wall, job-seconds, /proc/stat steal, load, cpus, host) so a run taken
  * under contention identifies itself. Timings are comparable only
  * between runs with the same host and core count, which is why the
  * archive name carries both. Each query runs in a [[graft.obs.Collector]]
  * scope; its job count and shuffle bytes, which need no luck to compare,
  * ride the full line beside the timings.
  *
  * Outputs: the full line goes to `BENCH_LOCAL.json` (a subset run writes
  * `BENCH_LOCAL_partial.json` instead) and a full run also writes its own
  * archive, [[archiveName]]; nothing is ever merged with an earlier run.
  * Stdout's last line is the slim summary, [[slimLine]]. */
object Bench {
  def main(args: Array[String]): Unit = {
    // the JSON lines are re-parsed by tools: on a comma-decimal default
    // locale (de_DE, fr_FR, ...) the f"%.3f" interpolators below would
    // render 96,115 — not JSON
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpusN = Obs.cpus
    val cpus = cpusN.toString
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    val host = hostName()
    // log level ERROR: the one-line JSON contract wants a clean tail
    val spark = Obs.session("graft-bench")
    val collector = Obs.collector(spark)

    // JVM + codegen warmup so the first timed query does not absorb
    // session startup
    spark.range(1000000).selectExpr("sum(id)").collect()

    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
      else SparkEntry.queries
    val subset = selected.keySet != SparkEntry.queries.keySet
    args.filterNot(SparkEntry.queries.keySet).foreach(a =>
      System.err.println(s"[bench] unknown query name ignored: $a"))
    val ordered = selected.toSeq.sortBy(_._1)
    val samples = ordered.map { case (name, _) =>
      name -> scala.collection.mutable.ArrayBuffer.empty[Option[Double]]
    }.toMap
    // the latest successful scope of each query: its counters
    val counters = scala.collection.mutable.Map.empty[String, Counters]
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

    // the timed region is the scope's construct + exec: from building the
    // frame to the end of the noop write
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame)
        : Option[Scope] =
      try Some(collector.measure(fn(spark, sfDir))(
        _.write.mode("overwrite").format("noop").save()))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
      } finally {
        // release blocks pinned by this query (localCheckpoints, cached
        // plans) so its leftovers cannot slow later queries — measured
        // 3-4x inflation on checkpoint-heavy queries without this
        Obs.release(spark)
      }

    val passes = (1 to runs).map { _ =>
      val w0 = System.nanoTime()
      val s0 = stealTicks()
      var jobSum = 0.0
      for ((name, fn) <- ordered) {
        val scope = timeOne(name, fn)
        scope.foreach { s =>
          jobSum += s.jobs.map(_.seconds).sum
          counters(name) = Counters(s.jobs.size, s.shuffleWriteBytes)
        }
        samples(name) += scope.map(_.wallSec)
      }
      PassStamp(
        wall = (System.nanoTime() - w0) / 1e9,
        jobSum = jobSum,
        stealSec = (for (a <- s0; b <- stealTicks())
          yield (b - a) / userHz).getOrElse(-1.0),
        loadEnd = os.getSystemLoadAverage,
        cpus = cpusN,
        host = host)
    }
    // Stop BEFORE the final line so Spark's shutdown logging cannot land
    // after it: the LAST stdout line (before sbt's own footer) is then
    // always one complete JSON object, un-prefixed thanks to
    // `run / outputStrategy := StdoutOutput` in build.sbt.
    spark.stop()

    val stats = ordered.map { case (name, _) =>
      name -> queryStats(samples(name).toSeq) }
    val total = battery(stats)
    val failedCount = stats.count(_._2.isEmpty)
    val tag = sfTag(sfDir)
    val files = outputFiles(subset, host, cpus, tag)
    val line = fullLine(total, failedCount, cpusN, host, stats,
      counters.toMap, passes, sfDir)
    val written = files.filter { f =>
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(f),
          (line + "\n").getBytes("UTF-8"))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $f: $e"); false }
    }
    val archive = files.drop(1).find(written.contains).getOrElse("none")
    val stealSec = passes.map(_.stealSec)
    val steal = if (stealSec.exists(_ < 0)) -1.0 else stealSec.sum
    val slimTail =
      f""","host":"${jsonEscape(host)}","runs":$runs,"steal_sec":$steal%.1f,"archive":"$archive","sf":"${jsonEscape(sfDir)}","full":"${files.head}"}"""
    println(slimLine(tailHead(total, failedCount, cpusN), slimTail,
      stats.map { case (q, s) => q -> s.fold(-1.0)(_.min) }))
  }

  /** min / median / spread (max − min) of a query's successful samples. */
  final case class QueryStats(min: Double, median: Double, spread: Double)

  /** Stats over one query's per-pass samples (`None` = that pass failed).
    * A later successful pass clears an earlier failure; the query counts
    * as failed (`None`) only when every pass failed. */
  def queryStats(passes: Seq[Option[Double]]): Option[QueryStats] = {
    val ok = passes.flatten.sorted
    if (ok.isEmpty) None
    else {
      val mid = ok.size / 2
      val median =
        if (ok.size % 2 == 1) ok(mid) else (ok(mid - 1) + ok(mid)) / 2
      Some(QueryStats(ok.head, median, ok.last - ok.head))
    }
  }

  /** The headline `value`: the sum of each query's best-of-N. A failed
    * query is left out, so an error can never improve the total. */
  def battery(stats: Seq[(String, Option[QueryStats])]): Double =
    stats.flatMap(_._2).map(_.min).sum

  /** A query's luck-free counters from its latest successful pass: the
    * jobs it fired and the shuffle bytes it wrote. */
  final case class Counters(jobs: Int, shuffleBytes: Long)

  /** One pass's run-quality stamp: wall seconds, collector-summed job
    * seconds, /proc/stat steal seconds (-1 unreadable), the 1-minute
    * load at pass end, and the core count and host it ran on. */
  final case class PassStamp(wall: Double, jobSum: Double, stealSec: Double,
      loadEnd: Double, cpus: Int, host: String) {
    def json: String =
      f"""{"wall":$wall%.1f,"job_sum":$jobSum%.1f,"steal_sec":$stealSec%.1f,"load_end":$loadEnd%.1f,"cpus":$cpus,"host":"${jsonEscape(host)}"}"""
  }

  /** The full per-query line written to the local file and the archive:
    * `queries` holds each query's min (the shape [[parseBenchLine]]
    * reads), `median` and `spread` the rest of its stats, `jobs` and
    * `shuffle_bytes` its [[Counters]]; `-1` in all five for a query that
    * failed in every pass. */
  def fullLine(total: Double, failed: Int, cpus: Int, host: String,
      stats: Seq[(String, Option[QueryStats])],
      counters: Map[String, Counters], passes: Seq[PassStamp],
      sfDir: String): String = {
    def field(f: QueryStats => Double): String =
      jmap(stats.map { case (q, s) => q -> s.fold(-1.0)(f) })
    def count(f: Counters => Long): String =
      stats.map { case (q, s) =>
        val n = s.flatMap(_ => counters.get(q)).fold(-1L)(f)
        "\"" + q + "\":" + n
      }.mkString("{", ",", "}")
    tailHead(total, failed, cpus) +
      s""","host":"${jsonEscape(host)}","runs":${passes.size}""" +
      s""","queries":${field(_.min)},"median":${field(_.median)}""" +
      s""","spread":${field(_.spread)},"jobs":${count(_.jobs)}""" +
      s""","shuffle_bytes":${count(_.shuffleBytes)}""" +
      s""","passes":${passes.map(_.json).mkString("[", ",", "]")}""" +
      s""","sf":"${jsonEscape(sfDir)}"}"""
  }

  /** Files a run writes its full line to, the local file first. A subset
    * run writes only `BENCH_LOCAL_partial.json`, so local iteration on a
    * few queries can never overwrite the full-battery file or an archive;
    * a full run writes `BENCH_LOCAL.json` and its own archive. */
  def outputFiles(subset: Boolean, host: String, cpus: String,
      tag: String): Seq[String] =
    if (subset) Seq("BENCH_LOCAL_partial.json")
    else Seq("BENCH_LOCAL.json", archiveName(host, cpus, tag))

  /** Archive name of a full run, keyed by everything its timings depend
    * on besides the code: scale, core count and host. */
  def archiveName(host: String, cpus: String, tag: String): String =
    s"BENCH_LOCAL_${tag}_c${cpus}_${host.replaceAll("[^A-Za-z0-9.-]", "_")}.json"

  /** Host stamped on every pass and into the archive name. */
  private[graft] def hostName(): String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => sys.env.getOrElse("HOSTNAME", "unknown") }

  /** The driver's stdout capture keeps only the LAST [[TailCaptureChars]]
    * characters and parses the bench line out of THAT (every committed
    * `BENCH_r*.json` carries a tail of exactly 2000 chars; a full-map
    * line overflowed it and parsed as null for five rounds). A per-query
    * map therefore rides the stdout line ONLY when the whole line still
    * fits the capture with room for the runner's footer: for the full
    * 123-query battery the query names alone exceed the budget, so it
    * keeps the slim line + `"full"` file pointer, while subset runs carry
    * their map inline. */
  val TailCaptureChars = 2000
  val TailFooterReserveChars = 120
  def slimLine(head: String, tail: String,
      results: Seq[(String, Double)]): String = {
    val withMap = head + s""","queries":${jmap(results, 2)}""" + tail
    if (withMap.length <= TailCaptureChars - TailFooterReserveChars) withMap
    else head + tail
  }

  /** Render a per-query seconds map as a compact JSON object.
    * `decimals` trades precision for line length (the stdout slim line
    * uses 2, the full lines keep 3). */
  private def jmap(m: Seq[(String, Double)], decimals: Int = 3): String = {
    val fmt = s"%.${decimals}f"
    m.map { case (k, v) => "\"" + k + "\":" + fmt.format(v) }
      .mkString("{", ",", "}")
  }

  private def jsonEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Head of every bench line: the raw total FIRST — the anchor tail
    * parsers have keyed on since r1 — then the failed-query count and the
    * core count. */
  def tailHead(total: Double, failed: Int, cpus: Int): String =
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$failed,"cpus":$cpus"""

  /** Short scale tag of an sf directory — `/root/testdata/sf0.1` →
    * `sf0.1`. */
  def sfTag(sfDir: String): String =
    sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)

  /** Per-query seconds + sf tag from one artifact's text. Accepts a bare
    * bench line, a driver wrapper with a (future) top-level `"queries"`,
    * or a driver wrapper whose `tail` string embeds a bench line. Fails
    * soft (None) on anything unparsable. */
  def parseBenchLine(text: String): Option[(Map[String, Double], String)] = {
    import org.json4s._
    def extract(v: JValue): Option[(Map[String, Double], String)] =
      (v \ "queries", v \ "sf") match {
        case (JObject(kvs), sf) =>
          val qs = kvs.collect {
            case (k, JDouble(x)) => k -> x
            case (k, JDecimal(x)) => k -> x.toDouble
            case (k, JInt(x)) => k -> x.toDouble
          }.toMap
          val tag = sf match {
            case JString(s) => Some(sfTag(s))
            // driver wrappers carry sf as a bare number (0.1); an
            // integer scale ("sf":1) parses as JInt, not JDouble
            case JDouble(x) => Some(s"sf$x")
            case JDecimal(x) => Some(s"sf$x")
            case JInt(x) => Some(s"sf$x")
            case _ => None
          }
          tag.filter(_ => qs.nonEmpty).map(t => (qs, t))
        case _ => None
      }
    def embedded(v: JValue): Option[(Map[String, Double], String)] =
      v \ "tail" match {
        case JString(tail) =>
          // newest complete bench line inside the captured tail: find
          // each `{"metric":"total"` start and try to parse the brace-
          // balanced object from there
          val starts = """\{"metric":"total"""".r
            .findAllMatchIn(tail).map(_.start).toSeq.reverse
          starts.iterator.flatMap { i =>
            balancedJson(tail, i)
              .flatMap(s =>
                try extract(org.json4s.jackson.JsonMethods.parse(s))
                catch { case _: Throwable => None })
          }.collectFirst { case hit => hit }
        case _ => None
      }
    try {
      val v = org.json4s.jackson.JsonMethods.parse(text)
      extract(v).orElse(embedded(v))
    } catch { case _: Throwable => None }
  }

  /** The brace-balanced JSON object starting at `from` (which must point
    * at `{`), string-aware; None when the text truncates before balance —
    * the normal case for a driver tail that clipped the line. */
  private def balancedJson(text: String, from: Int): Option[String] = {
    var depth = 0
    var inStr = false
    var esc = false
    var i = from
    while (i < text.length) {
      val c = text.charAt(i)
      if (esc) esc = false
      else if (inStr) {
        if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) return Some(text.substring(from, i + 1))
        case _ =>
      }
      i += 1
    }
    None
  }

  /** Cumulative steal-time ticks from /proc/stat's aggregate cpu line —
    * the hypervisor-steal counter loadavg cannot see. None off-Linux or
    * on a kernel without the field. */
  def stealTicks(): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .flatMap(parseStealTicks)
      finally src.close()
    } catch { case _: Throwable => None }

  /** steal is the 8th value after the "cpu" label
    * (user nice system idle iowait irq softirq STEAL ...). */
  def parseStealTicks(cpuLine: String): Option[Long] = {
    val fields = cpuLine.trim.split("\\s+")
    if (fields.length >= 9) fields(8).toLongOption else None
  }

  /** Jiffies per second for /proc/stat deltas: USER_HZ is 100 on every
    * mainstream Linux ABI (hardcoding what sysconf(_SC_CLK_TCK) would
    * return — the JVM has no portable call for it). */
  val userHz: Double = 100.0
}
