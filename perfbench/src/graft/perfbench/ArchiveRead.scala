package graft.perfbench

import graft.api.{ApiServer, ApiV0, ArchiveClient, HttpSession}
import graft.core.{DatalakeHttpError, DatalakeRecord}
import graft.query.ArchiveQuerier
import graft.store.{LatestStore, RecordRow, RecordStore, WorkIdIndex}
import java.io.ByteArrayInputStream
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.json4s._
import org.json4s.jackson.JsonMethods
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** HTTP session that times every GET, remembers the page it returned for
  * the calling thread, and (when traced) wraps it in an `api` span. */
final class TimingSession(inner: HttpSession, tracer: Tracer) extends HttpSession {
  import TimingSession.Page
  private val pages = new ThreadLocal[mutable.ArrayBuffer[Page]] {
    override def initialValue() = mutable.ArrayBuffer.empty[Page]
  }
  def takePages(): Seq[Page] = { val p = pages.get().toList; pages.get().clear(); p }

  private val cutoff = new ThreadLocal[Long] { override def initialValue() = Long.MaxValue }
  /** Run `f` refusing, once `deadlineNs` has passed, to fetch a cursor's
    * next page (it throws [[TimingSession.CutOff]]): a long walk then ends
    * with the measured segment instead of running on past it. */
  def withCutoff[T](deadlineNs: Long)(f: => T): T = {
    cutoff.set(deadlineNs)
    try f finally cutoff.set(Long.MaxValue)
  }

  def get(url: String): HttpSession.Response = {
    if (url.contains("cursor=") && System.nanoTime() > cutoff.get()) throw TimingSession.CutOff
    val route = TimingSession.route(url)
    val t0 = System.nanoTime()
    val (r, body) = tracer.span("api", route) {
      val r = inner.get(url)
      (r, r.bodyBytes())
    }
    pages.get() += Page(route, url, r.status, (System.nanoTime() - t0) / 1e6, body)
    HttpSession.Response(r.status, new ByteArrayInputStream(body), r.contentType,
      Some(body.length.toLong))
  }
}

object TimingSession {
  final case class Page(route: String, url: String, status: Int, ms: Double, body: Array[Byte])
  object CutOff extends scala.util.control.ControlThrowable
  val Routes: Seq[String] = Seq("time", "workid", "latest")
  def route(url: String): String =
    if (url.contains("/latest/")) "latest"
    else if (url.contains("work_id=")) "workid"
    else "time"
}

/** `archive_read`: closed-loop API clients (one per core) against
  * `ApiServer` → `ArchiveQuerier`, wired like `Cli serve`, over a record
  * store built through the write path and maintained like `Cli maintain`. */
final class ArchiveRead(ctx: Ctx) extends Workload {
  import ArchiveGen.{Day, Now}
  import ArchiveRead._
  import TimingSession.Page

  private val spark = ctx.spark
  private var root: String = _
  private var files: IndexedSeq[GenFile] = _
  private var model: ArchiveModel = _
  private var store: RecordStore = _
  private var latestStore: LatestStore = _
  private var index: WorkIdIndex = _
  private var querier: ArchiveQuerier = _
  private var server: ApiServer = _
  private var session: TimingSession = _
  private var tracer = new Tracer(false)
  private val setupTimes = mutable.Map.empty[String, Hist]

  private def timed[T](key: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally setupTimes.getOrElseUpdate(key, new Hist).add((System.nanoTime() - t0) / 1e6)
  }

  def setup(): Unit = {
    root = s"${ctx.work}/archive"
    files = ArchiveGen.files(ctx.seed, Files, Whats, Wheres, WorkPerWhat, SpanDays, FutureKeys)
    model = new ArchiveModel(files)
    import spark.implicits._
    // the write path: Cli push/uploader append records and upsert the
    // latest table, batch by batch
    val writer = new RecordStore(spark, s"$root/records")
    latestStore = new LatestStore(spark, s"$root/latest")
    files.grouped(math.ceil(files.size.toDouble / AppendBatches).toInt).foreach { batch =>
      val recs = batch.flatMap(f => DatalakeRecord.listFromMetadata(f.meta,
        urlOf(f.meta.id), f.createTime, f.size))
      timed("append")(writer.append(recs))
      timed("upsert")(latestStore.upsert(recs.map(RecordRow.fromCore).toDF()))
    }
    // Cli maintain: compact, then rebuild the work-id index
    Main.log("records written")
    timed("compact")(writer.compact())
    index = new WorkIdIndex(spark, s"$root/work-id-index")
    timed("rebuild")(index.rebuild(writer))
    Main.log("maintained")
    // Cli serve: latest table on, work-id index attached
    store = new RecordStore(spark, s"$root/records", Some(index))
    querier = new ArchiveQuerier(store, Some(latestStore), useLatestTable = true,
      clock = () => Now, workIdIndex = Some(index))
    server = new ApiServer(querier, None, 0)
    server.start()
    session = new TimingSession(new HttpSession.Default(), tracer)
    Main.log("serving")
    // warm-up: the same loop, untimed, until the JIT and Spark's plan
    // caches have settled
    runClients(WarmupS, warm = true)
  }

  private def urlOf(id: String) = s"s3://archive/$id/data"

  // ---- one operation ------------------------------------------------

  /** The `n`-th operation of a client: kinds rotate time, work id, time,
    * latest (every third latest a walk-back); time windows step through
    * widths of 1 to 30 days and end days across the data's span, every
    * other one with `where`. So each run does the same mix of work; the
    * what, the where, the keys and the time of day are seeded. */
  private def nextOp(rng: Random, n: Int): Op = n % 4 match {
    case 0 | 2 =>
      val k = n / 2
      val width = (1 + (k * 7) % 30) * Day
      val qe = Now - ((k * 5) % SpanDays) * Day - (rng.nextDouble() * Day).toLong
      val where = if (k % 2 == 1) Some(ArchiveGen.wheres(Wheres)(rng.nextInt(Wheres))) else None
      TimeOp(ArchiveGen.whats(Whats)(rng.nextInt(Whats)), where, qe - width, qe)
    case 1 =>
      val (w, what) = model.workIds(rng.nextInt(model.workIds.size))
      WorkOp(w, what)
    case _ =>
      val keys = if (n % 12 != 11 || model.walkBackKeys.isEmpty) model.hitKeys else model.walkBackKeys
      val (what, where) = keys(rng.nextInt(keys.size))
      LatestOp(what, where)
  }

  private def ids(body: Array[Byte]): Seq[String] =
    (JsonMethods.parse(new String(body, "UTF-8")) \ "records") match {
      case JArray(rs) => rs.map(r => (r \ "metadata" \ "id") match {
        case JString(s) => s
        case _ => ""
      })
      case _ => Nil
    }

  /** Run one operation through the client and check it against the model:
    * the failure message, if any, and the pages it fetched. */
  private def runOp(client: ArchiveClient, op: Op): (Option[String], Seq[Page]) = op match {
    case LatestOp(what, where) =>
      val want = model.latest(what, where)
      val got =
        try Some(client.latest(what, where).metadata.id)
        catch { case _: DatalakeHttpError if want.isEmpty => None }
      val pages = session.takePages()
      (if (got == want) None else Some(s"latest $what/$where: got $got, want $want"), pages)
    case _ =>
      val (want, walk) = op match {
        case TimeOp(what, where, qs, qe) =>
          (model.byTime(qs, qe, what, where), client.list(what, Some(qs), Some(qe), where))
        case WorkOp(w, what) =>
          (model.byWorkId(w, what), client.list(what, workId = Some(w)))
        case _ => throw new IllegalStateException
      }
      val got = Vector.newBuilder[String]
      // a walk cut off at the segment's end is checked page by page only
      val complete =
        try { walk.foreach(r => got += r.metadata.id); true }
        catch { case TimingSession.CutOff => false }
      val pages = session.takePages()
      val problems = mutable.ArrayBuffer.empty[String]
      pages.foreach { p =>
        val pi = ids(p.body)
        if (pi.distinct.size != pi.size) problems += s"duplicate id within a page of $op"
        if (!pi.forall(want)) problems += s"page of $op holds a non-matching id"
      }
      // a full walk returns every matching id; the reference repeats an id
      // across pages only for multi-bucket records, at most once per bucket
      // (querier.py:60-75)
      val walked = got.result()
      if (complete && walked.toSet != want)
        problems += s"$op: walk returned ${walked.toSet.size} ids, want ${want.size}"
      walked.groupBy(identity).foreach { case (id, xs) =>
        if (xs.size > 1 && xs.size > model.buckets(id))
          problems += s"$op: id $id returned ${xs.size} times"
      }
      (problems.headOption, pages)
  }

  // ---- the closed loop ----------------------------------------------

  /** `nproc` client threads, each with its own seeded op sequence, each
    * waiting for its reply, for `seconds`. */
  private def runClients(seconds: Double, warm: Boolean): Measured = {
    val pages = new ConcurrentLinkedQueue[Page]()
    val ops = new AtomicLong
    val failed = new AtomicLong
    val failures = new ConcurrentLinkedQueue[String]()
    val client = new ArchiveClient(server.baseUrl, Some(session))
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val salt = if (warm) 500 else if (tracer.enabled) 700 else 0
    val threads = (0 until ctx.nproc).map { c =>
      val rng = new Random(ctx.seed * 1000 + c + salt)
      new Thread(() => {
        var n = 0
        while (System.nanoTime() < deadline) {
          val op = nextOp(rng, n + c)
          n += 1
          val (res, ps) =
            try tracer.withGroup(s"c$c-$n")(session.withCutoff(deadline)(runOp(client, op)))
            catch { case e: Exception => (Some(s"$op: $e"), session.takePages()) }
          ps.foreach(pages.add)
          ops.incrementAndGet()
          res.foreach { f => failed.incrementAndGet(); failures.add(f) }
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val ps = pages.asScala.toSeq
    val all = new Hist
    ps.foreach(p => all.add(p.ms))
    val info = TimingSession.Routes.flatMap { r =>
      val h = new Hist
      ps.filter(_.route == r).foreach(p => h.add(p.ms))
      val (q, v) = h.tail
      Seq(s"$r.p50_ms" -> f"${h.p50}%.3f", s"$r.tail_ms" -> f"$v%.3f",
        s"$r.tail_quantile" -> f"$q%.2f", s"$r.samples" -> h.n.toString)
    }.toMap
    lastPages = ps
    Measured(ops.get, failed.get, all, ps.size / wall, info, failures.asScala.toSeq)
  }

  private var lastPages: Seq[Page] = Nil

  def measure(seconds: Double, tr: Tracer): Measured = {
    tracer = tr
    session = new TimingSession(new HttpSession.Default(), tracer)
    runClients(seconds, warm = false)
  }

  // ---- traced breakdown ---------------------------------------------

  def layers(tr: Tracer): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val rtt = TimingSession.Routes.map { r =>
      val h = new Hist; lastPages.filter(_.route == r).foreach(p => h.add(p.ms)); r -> h.p50
    }.toMap
    rtt.foreach { case (r, v) => out(s"api.$r.rtt_ms") = v }
    out("api.response_bytes") =
      if (lastPages.isEmpty) 0 else lastPages.map(_.body.length.toDouble).sum / lastPages.size

    // replay the traced request sequence directly on the querier, one
    // call at a time, each call's Spark jobs tagged with its span
    val replay = lastPages.take(ReplayRequests)
    val sc = spark.sparkContext
    val calls = replay.zipWithIndex.map { case (p, i) =>
      val (method, run, build) = replayCall(p.url)
      val c0 = System.nanoTime()
      tr.withGroup(s"replay-$i")(tr.span("store", "construct")(build()))
      val c1 = System.nanoTime()
      val rows = JobStats.tagged(sc, s"replay-$i")(tr.withGroup(s"replay-$i")(tr.span("query", method)(run())))
      val q1 = System.nanoTime()
      (method, (c1 - c0) / 1e6, (q1 - c1) / 1e6, s"replay-$i", rows)
    }
    ctx.jobs.settle()
    val construct = new Hist
    calls.foreach(c => construct.add(c._2))
    val methodOf = Map("time" -> "queryByTime", "workid" -> "queryByWorkId", "latest" -> "queryLatest")
    methodOf.foreach { case (route, mth) =>
      val cs = calls.filter(_._1 == mth)
      val ws = cs.map(c => ctx.jobs.byTag(c._4))
      val h = new Hist
      cs.foreach(c => h.add(c._3))
      val n = math.max(1, cs.size).toDouble
      out(s"query.$mth.call_ms") = h.p50
      out(s"query.$mth.jobs") = ws.map(_.jobs).sum / n
      out(s"query.$mth.task_ms") = ws.map(_.taskMs).sum / n
      out(s"query.$mth.bytes_read") = ws.map(_.bytesRead.toDouble).sum / n
      out(s"query.$mth.rows_read_per_row_returned") =
        ws.map(_.recordsRead.toDouble).sum / math.max(1, cs.map(_._5).sum)
      out(s"api.$route.self_ms") = rtt(route) - h.p50
    }
    out("store.records.construct_ms") = construct.p50
    val st = store.stats()
    out("store.records.live_dirs") = st.liveDirs
    out("store.records.cells") = st.cells
    out("store.records.files") = st.files.toDouble
    out("store.records.bytes_per_user_byte") =
      st.bytes.toDouble / files.map(_.meta.json.length.toLong).sum
    out("store.append_ms") = setupTimes("append").p50
    out("store.latest_upsert_ms") = setupTimes("upsert").p50
    out("store.compact_ms") = setupTimes("compact").p50
    out("store.workid_rebuild_ms") = setupTimes("rebuild").p50
    out("core.records_per_file") =
      files.map(f => DatalakeRecord.timeBucketsOf(f.meta).size).sum.toDouble / files.size
    out.toMap
  }

  /** The querier call an API url stands for, and the store-side construct
    * call it starts with. */
  private def replayCall(url: String): (String, () => Int, () => Any) = {
    val u = new java.net.URI(url)
    if (u.getPath.contains("/latest/")) {
      val Array(what, where) = u.getPath.split("/latest/")(1).split("/")
      ("queryLatest", () => querier.queryLatest(what, where).size, () => latestStore.latest)
    } else {
      val params = Option(u.getRawQuery).getOrElse("").split("&").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
      val q = ApiV0.validateFilesParams(params)
      q.workId match {
        case Some(w) => ("queryByWorkId",
          () => querier.queryByWorkId(w, q.what, q.where, q.cursor).records.size,
          () => index.lookup(w, q.what))
        case None => ("queryByTime",
          () => querier.queryByTime(q.start.get, q.end.get, q.what, q.where, q.cursor).records.size,
          () => store.records)
      }
    }
  }

  override def close(): Unit = if (server != null) server.stop()
}

object ArchiveRead {
  private sealed trait Op
  private final case class TimeOp(what: String, where: Option[String], qs: Long, qe: Long) extends Op
  private final case class WorkOp(workId: String, what: String) extends Op
  private final case class LatestOp(what: String, where: String) extends Op

  // 2 whats over 30 days: about 60 day × what cells, well above the 32
  // leaves past which Spark lists a read's files with a parallel job, so
  // every page pays the table-wide listing while touching few cells
  val Files = 2400
  val Whats = 2
  val Wheres = 16
  val WorkPerWhat = 80
  val SpanDays = 30
  val FutureKeys = 6
  val AppendBatches = 2
  val WarmupS = 5.0
  val ReplayRequests = 40
}
