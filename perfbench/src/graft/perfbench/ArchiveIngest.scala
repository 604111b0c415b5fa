package graft.perfbench

import graft.core.{DatalakeRecord, Metadata}
import graft.query.ArchiveQuerier
import graft.sources.LocalContentStore
import graft.store.{LatestStore, RecordStore, WorkIdIndex}
import graft.streaming.{DirNotificationQueue, NotificationQueue, StreamingIngester}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `archive_ingest`: an open loop. Files fall due on a fixed seeded
  * schedule; the generator pushes each one (`pushValidated`) and sends an
  * S3-style notification to a directory queue. One thread drains the
  * queue through `StreamingIngester` (wired like `Cli ingest-queue`, plus
  * the work-id index); one reader probes freshness with time queries
  * over the newest window. A file's latency runs from its due time to
  * the end of the first probe that returns it. Throughput is the
  * ingester's: files ingested per second of its busy time (claim to
  * last delete of each batch), so it does not simply echo the offered
  * rate. */
final class ArchiveIngest(ctx: Ctx) extends Workload {
  import ArchiveGen.{Day, Now}
  import ArchiveIngest._

  private val spark = ctx.spark
  private var root: String = _
  private var contentRoot: String = _
  private var content: LocalContentStore = _
  private var store: RecordStore = _
  private var latest: LatestStore = _
  private var ingester: StreamingIngester = _
  private var queue: BusyQueue = _
  private var querier: ArchiveQuerier = _
  private var rng: Random = _
  private var nextIndex = 0
  /** Every file pushed so far, with its content's create time. */
  private val pushed = mutable.ArrayBuffer.empty[GenFile]
  /** Push and send times of the last measured segment. */
  private var pushMs = new Hist
  private var sendMs = new Hist
  private val batchMsgs = new Hist
  private var queueDepthEnd = 0.0

  def setup(): Unit = {
    root = s"${ctx.work}/ingest"
    // relative to the working directory, so the notification's
    // s3://<bucket>/<key> url resolves to the pushed file
    contentRoot = "content"
    content = new LocalContentStore(contentRoot)
    val index = new WorkIdIndex(spark, s"$root/work-id-index")
    store = new RecordStore(spark, s"$root/records", Some(index))
    latest = new LatestStore(spark, s"$root/latest")
    ingester = new StreamingIngester(spark, content, store, Some(latest),
      Some(s"$root/reports"))
    queue = new BusyQueue(new DirNotificationQueue(s"$root/queue"))
    querier = new ArchiveQuerier(store, Some(latest), useLatestTable = true,
      clock = () => Now, workIdIndex = Some(index))
    rng = new Random(ctx.seed)
    nextIndex = 0
    pushed.clear()
    // warm-up: a few small batches through the same push → drain → probe path
    (0 until WarmupBatches).foreach { _ =>
      (0 until WarmupFiles).foreach(_ => push(new Hist, new Hist))
      ingester.drainQueue(queue, MaxBatch, idleTimeoutMs = 50)
      probe(_ => ())
    }
  }

  /** The `i`-th file: its what, where, day, whether it has an end and
    * its size follow `i`, so every seed pushes the same shape of work; the
    * time within the day, the span, the work id and the content are
    * seeded. */
  private def nextFile(): (GenFile, Array[Byte]) = {
    val i = nextIndex
    nextIndex += 1
    val start = Now - (i % WindowDays) * Day - (rng.nextDouble() * Day).toLong
    val end = if (i % 2 == 0) None else Some(start + rng.nextInt(6 * 3600 * 1000))
    val what = ArchiveGen.whats(Whats)(i % Whats)
    val where = ArchiveGen.wheres(Wheres)((i / Whats) % Wheres)
    val workId = if (i % 5 != 4) Some(f"job-${rng.nextInt(200)}%04d") else None
    val bytes = ArchiveGen.content(rng, 512 + (i * 997) % 3584)
    val meta = Metadata(0, start, end, where, what, workId, s"/var/log/$what/$i.log",
      f"i${ctx.seed & 0xffffffL}%07x$i%024x", "")
    (GenFile(meta, 0L, bytes.length.toLong), bytes)
  }

  /** Push one file and notify the queue; returns its id. */
  private def push(pushH: Hist, sendH: Hist): String = {
    val (f, bytes) = nextFile()
    val t0 = System.nanoTime()
    val meta = f.meta.copy(hash = ArchiveGen.hash(bytes))
    content.pushValidated(bytes, meta)
    val t1 = System.nanoTime()
    queue.send(notification(meta.id))
    val t2 = System.nanoTime()
    pushH.add((t1 - t0) / 1e6)
    sendH.add((t2 - t1) / 1e6)
    val created = Files.getLastModifiedTime(Paths.get(contentRoot, meta.id, "data")).toMillis
    pushed.synchronized { pushed += f.copy(meta = meta, createTime = created) }
    meta.id
  }

  private def notification(id: String): String = {
    val event = s"""{"eventVersion": "2.0", "eventName": "ObjectCreated:Put", """ +
      s""""s3": {"bucket": {"name": "$contentRoot"}, "object": {"key": "$id/data"}}}"""
    val msg = s"""{"Records": [$event]}""".replace("\"", "\\\"")
    s"""{"Type": "Notification", "Message": "$msg"}"""
  }

  /** One freshness probe: time queries over the newest window for every
    * what, cursors drained; `seen` gets every id returned. */
  private def probe(seen: String => Unit): Unit =
    ArchiveGen.whats(Whats).foreach { what =>
      var cursor: Option[graft.core.Cursor] = None
      var first = true
      while (first || cursor.isDefined) {
        first = false
        val page = querier.queryByTime(Now - (WindowDays + 1) * Day, Now + Day, what,
          cursor = cursor)
        page.records.foreach(r => seen(r.metadata.id))
        cursor = page.cursor
      }
    }

  def measure(seconds: Double, tracer: Tracer): Measured = {
    val n = math.max(1, (seconds * Rate).toInt)
    val intervalNs = (1e9 / Rate).toLong
    val due = new ConcurrentHashMap[String, java.lang.Long]()
    val visible = new ConcurrentHashMap[String, java.lang.Long]()
    val failures = mutable.ArrayBuffer.empty[String]
    val genDone = new AtomicBoolean(false)
    val pH = new Hist; val sH = new Hist; val late = new Hist
    val t0 = System.nanoTime() + 50000000L
    queue.reset()
    val deadline = t0 + (seconds * 1e9).toLong

    val generator = new Thread(() => {
      try (0 until n).foreach { k =>
        val d = t0 + k * intervalNs
        var now = System.nanoTime()
        while (now < d) { Thread.sleep(math.max(0L, (d - now) / 1000000L), 0); now = System.nanoTime() }
        late.add((now - d) / 1e6)
        val id = tracer.withGroup(s"file-$k")(tracer.span("sources", "push")(push(pH, sH)))
        due.put(id, d)
      } finally genDone.set(true)
    }, "generator")

    val ingest = new Thread(() => {
      if (!tracer.enabled)
        ingester.drainQueue(queue, MaxBatch, idleTimeoutMs = IdleMs)
      else {
        // drainQueue's own sequence, one span per call
        var go = true
        var b = 0
        while (go) {
          b += 1
          val claimed = tracer.withGroup(s"batch-$b")(
            tracer.span("streaming", "receiveBatch")(queue.receiveBatch(MaxBatch, IdleMs)))
          if (claimed.isEmpty) go = false
          else tracer.withGroup(s"batch-$b") {
            batchMsgs.add(claimed.size)
            JobStats.tagged(spark.sparkContext, s"batch-$b")(
              tracer.span("streaming", "processBatch")(
                ingester.processBatch(spark.createDataset(claimed.map(_.body))(
                  org.apache.spark.sql.Encoders.STRING))))
            tracer.span("streaming", "delete")(claimed.foreach(m => queue.delete(m.handle)))
          }
        }
      }
    }, "ingester")

    val reader = new Thread(() => {
      val hardStop = deadline + (ReaderGraceS * 1e9).toLong
      var done = false
      while (!done && System.nanoTime() < hardStop) {
        tracer.span("query", "probe")(probe { id =>
          if (due.containsKey(id)) visible.putIfAbsent(id, System.nanoTime())
        })
        done = genDone.get() && visible.size >= due.size
      }
    }, "reader")

    generator.start(); ingest.start(); reader.start()
    generator.join()
    queueDepthEnd = Files.list(Paths.get(s"$root/queue")).count().toDouble
    reader.join()
    ingest.join()
    val lat = new Hist
    var last = t0
    due.asScala.foreach { case (id, d) =>
      Option(visible.get(id)) match {
        case Some(v) => lat.add((v - d) / 1e6); last = math.max(last, v)
        case None => failures += s"file $id never became visible"
      }
    }
    pushMs = pH
    sendMs = sH
    Measured(due.size, failures.size, lat, queue.msgs / math.max(queue.busyNs / 1e9, 1e-3),
      Map("generator_late_p50_ms" -> f"${late.p50}%.3f",
        "generator_late_max_ms" -> f"${late.pct(1.0)}%.3f",
        "rate_files_per_s" -> Rate.toString,
        "visible_files_per_s" -> f"${lat.n / math.max((last - t0) / 1e9, 1e-3)}%.3f"),
      failures.toSeq)
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    def p50(layer: String, name: String) = Hist.median(tr.durMs(layer, name))
    out("sources.push_ms") = pushMs.p50
    out("sources.queue_send_ms") = sendMs.p50
    ctx.jobs.settle()
    val batches = tr.all.filter(s => s.layer == "streaming" && s.name == "processBatch").map(_.group)
    out("streaming.ingest.batch_ms") = p50("streaming", "processBatch")
    out("streaming.ingest.msgs_per_batch") = if (batchMsgs.n == 0) 0 else batchMsgs.sum / batchMsgs.n
    out("streaming.ingest.jobs_per_batch") =
      if (batches.isEmpty) 0 else batches.map(ctx.jobs.byTag(_).jobs).sum.toDouble / batches.size
    out("streaming.ingest.queue_wait_ms") = p50("streaming", "receiveBatch")
    out("streaming.ingest.queue_depth_end") = queueDepthEnd
    out("store.append_ms") = perBatch(batches, "RecordStore")
    out("store.latest_upsert_ms") = perBatch(batches, "LatestStore")
    out("query.queryByTime.call_ms") = p50("query", "probe") / Whats
    val st = store.stats()
    out("store.records.live_dirs") = st.liveDirs
    out("store.records.cells") = st.cells
    out("store.records.files") = st.files.toDouble
    out("store.records.bytes_per_user_byte") =
      st.bytes.toDouble / pushed.map(_.meta.json.length.toLong).sum
    out("core.records_per_file") =
      pushed.map(f => DatalakeRecord.timeBucketsOf(f.meta).size).sum.toDouble / pushed.size
    out.toMap
  }

  /** Mean per batch of the wall time of its jobs fired from `site`. */
  private def perBatch(batches: Seq[String], site: String): Double =
    if (batches.isEmpty) 0 else batches.map(ctx.jobs.wallMs(_, site)).sum / batches.size

  /** Every pushed file is in exactly its day buckets, once each, and the
    * latest table holds the newest file of every key. */
  override def finalChecks(): Seq[String] = {
    val rows = store.records.select(col("metadata.id"), col("time_bucket")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val got = rows.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSeq.sorted }
    val out = mutable.ArrayBuffer.empty[String]
    pushed.foreach { f =>
      val want = DatalakeRecord.timeBucketsOf(f.meta).sorted
      val have = got.getOrElse(f.meta.id, Nil)
      if (have != want) out += s"file ${f.meta.id} in buckets $have, want $want"
    }
    if (got.size != pushed.size) out += s"store holds ${got.size} ids, pushed ${pushed.size}"
    val table = latest.latest.select(col("what"), col("where"), col("metadata.id")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val want = pushed.groupBy(f => (f.meta.what, f.meta.where)).map { case (k, fs) =>
      k -> fs.maxBy(f => (f.meta.start, f.createTime, f.meta.id)).meta.id }
    if (table != want) out += s"latest table differs from the model on " +
      s"${(table.keySet ++ want.keySet).count(k => table.get(k) != want.get(k))} keys"
    out.toSeq
  }
}

object ArchiveIngest {
  val Rate = 8.0 // files per second
  val Whats = 1
  val Wheres = 8
  val WindowDays = 3
  val MaxBatch = 100
  val IdleMs = 1000L
  val WarmupBatches = 1
  val WarmupFiles = 10
  val ReaderGraceS = 30.0
}

/** The ingester's queue, timing how long each claimed batch takes from
  * its claim to the delete of its last message: the ingester's busy
  * time. Claims and deletes come from the one ingester thread. */
final class BusyQueue(inner: NotificationQueue) extends NotificationQueue {
  @volatile var busyNs = 0L
  @volatile var msgs = 0L
  private var claimedAt = 0L
  private var pending = 0

  def reset(): Unit = { busyNs = 0L; msgs = 0L }
  def send(body: String): Unit = inner.send(body)
  def receive(waitMs: Long): Option[Message] =
    claimed(inner.receive(waitMs).toSeq).headOption
  override def receiveBatch(max: Int, waitMs: Long): Seq[Message] =
    claimed(inner.receiveBatch(max, waitMs))
  def delete(handle: String): Unit = {
    inner.delete(handle)
    pending -= 1
    if (pending == 0) busyNs += System.nanoTime() - claimedAt
  }

  private def claimed(ms: Seq[inner.Message]): Seq[Message] = {
    if (ms.nonEmpty) {
      if (pending == 0) claimedAt = System.nanoTime()
      pending += ms.size
      msgs += ms.size
    }
    ms.map(m => Message(m.handle, m.body))
  }
}
