package graft.streaming

import graft.{ProcessStarts, SparkSuite}
import graft.core._
import graft.obs.Obs
import graft.query.ArchiveQuerier
import graft.store.{LatestStore, RecordStore, WorkIdIndex}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Fake content store mirroring the golden fixtures' `s3_files` blocks
  * (ingester/tests/conftest.py): url → (metadata, size, create_time) with a
  * frozen clock. */
final class FakeContentStore(files: Map[String, String]) extends ContentStore {
  override def fetch(url: String): (Metadata, Long, Long) =
    files.get(url) match {
      case Some(json) => (Metadata.fromJson(json), 290816L, 1430000000000L)
      case None => throw new NoSuchDatalakeFile(s"no such file: $url")
    }
}

/** Port of the ingester golden-file event matrix
  * (the JSON specs in ingester/tests/data + test_s3_notifications.py). */
class IngesterSpec extends SparkSuite {

  val metaJson: String =
    """{"version": 0, "work_id": null, "id": "abc123", "what": "syslog",
      |"path": "/var/log/syslog.log.1", "where": "california",
      |"start": 1430092800000, "end": 1430096400000,
      |"hash": "12345"}""".stripMargin

  val url = "s3://datalake-test/x/syslog/abc123-syslog.txt"

  def s3Event(eventName: String = "ObjectCreated:Put",
      eventVersion: Option[String] = Some("2.0"),
      bucket: String = "datalake-test",
      key: String = "x/syslog/abc123-syslog.txt"): String = {
    val ver = eventVersion.map(v => s""""eventVersion": "$v",""").getOrElse("")
    s"""{$ver "eventName": "$eventName",
       |"s3": {"bucket": {"name": "$bucket"}, "object": {"key": "$key"}}}"""
      .stripMargin
  }

  def notification(events: Seq[String]): String = {
    val msg = s"""{"Records": [${events.mkString(",")}]}"""
      .replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    s"""{"Type": "Notification", "Message": "$msg"}"""
  }

  val testEventNotification: String = {
    val msg = """{\"Event\": \"s3:TestEvent\"}"""
    s"""{"Type": "Notification", "Message": "$msg"}"""
  }

  def ingester(files: Map[String, String] = Map(url -> metaJson)): Ingester =
    new Ingester(new FakeContentStore(files), () => 123000L)

  test("one Put record ingested with per-bucket expansion") {
    val res = ingester().handle(notification(Seq(s3Event())))
    assert(res.report.status === "success")
    assert(res.records.map(_.time_bucket) === Seq(16552L))
    assert(res.records.head.url === url)
    assert(res.records.head.metadata.id === "abc123")
    assert(res.report.records.size === 1)
  }

  test("two s3 sub-records in one event message") {
    val meta2 = metaJson.replace("abc123", "def456")
    val url2 = url.replace("abc123", "def456")
    val res = ingester(Map(url -> metaJson, url2 -> meta2)).handle(
      notification(Seq(s3Event(), s3Event(key = "x/syslog/def456-syslog.txt"))))
    assert(res.report.status === "success")
    assert(res.records.map(_.metadata.id).distinct === Seq("abc123", "def456"))
    assert(res.report.records.size === 2)
  }

  test("multipart-upload event adds records; Copy updates") {
    for (name <- Seq("ObjectCreated:CompleteMultipartUpload", "ObjectCreated:Copy")) {
      val res = ingester().handle(notification(Seq(s3Event(eventName = name))))
      assert(res.report.status === "success", name)
      assert(res.records.nonEmpty, name)
    }
  }

  test("null end time → single bucket") {
    val noEnd = metaJson.replace(""""end": 1430096400000,""", """"end": null,""")
    val res = ingester(Map(url -> noEnd)).handle(notification(Seq(s3Event())))
    assert(res.report.status === "success")
    assert(res.records.map(_.time_bucket) === Seq(16552L))
    assert(res.records.head.metadata.end.isEmpty)
  }

  test("s3:TestEvent is a success no-op") {
    val res = ingester().handle(testEventNotification)
    assert(res.report.status === "success")
    assert(res.records.isEmpty)
    assert(res.report.records.isEmpty)
  }

  test("unsupported event name → error report, no records") {
    val res = ingester().handle(
      notification(Seq(s3Event(eventName = "ObjectRemoved:Delete"))))
    assert(res.report.status === "error")
    assert(res.report.message.get.contains("ObjectRemoved:Delete"))
    assert(res.records.isEmpty)
  }

  test("missing Message → InvalidS3Notification error report") {
    val res = ingester().handle("""{"Type": "Notification"}""")
    assert(res.report.status === "error")
  }

  test("missing eventVersion / unsupported 3.0 → error reports") {
    val noVer = ingester().handle(
      notification(Seq(s3Event(eventVersion = None))))
    assert(noVer.report.status === "error")
    assert(noVer.report.message.get.contains("No eventVersion"))
    val v3 = ingester().handle(
      notification(Seq(s3Event(eventVersion = Some("3.0")))))
    assert(v3.report.status === "error")
    assert(v3.report.message.get.contains("Unsupported event version"))
  }

  test("partial failure keeps records from earlier events (reference parity)") {
    // the reference stores each event's records before a later event
    // fails; the error report covers the message, but fileA stays indexed
    val res = ingester().handle(notification(Seq(
      s3Event(), // resolves fine
      s3Event(key = "x/syslog/missing-file.txt")))) // NoSuchDatalakeFile
    assert(res.report.status === "error")
    assert(res.records.map(_.metadata.id) === Seq("abc123"))
  }

  test("missing file → NoSuchDatalakeFile error report (safe)") {
    val res = ingester(Map.empty).handle(notification(Seq(s3Event())))
    assert(res.report.status === "error")
    assert(res.report.message.get.contains("no such file"))
  }

  test("span over 30 buckets → UnsupportedTimeRange error report") {
    val longSpan = metaJson.replace("1430096400000",
      (1430092800000L + 31L * 86400000L).toString)
    val res = ingester(Map(url -> longSpan)).handle(notification(Seq(s3Event())))
    assert(res.report.status === "error")
    assert(res.report.message.get.contains("too many time buckets"))
  }

  test("missing s3.bucket.name / object.key is UNSAFE (KeyError " +
    "parity): reported as error AND marked fatal — never silently " +
    "dropped as a safe empty-url miss") {
    val noS3 = """{"eventVersion": "2.0", "eventName": "ObjectCreated:Put"}"""
    val res = ingester().handle(notification(Seq(noS3)))
    assert(res.report.status === "error")
    assert(res.fatal.isDefined,
      "a malformed supported event is a poison pill the reference " +
        "re-raises, not a deletable handled message")
    // an UNSUPPORTED event with no s3 block stays the SAFE error —
    // bucket/key are dereferenced lazily, after the event-name check,
    // exactly like the reference's properties
    val unsupNoS3 =
      """{"eventVersion": "2.0", "eventName": "ObjectRemoved:Delete"}"""
    val res2 = ingester().handle(notification(Seq(unsupNoS3)))
    assert(res2.report.status === "error" && res2.fatal.isEmpty)
  }

  test("report keeps the LAST record per url (reference dict " +
    "overwrite), matching what the store keeps") {
    val store = new ContentStore {
      private var n = 0
      override def fetch(u: String): (Metadata, Long, Long) = {
        n += 1; (Metadata.fromJson(metaJson), 1000L * n, 1430000000000L)
      }
    }
    val res = new Ingester(store, () => 123000L)
      .handle(notification(Seq(s3Event(), s3Event())))
    assert(res.report.status === "success")
    assert(res.report.records.size === 1, "one row per distinct url")
    assert(res.report.records.head.size === 2000L,
      "the rewrite's stats must win, as in the reference's dict")
  }

  test("unsafe exception: reports published and good records kept, " +
    "THEN the batch fails so nothing is consumed (publish-then-raise)") {
    val recordStore = new RecordStore(spark, tmpDir("rec-poison") + "/t")
    val reportDir = tmpDir("reports-poison") + "/r"
    val ing = new StreamingIngester(spark,
      new FakeContentStore(Map(url -> metaJson)),
      recordStore, None, Some(reportDir), () => 123000L)
    val noS3 = """{"eventVersion": "2.0", "eventName": "ObjectCreated:Put"}"""
    val batch = spark.createDataset(Seq(
      notification(Seq(s3Event())), notification(Seq(noS3))))(
      org.apache.spark.sql.Encoders.STRING)
    val e = intercept[IllegalStateException] { ing.processBatch(batch) }
    assert(e.getMessage.contains("NOT consumed"))
    // the healthy message's records landed and BOTH reports exist —
    // the reference publishes the error report before re-raising
    assert(recordStore.records.count() === 1)
    val reports = spark.read.json(reportDir)
    assert(reports.count() === 2)
    assert(reports.filter(reports("status") === "error").count() === 1)
  }

  test("streaming end-to-end: files → records + latest + reports, replay-safe") {
    val notifDir = tmpDir("notif")
    val widIndex = new graft.store.WorkIdIndex(spark, tmpDir("wix") + "/i")
    val recordStore = new RecordStore(spark, tmpDir("rec") + "/t",
      workIdIndex = Some(widIndex))
    val latestStore = new LatestStore(spark, tmpDir("lat") + "/t")
    val reportDir = tmpDir("reports") + "/r"
    val withWid = metaJson.replace(""""work_id": null""", """"work_id": "w-77"""")
    val ing = new StreamingIngester(spark,
      new FakeContentStore(Map(url -> withWid)),
      recordStore, Some(latestStore), Some(reportDir), () => 123000L)

    def writeNotif(name: String, content: String): Unit =
      Files.write(Paths.get(notifDir, name),
        content.getBytes(StandardCharsets.UTF_8))

    writeNotif("n1.json", notification(Seq(s3Event())))
    writeNotif("n2.json", notification(Seq(s3Event(eventName = "Bad:Event"))))

    val q1 = ing.start(notifDir, tmpDir("ckpt1"), availableNow = true)
    q1.awaitTermination(120000)

    assert(recordStore.records.count() === 1) // one bucket, one file
    assert(latestStore.latest.count() === 1)
    val reports = spark.read.json(reportDir)
    assert(reports.count() === 2)
    assert(reports.filter(reports("status") === "error").count() === 1)

    // at-least-once replay: same notification redelivered as a new file
    writeNotif("n1-redelivery.json", notification(Seq(s3Event())))
    val q2 = ing.start(notifDir, tmpDir("ckpt2"), availableNow = true)
    q2.awaitTermination(120000)
    // cross-batch dedup keeps the records table duplicate-free
    assert(recordStore.records.count() === 1)

    // and the querier sees exactly one file
    val page = new ArchiveQuerier(recordStore)
      .queryByTime(1430092800000L, 1430096400000L, "syslog")
    assert(page.records.map(_.metadata.id) === Seq("abc123"))

    // the incrementally-maintained work-id index serves the lookup
    val viaIndex = new ArchiveQuerier(recordStore, workIdIndex = Some(widIndex))
      .queryByWorkId("w-77", "syslog")
    assert(viaIndex.records.map(_.metadata.id) === Seq("abc123"))
  }

  /** `n` syslog files from index `from`, each under its own url: 4
    * wheres and 4 work ids, starts spread over 3 days, every other file
    * with an end. */
  def files(from: Int, n: Int): Map[String, String] =
    (from until from + n).map { i =>
      val start = 1430092800000L + (i % 3) * 86400000L + i * 60000L
      val end = if (i % 2 == 0) "null" else (start + 3600000L).toString
      s"s3://datalake-test/x/syslog/f$i.txt" ->
        s"""{"version": 0, "work_id": "w-${i % 4}", "id": "f$i",
           |"what": "syslog", "path": "/var/log/f$i.log",
           |"where": "host-${i % 4}", "start": $start, "end": $end,
           |"hash": "h$i"}""".stripMargin
    }.toMap

  /** One Put notification per url of `fs`, in url order. */
  def notificationsOf(fs: Map[String, String]): Seq[String] =
    fs.keys.toSeq.sorted.map(u => notification(Seq(
      s3Event(key = u.stripPrefix("s3://datalake-test/")))))

  def ds(messages: Seq[String]): org.apache.spark.sql.Dataset[String] =
    spark.createDataset(messages)(org.apache.spark.sql.Encoders.STRING)

  /** Rows of `df` as a multiset of their renderings. */
  def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("one local batch of 20 notifications fires no job, so no record, " +
    "work-id, report or latest write job, holds no persisted block after " +
    "it returns, and replays as a no-op") {
    val all = files(0, 40)
    val widIndex = new WorkIdIndex(spark, tmpDir("wix-batch") + "/i")
    val recordStore = new RecordStore(spark, tmpDir("rec-batch") + "/t",
      workIdIndex = Some(widIndex))
    val latestStore = new LatestStore(spark, tmpDir("lat-batch") + "/t")
    val ing = new StreamingIngester(spark, new FakeContentStore(all),
      recordStore, Some(latestStore), Some(tmpDir("rep-batch") + "/r"),
      () => 123000L)
    val messages = notificationsOf(all)
    ing.processBatch(ds(messages.take(10)))
    ing.processBatch(ds(messages.slice(10, 20)))
    assert(recordStore.versions.size >= 2)
    val batch = messages.slice(20, 40)

    val collector = Obs.collector(spark)
    Obs.release(spark)
    val s = collector.measure(ds(batch))(ing.processBatch(_))
    // handle, the dedup probe and the latest merge's read run on the driver
    assert(s.jobs.isEmpty, s.jobs.map(_.op))
    // the record, work-id, report and latest files are written on the driver
    val writes =
      "(parquet|json|save|insertInto) at (RecordStore|Ingester|LatestStore)\\.scala:\\d+"
    assert(!s.jobs.exists(_.op.matches(writes)), s.jobs.map(_.op))
    assert(s.residualBlocks === 0, "a batch must not leave blocks pinned")

    def indexRows: Long =
      (0 until 4).map(w => widIndex.lookup(s"w-$w", "syslog").count()).sum
    val records = rowsOf(recordStore.records)
    val index = indexRows
    val latest = rowsOf(latestStore.latest)
    assert(records.size === 40 && index === 40 && latest.size === 4)
    ing.processBatch(ds(batch))
    assert(rowsOf(recordStore.records) === records)
    assert(indexRows === index)
    assert(rowsOf(latestStore.latest) === latest)
  }

  test("a queue drain's batches write records, the work-id index, the " +
    "latest table and reports, and start no OS process") {
    val all = files(0, 20)
    val widIndex = new WorkIdIndex(spark, tmpDir("wix-nofork") + "/i")
    val recordStore = new RecordStore(spark, tmpDir("rec-nofork") + "/t",
      workIdIndex = Some(widIndex))
    val latestStore = new LatestStore(spark, tmpDir("lat-nofork") + "/t")
    val reportDir = tmpDir("rep-nofork") + "/r"
    val ing = new StreamingIngester(spark, new FakeContentStore(all),
      recordStore, Some(latestStore), Some(reportDir), () => 123000L)
    val queue = new DirNotificationQueue(tmpDir("queue-nofork"))
    // the first batch creates every table and marker, the second adds to them
    notificationsOf(all).grouped(10).foreach { batch =>
      batch.foreach(queue.send)
      val (n, starts) = ProcessStarts.on(
        ing.drainQueue(queue, maxBatch = 10, idleTimeoutMs = 100))
      assert(n === 10)
      assert(starts === Nil)
    }
    assert(rowsOf(recordStore.records).size === 20)
    assert((0 until 4).map(w =>
      widIndex.lookup(s"w-$w", "syslog").count()).sum === 20)
    assert(rowsOf(latestStore.latest).size === 4)
    assert(rowsOf(spark.read.json(reportDir)).size === 20)
  }

  test("the streaming source takes at most MaxFilesPerTrigger files per " +
    "micro-batch and ends where one queue drain of the same messages " +
    "does") {
    val n = StreamingIngester.MaxFilesPerTrigger + 20
    val all = files(0, n)
    val messages = notificationsOf(all)
    def wired(tag: String): (RecordStore, LatestStore, String, StreamingIngester) = {
      val recordStore = new RecordStore(spark, tmpDir(s"rec-$tag") + "/t")
      val latestStore = new LatestStore(spark, tmpDir(s"lat-$tag") + "/t")
      val reportDir = tmpDir(s"rep-$tag") + "/r"
      (recordStore, latestStore, reportDir, new StreamingIngester(spark,
        new FakeContentStore(all), recordStore, Some(latestStore),
        Some(reportDir), () => 123000L))
    }

    val (sRecords, sLatest, sReports, streamed) = wired("stream")
    val notifDir = tmpDir("notif-bound")
    messages.zipWithIndex.foreach { case (m, i) =>
      Files.write(Paths.get(notifDir, f"n$i%04d.json"),
        m.getBytes(StandardCharsets.UTF_8))
    }
    val q = streamed.start(notifDir, tmpDir("ckpt-bound"), availableNow = true)
    assert(q.awaitTermination(300000), "the stream did not drain in time")
    val inputs = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(inputs.size >= 2, inputs)
    assert(inputs.forall(_ <= StreamingIngester.MaxFilesPerTrigger), inputs)
    assert(inputs.sum === n)

    val (qRecords, qLatest, qReports, drained) = wired("queue")
    val queue = new DirNotificationQueue(tmpDir("queue-bound"))
    messages.foreach(queue.send)
    assert(drained.drainQueue(queue, maxBatch = n, idleTimeoutMs = 100) === n)

    assert(rowsOf(sRecords.records).size === n)
    assert(rowsOf(sRecords.records) === rowsOf(qRecords.records))
    assert(rowsOf(sLatest.latest) === rowsOf(qLatest.latest))
    def reports(dir: String) = rowsOf(spark.read.json(dir).drop("batch"))
    assert(reports(sReports).size === n)
    assert(reports(sReports) === reports(qReports))
    // each batch's reports are one JSON file
    Seq(sReports, qReports).foreach { dir =>
      val batches = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("batch=")).toSeq
      assert(batches.nonEmpty)
      batches.foreach { b =>
        assert(b.list().count(_.startsWith("part-")) === 1, b)
      }
    }
    assert(new java.io.File(sReports).list().count(_.startsWith("batch=")) ===
      inputs.size)
  }
}
