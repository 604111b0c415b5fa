package graft.streaming

import graft.core._
import graft.store.{DriverWrite, Fs, LatestStore, MetadataRow, RecordRow,
  RecordStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Per-message ingestion telemetry (`ingester.py:27-65`, README.md:264-306):
  * `{version, status: success|error, start, duration, records[]}`. */
final case class ReportRecord(
    url: String,
    size: Long,
    create_time: Long,
    metadata: MetadataRow)

final case class IngesterReport(
    version: Int,
    status: String,
    start: Long,
    duration: Double,
    records: Seq[ReportRecord],
    message: Option[String])

/** `fatal` carries an UNSAFE exception's rendering: the reference
  * publishes the error report in `finally` and THEN re-raises
  * (`ingester.py:88-99`) — so the poison pill is returned as data with
  * the batch's other results, reported, and only then stops the stream
  * ([[StreamingIngester.processBatch]]). */
final case class IngestResult(
    records: Seq[RecordRow],
    report: IngesterReport,
    fatal: Option[String] = None)

/** Message handler reproducing `Ingester.handler` (`ingester.py:88-114`):
  * parse the notification, dispatch per event (Put/CompleteMultipartUpload
  * ⇒ add, Copy ⇒ update — identical for an idempotent store, other names ⇒
  * UnsupportedS3Event, `s3:TestEvent` ⇒ no-op), resolve each url through
  * the content store, and expand into per-bucket records.
  *
  * SAFE exceptions (bad notification/event/metadata/time-range/missing
  * file, `ingester.py:16-25`) produce an error report and the stream
  * continues; anything else re-raises (poison-pill stops the stream).
  */
final class Ingester(
    contentStore: ContentStore,
    clock: () => Long = () => System.currentTimeMillis()) {

  def handle(notificationJson: String): IngestResult = {
    val startMs = clock()
    val collected = scala.collection.mutable.LinkedHashMap.empty[String, RecordRow]
    try {
      val n = S3Notification.parse(notificationJson)
      n.events.foreach { e =>
        if (!S3Notification.EventsWithRecords.contains(e.eventName))
          throw new UnsupportedS3Event(
            s"Datalake does not support S3 publish event type ${e.eventName}.")
        val (meta, size, createTime) = contentStore.fetch(e.s3Url)
        DatalakeRecord.listFromMetadata(meta, e.s3Url, createTime, size)
          .foreach(r => collected(r.url + "#" + r.timeBucket) =
            RecordRow.fromCore(r))
      }
      IngestResult(collected.values.toSeq,
        IngesterReport(0, "success", startMs,
          (clock() - startMs) / 1000.0, reportRecords(collected), None))
    } catch {
      // the reference's handler reports EVERY exception (error status +
      // message, `finally: self._report(ir)`) and re-raises only the
      // unsafe ones — so both arms build the same error report; the
      // unsafe arm additionally marks the result fatal so
      // [[StreamingIngester.processBatch]] can re-raise AFTER the
      // report is persisted (previously an unsafe exception produced no
      // report at all and dropped the earlier events' records)
      case e: Exception =>
        // events handled before the failing one keep their records — the
        // reference stores each record as it goes, so an error part-way
        // through a multi-event message leaves the earlier files indexed
        IngestResult(collected.values.toSeq,
          IngesterReport(0, "error", startMs, (clock() - startMs) / 1000.0,
            reportRecords(collected),
            // str(e) semantics: getMessage is null for e.g. a bare NPE,
            // and Some(null) would emit a null message field where the
            // reference always reports text
            Some(Option(e.getMessage).getOrElse(e.toString))),
          fatal = if (Ingester.isSafe(e)) None else Some(e.toString))
    }
  }

  /** Report lists each distinct url once, LAST occurrence winning
    * (`ingester.py:35-36` — `self.records[r['url']] = r` is a dict
    * overwrite, so a Put followed by a Copy of the same url reports the
    * rewrite's size/metadata, matching what the store keeps). */
  private def reportRecords(
      collected: scala.collection.mutable.LinkedHashMap[String, RecordRow])
    : Seq[ReportRecord] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, ReportRecord]
    collected.values.foreach { r =>
      seen(r.url) = ReportRecord(r.url, r.size, r.create_time, r.metadata)
    }
    seen.values.toSeq
  }
}

object Ingester {
  /** `SAFE_EXCEPTIONS` (`ingester.py:16-25`). */
  def isSafe(e: Throwable): Boolean = e match {
    case _: InvalidS3Notification | _: InvalidS3Event |
         _: UnsupportedTimeRange | _: NoSuchDatalakeFile |
         _: InvalidDatalakeMetadata | _: UnsupportedS3Event => true
    case _ => false
  }
}

/** Structured Streaming replacement for the SQS-driven pipeline
  * (`ingester.py:131-137` + `queue.py:50-78`): a file source watches a
  * notification directory (one JSON document per file — the reference's
  * inotify/SQS delivery unit), at most [[StreamingIngester.MaxFilesPerTrigger]]
  * files per micro-batch, and `foreachBatch` hands each micro-batch to
  * [[StreamingIngester.processBatch]]: the messages are collected and
  * handled (parsed, resolved and expanded into records) on the driver,
  * and the records table, the latest table and the report side-output
  * are written from those results. The reference's
  * at-least-once + idempotent-put contract becomes dedup-on-append +
  * monotone latest MERGE, which is replay-safe (T3, strictly stronger).
  *
  * @param compactEvery when > 0, run `recordStore.compact()` after
  *        every N ingested batches: each micro-batch appends one small
  *        file per touched (bucket, what) cell, and without periodic
  *        compaction a long-running stream fragments the table (and
  *        every read lists and opens one more file per cell). Safe
  *        inline because the compaction commit is snapshot-isolated and
  *        yields to racing writers; readers concurrent with it keep
  *        resolving complete snapshots. The reference never needed
  *        this — DynamoDB has no files — so it is an operational knob,
  *        not reference parity. */
final class StreamingIngester(
    spark: SparkSession,
    contentStore: ContentStore,
    recordStore: RecordStore,
    latestStore: Option[LatestStore] = None,
    reportPath: Option[String] = None,
    clock: () => Long = () => System.currentTimeMillis(),
    compactEvery: Int = 0) {

  import StreamingIngester.{ReportEnc, RowEnc}

  private val ingester = new Ingester(contentStore, clock)
  private val batchesSinceCompact = new java.util.concurrent.atomic.AtomicLong

  /** One ingest batch: records + latest + report from one collect.
    *
    * The batch's notification strings are collected and
    * [[Ingester.handle]] runs over them on the driver, one after
    * another; the records append, the latest upsert, the report write
    * and the fatal check all read those results, so nothing is pinned
    * or recomputed. A local batch (the queue path's) is collected
    * without a job, and a streaming micro-batch fires only its source
    * read. Everything else is on the driver too: the dedup probe and
    * the latest merge read their leaves with [[graft.store.DriverRead]],
    * and the record, work-id, report and latest files are written with
    * [[graft.store.DriverWrite]]. So a queue batch fires no Spark job.
    * The batch is bounded (`maxBatch` messages on the queue path,
    * [[StreamingIngester.MaxFilesPerTrigger]] files on the streaming
    * path), and so is what is collected.
    *
    * `batchTag` keys the report side-output: with a tag (the streaming
    * path passes the foreachBatch batch id) each batch's reports land
    * in their own overwritten `batch=<tag>` dir, so an at-least-once
    * REPLAY rewrites the same reports instead of appending a second
    * copy — the records/latest stores were always replay-convergent,
    * but an Append report sink double-counted. Untagged calls
    * ([[drainQueue]], whose redeliveries have no stable batch identity)
    * write a unique `batch=queue-<uuid>` dir — the whole report tree
    * stays one uniform partitioned layout Spark can read in a single
    * `read.json(reportPath)` — and keep Append-equivalent semantics: a
    * crash between processBatch and queue-delete may duplicate reports
    * there, records never.
    *
    * A FATAL (unsafe-exception) result follows the reference's
    * publish-then-raise contract (`ingester.py:88-99`): everything the
    * batch collected is written and its error report persisted, THEN
    * the poison pill stops the stream — nothing is deleted or
    * checkpointed, so the message redelivers. */
  def processBatch(batch: Dataset[String],
      batchTag: Option[String] = None): Unit = {
    val results = batch.collect().toSeq.map(ingester.handle)
    val records =
      spark.createDataset(results.flatMap(_.records))(RowEnc).toDF()
    recordStore.appendDf(records, dedupAgainstExisting = true)
    latestStore.foreach(_.upsert(records))
    reportPath.foreach { p =>
      // Uniform partition-style layout: Spark cannot read a directory
      // mixing data files at the root with batch=<id> subdirs
      // ("conflicting directory structures"), so queue drains get their
      // own fresh batch=queue-<uuid> dir instead of appending flat
      // files. Redeliveries have no stable batch identity, so a crash
      // between processBatch and queue-delete may duplicate reports (as
      // the old Append did) — records never. A tagged replay overwrites
      // its batch=<tag> dir. The reports are written on the driver, one
      // JSON file per batch dir.
      val dir = new Path(p,
        "batch=" + batchTag.getOrElse(s"queue-${java.util.UUID.randomUUID()}"))
      Fs.fs(spark, p).delete(dir, true)
      val toRow = ReportEnc.createSerializer()
      DriverWrite(spark, new JsonFileFormat, dir, ReportEnc.schema, Nil,
        results.iterator.map(r => toRow(r.report)))
    }
    results.flatMap(_.fatal).headOption.foreach { msg =>
      throw new IllegalStateException(
        s"unsafe ingest exception (reported, message NOT consumed): $msg")
    }
    if (compactEvery > 0 &&
        batchesSinceCompact.incrementAndGet() % compactEvery == 0)
      recordStore.compact()
  }

  /** Drain a [[NotificationQueue]] through the ingest path with the
    * reference's at-least-once contract (`sqs_queue.py:52-66`): claim up
    * to `maxBatch` messages, process them as ONE batch (records +
    * latest + report in the same pass), and delete the claims only after
    * the batch commits. A crash mid-batch deletes nothing — every message
    * redelivers after its visibility timeout, and the store's
    * anti-join/monotone-merge idempotence makes the replay a no-op.
    * Returns the number of messages processed before the queue stayed
    * empty for `idleTimeoutMs`. */
  def drainQueue(
      queue: NotificationQueue,
      maxBatch: Int = 100,
      idleTimeoutMs: Long = 1000L): Int = {
    var total = 0
    var continue = true
    while (continue) {
      val claimed = queue.receiveBatch(maxBatch, idleTimeoutMs)
      if (claimed.isEmpty) continue = false
      else {
        processBatch(
          spark.createDataset(claimed.map(_.body))(Encoders.STRING))
        claimed.foreach(m => queue.delete(m.handle))
        total += claimed.size
      }
    }
    total
  }

  /** Start the stream over a directory of notification JSON files. */
  def start(
      notificationDir: String,
      checkpointDir: String,
      availableNow: Boolean = false): StreamingQuery = {
    val raw = spark.readStream
      .option("wholetext", "true")
      // processBatch collects each micro-batch to the driver
      .option("maxFilesPerTrigger", StreamingIngester.MaxFilesPerTrigger.toString)
      .text(notificationDir)
      .as(Encoders.STRING)
    val writer = raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[String], id: Long) =>
        processBatch(batch, Some(id.toString)))
    // AvailableNow ⇒ drain-then-stop (the reference's listen(timeout) test
    // mode, `queue.py:52-66`); default ⇒ continuous micro-batches.
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}

object StreamingIngester {
  /** Notification files per streaming micro-batch: the bound on what
    * [[StreamingIngester.processBatch]] collects, and the same as
    * `drainQueue`'s default `maxBatch`. */
  private[streaming] val MaxFilesPerTrigger = 100

  // derived once per JVM: deriving a product encoder reflects over the
  // case class, which every batch paid through `spark.implicits`
  private val RowEnc: Encoder[RecordRow] = Encoders.product
  private val ReportEnc: ExpressionEncoder[IngesterReport] = ExpressionEncoder()
}
