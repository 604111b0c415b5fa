package graft.query

import graft.core.{Cursor, DatalakeRecord, QueryValidationError}
import graft.store.{LatestStore, MetadataRow, RecordStore}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** One unpacked query result (`querier.py:165-177`): url + metadata, with
  * create_time/size tolerated absent for migration, and `end` forced
  * present (null). */
final case class UnpackedRecord(
    url: String,
    metadata: MetadataRow,
    createTime: Option[Long],
    size: Option[Long])

/** A page of results plus the cursor to fetch the next page, if any. */
final case class QueryPage(records: Seq[UnpackedRecord], cursor: Option[Cursor])

/** DataFrame reimplementation of the reference's ArchiveQuerier
  * (`api/datalake_api/querier.py:180-417`).
  *
  * A page first resolves the store's manifest once and prunes it on the
  * driver to the cells its keys reach: the (bucket, what) cells of the
  * window (from the cursor's resume bucket on), the work id's prefix
  * cell, the (what, where) key's latest-table bucket. Then it runs ONE
  * Spark job: scan of those cells → pushed-down filters →
  * `TakeOrderedAndProject` (order by the reference's range-key order,
  * limit pageSize+1) → ≤101 rows to the driver. A latest walk-back runs
  * two: the latest-table probe, then the walk. The scan is one relation
  * over the pruned cells' files, each leaf listed once on the driver
  * ([[graft.store.ManifestLog.readEntries]]), so no page fires a listing
  * job however many cells or live data dirs it reaches. Pagination
  * resumes by key predicate, never by offset, so it
  * is stable under concurrent ingest and costs the same for page 1 and
  * page 1000.
  */
final class ArchiveQuerier(
    store: RecordStore,
    latestStore: Option[LatestStore] = None,
    useLatestTable: Boolean = false,
    pageSize: Int = ArchiveQuerier.MaxResults,
    clock: () => Long = () => System.currentTimeMillis(),
    workIdIndex: Option[graft.store.WorkIdIndex] = None) {

  import ArchiveQuerier._

  // pageSize+1 probes for a next page; clamp so pageSize = Int.MaxValue
  // (the natural "no cap" spelling) cannot overflow into a negative
  // limit() that fails every query
  private val fetchLimit =
    if (pageSize == Int.MaxValue) pageSize else pageSize + 1

  /** Time-range query (`querier.py:240-303`). Keeps a record iff its
    * `[start, end]` intersects `[start, end)`… precisely: null `end` ⇒
    * point-in-interval on `start`; else overlap, both inclusive. */
  def queryByTime(
      start: Long,
      end: Long,
      what: String,
      where: Option[String] = None,
      cursor: Option[Cursor] = None): QueryPage = {
    val firstBucket = DatalakeRecord.bucketOf(start)
    val lastBucket = DatalakeRecord.bucketOf(end)
    val resumeBucket = cursor.flatMap(_.currentTimeBucket)
    resumeBucket.foreach { b =>
      // past the last relevant bucket: the reference clears such cursors
      // before returning them (querier.py:253-259), so a client replaying
      // one is just exhausted — empty page. BEFORE the first bucket the
      // cursor belongs to a different query window: 400 InvalidCursor,
      // not a silent empty page that would hide every matching record
      // (the reference's buckets.index() raises there — an unhandled 500;
      // the 400 is the intended mapping, v0.py:183-184).
      if (b > lastBucket) return QueryPage(Nil, None)
      if (b < firstBucket)
        throw QueryValidationError(QueryValidationError.InvalidCursor,
          s"cursor bucket $b precedes the query interval " +
            s"[$firstBucket, $lastBucket]")
    }

    val fromBucket = resumeBucket.getOrElse(firstBucket)
    val df = store.recordsIn(Some(what), fromBucket, lastBucket)
    var pred: Column =
      col("time_bucket").between(fromBucket, lastBucket) &&
        col("what") === what &&
        // interval intersection with null-end = point semantics
        // (querier.py:286-303): coalesce(end, start) collapses both cases.
        coalesce(col("metadata.end"), col("metadata.start")) >= start &&
        col("metadata.start") <= end
    where.foreach(w => pred = pred && col("where") === w)
    cursor.foreach { c =>
      c.lastEvaluated.foreach { key =>
        val (b, w0, id0) = parseTimeResumeKey(key)
        pred = pred && (col("time_bucket") > b ||
          (col("time_bucket") === b &&
            (col("where") > w0 ||
              (col("where") === w0 && col("metadata.id") > id0))))
      }
      c.lastId.foreach(lid => pred = pred && col("metadata.id") =!= lid)
    }

    val rows = df.filter(pred)
      .orderBy(col("time_bucket"), col("where"), col("metadata.id"))
      .limit(fetchLimit)
      .collect()

    val page = rows.take(pageSize)
    val next =
      if (rows.length <= pageSize) None
      else {
        val lastRow = page.last
        val (b, w0, id0) = rowKey(lastRow)
        Some(Cursor(Some(b), Some(s"$b:$w0:$id0"), Some(id0)))
      }
    QueryPage(dedupAndUnpack(page), next)
  }

  /** Work-id query (`querier.py:192-238`): equality on (work_id, what),
    * optional where, range-key-ordered pagination. */
  def queryByWorkId(
      workId: String,
      what: String,
      where: Option[String] = None,
      cursor: Option[Cursor] = None): QueryPage = {
    // prefer the secondary index (the reference's work-id GSI): its
    // work_id-prefix partitioning prunes the scan to one directory
    val df = workIdIndex.flatMap(_.find(workId, what))
      .getOrElse(store.recordsIn(Some(what)))
    var pred: Column = col("work_id") === workId && col("what") === what
    where.foreach(w => pred = pred && col("where") === w)
    cursor.foreach { c =>
      c.lastEvaluated.foreach { key =>
        val (w0, id0) = parseWorkIdResumeKey(key)
        pred = pred && (col("where") > w0 ||
          (col("where") === w0 && col("metadata.id") > id0))
      }
      c.lastId.foreach(lid => pred = pred && col("metadata.id") =!= lid)
    }

    val rows = df.filter(pred)
      .orderBy(col("where"), col("metadata.id"))
      .limit(fetchLimit)
      .collect()

    val page = rows.take(pageSize)
    val next =
      if (rows.length <= pageSize) None
      else {
        val (_, w0, id0) = rowKey(page.last)
        Some(Cursor(None, Some(s"$w0:$id0"), Some(id0)))
      }
    QueryPage(dedupAndUnpack(page), next)
  }

  /** Latest query (`querier.py:351-417`): latest-table lookup with
    * fall-back to a descending bucket walk-back of ≤ lookback days; a
    * latest-table hit whose start exceeds now + 24 h also falls back. */
  def queryLatest(
      what: String,
      where: String,
      lookbackDays: Int = DefaultLookbackDays): Option[UnpackedRecord] = {
    val now = clock()
    val maxLookforward = now + LatestMaxLookforwardHours * 3600 * 1000L

    val fromTable: Option[Option[UnpackedRecord]] =
      if (useLatestTable && latestStore.isDefined) {
        val hit = latestStore.get.lookup(what, where).limit(1).collect()
        if (hit.isEmpty) None // miss → fallback
        else {
          val r = unpack(hit.head)
          if (r.metadata.start > maxLookforward) None // future-dated → fallback
          else Some(Some(r))
        }
      } else None

    fromTable.getOrElse(defaultLatest(what, where, lookbackDays, now))
  }

  /** Walk-back (`querier.py:407-417`) as a single job over the lookback
    * window's cells of `what`: newest non-empty bucket wins; within it,
    * argmax by (start, create_time) — create_time breaks ties
    * (`querier.py:384-395`). */
  private def defaultLatest(
      what: String,
      where: String,
      lookbackDays: Int,
      now: Long): Option[UnpackedRecord] = {
    val nowBucket = DatalakeRecord.bucketOf(now)
    val minBucket = DatalakeRecord.bucketOf(now - lookbackDays * OneDayMs)
    store.recordsIn(Some(what), minBucket, nowBucket)
      .filter(col("time_bucket").between(minBucket, nowBucket) &&
        col("what") === what && col("where") === where)
      .orderBy(col("time_bucket").desc, col("metadata.start").desc,
        col("create_time").desc, col("metadata.id").desc)
      .limit(1)
      .collect()
      .headOption
      .map(unpack)
  }

  /** Order-preserving dedup by metadata.id, first occurrence wins
    * (`querier.py:146-163`). */
  private def dedupAndUnpack(rows: Array[Row]): Seq[UnpackedRecord] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    rows.iterator
      .filter(r => seen.add(metaRow(r).id))
      .map(unpack)
      .toSeq
  }

  private def rowKey(r: Row): (Long, String, String) =
    (r.getAs[Long]("time_bucket"), r.getAs[String]("where"), metaRow(r).id)

  private def metaRow(r: Row): MetadataRow = {
    val m = r.getAs[Row]("metadata")
    MetadataRow(
      m.getAs[Int]("version"),
      m.getAs[Long]("start"),
      Option(m.getAs[java.lang.Long]("end")).map(_.longValue()),
      m.getAs[String]("where"),
      m.getAs[String]("what"),
      Option(m.getAs[String]("work_id")),
      m.getAs[String]("path"),
      m.getAs[String]("id"),
      m.getAs[String]("hash"))
  }

  private def unpack(r: Row): UnpackedRecord =
    UnpackedRecord(
      r.getAs[String]("url"),
      metaRow(r),
      Option(r.getAs[java.lang.Long]("create_time")).map(_.longValue()),
      Option(r.getAs[java.lang.Long]("size")).map(_.longValue()))
}

object ArchiveQuerier {

  /** Page cap (`querier.py:28-33`). */
  val MaxResults = 100

  /** Walk-back budget for latest queries (`querier.py:36-44`). */
  val DefaultLookbackDays = 14
  val LatestMaxLookforwardHours = 24

  val OneDayMs: Long = 24L * 3600 * 1000

  // Resume keys are colon-joined from slug/hex fields that cannot
  // themselves contain ':' (Metadata's slug regexes, hex ids), so the
  // part COUNT identifies the cursor kind exactly: 3 = time query
  // (bucket:where:id), 2 = work-id query (where:id). Both parsers
  // reject the other kind's shape as InvalidCursor — a lenient split
  // would silently mis-resume (a time cursor fed to a work-id query
  // parsed its bucket as the `where` bound, re-serving page 1 with
  // corrupted dedup).
  private def parseTimeResumeKey(key: String): (Long, String, String) =
    key.split(":", -1) match {
      case Array(b, w, id) =>
        b.toLongOption match {
          case Some(bucket) => (bucket, w, id)
          case None => throw QueryValidationError(
            QueryValidationError.InvalidCursor, s"bad resume key $key")
        }
      case _ => throw QueryValidationError(
        QueryValidationError.InvalidCursor, s"bad resume key $key")
    }

  private def parseWorkIdResumeKey(key: String): (String, String) =
    key.split(":", -1) match {
      case Array(w, id) => (w, id)
      case _ => throw QueryValidationError(
        QueryValidationError.InvalidCursor, s"bad resume key $key")
    }
}
