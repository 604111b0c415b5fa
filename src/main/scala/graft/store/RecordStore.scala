package graft.store

import graft.core.{DatalakeRecord, Metadata}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-row shape of a metadata document (snake_case to match the wire
  * format of the reference, `README.md:105-115`). */
final case class MetadataRow(
    version: Int,
    start: Long,
    end: Option[Long],
    where: String,
    what: String,
    work_id: Option[String],
    path: String,
    id: String,
    hash: String)

/** Spark-row shape of one index record (one per file × day-bucket).
  *
  * Replaces the reference's DynamoDB row (`record.py:51-65`): the composite
  * `time_index_key = "<bucket>:<what>"` becomes the (time_bucket, what)
  * partition pair, so time queries are partition-pruned scans.
  */
final case class RecordRow(
    version: Int,
    url: String,
    time_bucket: Long,
    what: String,
    where: String,
    work_id: Option[String],
    create_time: Long,
    size: Long,
    metadata: MetadataRow)

object RecordRow {
  def fromCore(r: DatalakeRecord): RecordRow =
    RecordRow(r.version, r.url, r.timeBucket, r.what, r.where, r.workId,
      r.createTime, r.size, fromMeta(r.metadata))

  def fromMeta(m: Metadata): MetadataRow =
    MetadataRow(m.version, m.start, m.end, m.where, m.what, m.workId,
      m.path, m.id, m.hash)

  def toMeta(m: MetadataRow): Metadata =
    Metadata(m.version, m.start, m.end, m.where, m.what, m.work_id,
      m.path, m.id, m.hash)
}

/** Partitioned-Parquet record table replacing {DynamoDB primary index +
  * work-id GSI} of the reference (`README.md:154-202`), stored as a
  * versioned-manifest table (see [[ManifestLog]]) so appends and
  * compaction are snapshot-isolated commits — a reader concurrent with
  * either resolves a complete committed manifest, never a directory
  * mid-rewrite (the flaw class the old temp-dir-and-swap compaction had).
  *
  * Layout: each commit writes an immutable data dir whose inner tree is
  * partitioned by (`time_bucket`, `what`) — the reference's
  * `time_index_key` *is* the partition leaf. The manifest maps each
  * `time_bucket=…/what=…` CELL to the ordered data dirs holding its
  * rows; an append adds one dir to the touched cells, a compaction
  * supersedes a cell's dir list with one rewritten dir. This both
  * prunes time queries to the touched day-buckets and spreads writes
  * across whats (the reference's hot-key-avoidance rationale,
  * `README.md:189-202`, holds at 100 TB: one day × one what is a
  * handful of files, compactable independently). Work-id queries scan
  * with a pushed-down `work_id` predicate; [[WorkIdIndex]] is the
  * secondary bucketed copy for point lookups.
  */
final class RecordStore(spark: SparkSession, path: String,
    workIdIndex: Option[WorkIdIndex] = None,
    keepVersions: Int = 3,
    committer: Option[ManifestCommitter] = None) extends ManifestedStore {
  import spark.implicits._

  protected val log = new ManifestLog(spark, path, keepVersions, committer)

  /** Append records idempotently: within-batch duplicate (id, time_bucket)
    * pairs collapse to one row, mirroring the dup-tolerant DynamoDB put
    * (`storage.py:64-73` — same key overwrites). */
  def append(records: Seq[DatalakeRecord]): Unit =
    appendDs(records.map(RecordRow.fromCore).toDS())

  def appendDs(ds: Dataset[RecordRow]): Unit =
    appendDf(ds.toDF(), dedupAgainstExisting = false)

  /** Append with optional cross-batch idempotence. The batch is
    * collected once (a local frame fires no job) and deduplicated on the
    * driver: within-batch duplicate (time_bucket, id) pairs collapse to
    * their first row. When `dedupAgainstExisting`, rows whose
    * (time_bucket, id) already exist are dropped too ([[storedKeys]]).
    * This is the replay-safety the reference gets from DynamoDB's
    * idempotent put (`storage.py:64-73`) under at-least-once delivery.
    *
    * Driver memory is bounded by the batch: the dedup probe streams only
    * the `metadata.id` column of the cells of the batch's buckets
    * through the driver ([[DriverRead]], no Spark job) and keeps only the
    * pairs that are the batch's own keys; the 30-bucket ingest cap
    * bounds the buckets.
    *
    * Commit shape: the surviving rows are written once, on the driver
    * ([[DriverWrite]], no Spark job), one file per cell into a
    * writer-unique data dir; the work-id index appends the same rows;
    * then the manifest pointer is advanced through the commit-CAS retry
    * loop — on a lost race only the (tiny) manifest is recomputed, never
    * the data files, because an append's content does not depend on the
    * base version. An empty result writes nothing. */
  def appendDf(df: DataFrame, dedupAgainstExisting: Boolean): Unit = {
    val schema = df.schema
    val bucketAt = schema.fieldIndex("time_bucket")
    val metaAt = schema.fieldIndex("metadata")
    val idAt = schema(metaAt).dataType.asInstanceOf[StructType].fieldIndex("id")
    def key(r: Row): (Long, String) =
      (r.getLong(bucketAt), r.getStruct(metaAt).getString(idAt))
    val seen = scala.collection.mutable.HashSet.empty[(Long, String)]
    val batch = df.collect().toSeq.filter(r => seen.add(key(r)))
    val stored =
      if (!dedupAgainstExisting || batch.isEmpty || !exists) Set.empty[(Long, String)]
      else storedKeys(seen)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val rows = batch.filterNot(r => stored.contains(key(r)))
      .map(toCatalyst(_).asInstanceOf[InternalRow])
    if (rows.isEmpty) return
    log.append() { dir =>
      val cells = DriverWrite(spark, new ParquetFileFormat, log.dataPath(dir),
        schema, RecordStore.PartitionColumns, rows.iterator)
      // every writer maintains the secondary index — hooking here (not in
      // individual callers) keeps the index consistent for push, uploader,
      // and streaming alike. Index append comes BEFORE the record commit:
      // a crash between them then leaves only a harmless duplicate-
      // tolerated index entry that the replay repeats, whereas the old
      // commit-then-index order could never be repaired — the replay
      // dedups the already-committed rows to an empty batch and early-
      // returns before ever reaching the index append, so lookup() missed
      // those rows forever.
      workIdIndex.foreach(_.append(rows, schema))
      cells
    }
  }

  /** The (time_bucket, id) pairs of `keys` already stored: the
    * (time_bucket, metadata.id) of every row in the cells of the keys'
    * buckets is read on the driver ([[DriverRead]]) and only the pairs
    * that are keys are kept. */
  private def storedKeys(keys: scala.collection.Set[(Long, String)])
      : Set[(Long, String)] = {
    val buckets = keys.map(_._1)
    val stored = Set.newBuilder[(Long, String)]
    cellsWhere((b, _) => buckets.contains(b)).foreach { cells =>
      DriverRead(spark, log.listLeaves(cells, RecordStore.schema),
          RecordStore.IdKey) { r =>
        val k = (r.getLong(0), r.getStruct(1, 1).getUTF8String(0).toString)
        if (keys.contains(k)) stored += k
      }
    }
    stored.result()
  }

  /** Full table as DataFrame; partition columns are restored to their
    * logical types. See [[ManifestLog.readEntries]] for the scan shape. */
  def records: DataFrame = recordsIn(None)

  /** Records of `what` (every what when None) in day buckets
    * `[fromBucket, toBucket]`. The current manifest is resolved once and
    * its cells are pruned on the driver to the ones these keys reach, so
    * no other cell is listed or scanned. A missing or empty table reads
    * as an empty frame. */
  def recordsIn(what: Option[String], fromBucket: Long = Long.MinValue,
      toBucket: Long = Long.MaxValue): DataFrame =
    recordsWhere((b, w) =>
      b >= fromBucket && b <= toBucket && what.forall(_ == w))

  /** Records of the cells whose (time_bucket, what) `keep` accepts; see
    * [[recordsIn]]. */
  private def recordsWhere(keep: (Long, String) => Boolean): DataFrame =
    cellsWhere(keep) match {
      case Some(cells) => log.readEntries(cells, RecordStore.schema)
      case None => log.emptyDf(RecordStore.schema)
    }

  /** The current manifest's cells whose (time_bucket, what) `keep`
    * accepts (a cell of another shape is kept); None for no table. */
  private def cellsWhere(keep: (Long, String) => Boolean)
      : Option[Map[String, Seq[String]]] =
    log.resolve().map { case (_, entries) =>
      entries.filter { case (cell, _) =>
        RecordStore.parseCell(cell).forall(keep.tupled)
      }
    }

  /** Compact fragmented cells through [[ManifestLog.compact]]:
    * streaming ingest appends one small file per micro-batch per
    * (bucket, what); this rewrites each cell whose live file count
    * exceeds `filesPerPartition` into (at most) `filesPerPartition`
    * files. Returns the number of cells this call rewrote. */
  def compact(filesPerPartition: Int = 1): Int =
    log.compact(filesPerPartition) { (fragmented, dir) =>
      // sort the rewrite by (where, start): parquet row-group min/max
      // stats then let where-prefix and interval queries skip row groups
      // inside a partition — the poor-man's Z-order, for free during the
      // rewrite compaction already pays for. repartition on (cell key,
      // salt) puts each cell's rows in `filesPerPartition` tasks -> that
      // many files per cell dir.
      log.readEntries(fragmented, RecordStore.schema)
        .withColumn("__salt",
          pmod(xxhash64(col("metadata.id")), lit(filesPerPartition)))
        .repartition(math.max(fragmented.size * filesPerPartition, 1),
          col("time_bucket"), col("what"), col("__salt"))
        .sortWithinPartitions(col("where"), col("metadata.start"))
        .drop("__salt")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("time_bucket", "what")
        .parquet(log.dataPath(dir).toString)
    }

  /** Table economics from filesystem metadata only — see
    * [[ManifestLog.storeStats]]. */
  def stats(): ManifestLog.StoreStats = log.storeStats()

  /** [[compact]] on the [[ManifestLog.compactIfNeeded]] schedule. */
  def compactIfNeeded(maxLiveDirs: Int = 8, filesPerPartition: Int = 1): Int =
    log.compactIfNeeded(maxLiveDirs)(compact(filesPerPartition))

  /** Resolvable snapshot versions, oldest first (retention =
    * `keepVersions` commits). */
  def versions: Seq[Long] = log.versions

  /** Time travel: the table exactly as committed at `version` — every
    * manifest is a complete immutable snapshot, so a training pipeline
    * can pin one and re-read IDENTICAL data regardless of concurrent
    * appends/compactions (within the retention window; a vacuumed
    * version throws FileNotFound). */
  def recordsAt(version: Long): DataFrame =
    log.readEntries(log.readManifest(version), RecordStore.schema)
}

/** Optional secondary copy of the record table laid out for work-id
  * lookups — the Spark equivalent of the reference's `work-id-index` GSI
  * (README.md:183-202), manifested like its primary. Rows are
  * repartitioned by a short work_id prefix and written partitioned by it
  * so a work-id query reads a partition-pruned slice instead of scanning
  * every time bucket. Null work_ids are dropped (the reference's random
  * `null<id>` sentinel exists precisely because such rows are never
  * queried by work_id).
  */
final class WorkIdIndex(spark: SparkSession, path: String,
    prefixLen: Int = 2,
    keepVersions: Int = 3,
    committer: Option[ManifestCommitter] = None) extends ManifestedStore {

  protected val log = new ManifestLog(spark, path, keepVersions, committer)

  private def withPrefix(df: DataFrame): DataFrame =
    df.filter(col("work_id").isNotNull)
      .withColumn("work_id_prefix", substring(col("work_id"), 0, prefixLen))

  /** (Re)build from the record table into one fresh data dir, committed
    * as a full replacement: every prefix cell points at the new dir
    * only (plus any dirs appended by writers racing the rebuild, which
    * the commit mutate keeps — their rows may transiently duplicate
    * ours, which work-id READS tolerate by design: the querier dedups
    * by id within a page exactly like the reference's GSI reads). A
    * RACING rebuild is recognized by its tagged dir name and yielded
    * to ([[WorkIdIndex.rebuildMutate]]): exactly one replacement wins,
    * never a doubled index. */
  def rebuild(store: RecordStore): Unit = {
    val snapshot = log.resolve().map(_._2).getOrElse(Map.empty)
    val newDir = log.freshDir(tag = "rebuild")
    withPrefix(store.records)
      .repartition(col("work_id_prefix"))
      .sortWithinPartitions(col("work_id"), col("what"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("work_id_prefix")
      .parquet(log.dataPath(newDir).toString)
    val cells = log.listCells(newDir, WorkIdIndex.LevelPrefixes)
    // empty source (no non-null work_ids): the rebuild still commits, so
    // a stale index empties out instead of keeping superseded entries
    if (cells.isEmpty) log.f.delete(log.dataPath(newDir), true)
    @volatile var yielded = false
    log.commitRetry { current =>
      val (entries, y) =
        WorkIdIndex.rebuildMutate(snapshot, cells, newDir)(current)
      yielded = y
      entries
    }
    if (yielded && cells.nonEmpty) log.f.delete(log.dataPath(newDir), true)
  }

  /** Incremental maintenance: append one ingest batch's record rows
    * (of `schema`, held by the driver; the streaming path — a full
    * rebuild per batch would scan the whole record table), written there
    * by [[DriverWrite]], one file per prefix cell. Bucket-duplicate rows
    * are fine: work-id queries dedup by id within a page exactly like
    * the reference's GSI reads. */
  private[store] def append(rows: Seq[InternalRow], schema: StructType): Unit = {
    val widAt = schema.fieldIndex("work_id")
    // the prefix as `withPrefix`'s substring computes it
    val indexed = rows.filterNot(_.isNullAt(widAt)).map(r => new JoinedRow(r,
      InternalRow(r.getUTF8String(widAt).substringSQL(0, prefixLen))))
    if (indexed.isEmpty) return
    log.append() { dir =>
      DriverWrite(spark, new ParquetFileFormat, log.dataPath(dir),
        schema.add("work_id_prefix", StringType), Seq("work_id_prefix"),
        indexed.iterator)
    }
  }

  /** Index rows of (`workId`, `what`); empty while no index is built. */
  def lookup(workId: String, what: String): DataFrame =
    find(workId, what).getOrElse(
      log.emptyDf(WorkIdIndex.schema).drop("work_id_prefix"))

  /** [[lookup]] read from the one prefix cell `workId` falls in, pruned
    * on the driver from a single manifest resolve; None when no index
    * has been built, so a caller can fall back to the record table. */
  private[graft] def find(workId: String, what: String): Option[DataFrame] = {
    val prefix = workId.take(prefixLen)
    log.resolve().map { case (_, entries) =>
      log.readEntries(entries.filter { case (cell, _) =>
        WorkIdIndex.parseCell(cell).forall(_ == prefix)
      }, WorkIdIndex.schema)
        .filter(col("work_id_prefix") === prefix &&
          col("work_id") === workId && col("what") === what)
        .drop("work_id_prefix")
    }
  }
}

object RecordStore {
  /** The columns a cell's path names, in path order. */
  private val PartitionColumns = Seq("time_bucket", "what")

  /** What the dedup probe reads of a row: its key, (time_bucket,
    * metadata.id). */
  private val IdKey = StructType(Seq(
    StructField("time_bucket", LongType),
    StructField("metadata", StructType(Seq(StructField("id", StringType))))))

  /** (time_bucket, what) of a `time_bucket=…/what=…` cell; None for a
    * cell of any other shape, which pruning then keeps. */
  private[store] def parseCell(cell: String): Option[(Long, String)] =
    cell.split('/') match {
      case Array(b, w) if b.startsWith("time_bucket=") && w.startsWith("what=") =>
        b.stripPrefix("time_bucket=").toLongOption
          .map(_ -> ExternalCatalogUtils.unescapePathName(w.stripPrefix("what=")))
      case _ => None
    }

  val metadataSchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("start", LongType, nullable = false),
    StructField("end", LongType, nullable = true),
    StructField("where", StringType, nullable = false),
    StructField("what", StringType, nullable = false),
    StructField("work_id", StringType, nullable = true),
    StructField("path", StringType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("hash", StringType, nullable = false)))

  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("time_bucket", LongType, nullable = false),
    StructField("what", StringType, nullable = false),
    StructField("where", StringType, nullable = false),
    StructField("work_id", StringType, nullable = true),
    StructField("create_time", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("metadata", metadataSchema, nullable = false)))
}

object WorkIdIndex {
  private[store] val LevelPrefixes = Seq("work_id_prefix=")

  /** The prefix a `work_id_prefix=…` cell holds; None for any other
    * shape, which pruning then keeps. */
  private[store] def parseCell(cell: String): Option[String] =
    if (cell.startsWith("work_id_prefix=") && !cell.contains('/'))
      Some(ExternalCatalogUtils.unescapePathName(
        cell.stripPrefix("work_id_prefix=")))
    else None

  /** Commit transform for a full rebuild into `newDir` (tagged
    * "rebuild" in its name): every cell of the new layout points at the
    * new dir plus post-snapshot appends; stale cells drop. If ANOTHER
    * rebuild's dir (recognized by tag, not present in our snapshot)
    * already sits in `current`, ours is concurrent with a replacement
    * that already landed — committing over it would duplicate every
    * indexed row, so the whole rebuild yields. Returns (new entries,
    * yielded). Pure — unit-tested against crafted race states. */
  private[store] def rebuildMutate(
      snapshot: Map[String, Seq[String]],
      cells: Seq[String],
      newDir: String)(current: Map[String, Seq[String]])
      : (Map[String, Seq[String]], Boolean) = {
    val snapshotDirs = snapshot.values.flatten.toSet
    val racingRebuild = current.values.flatten.exists(d =>
      d.contains("-rebuild-") && d != newDir && !snapshotDirs.contains(d))
    if (racingRebuild) (current, true)
    else {
      val keys = (current.keySet ++ cells).toSeq
      val entries = keys.flatMap { c =>
        val addedSince = current.getOrElse(c, Seq.empty)
          .diff(snapshot.getOrElse(c, Seq.empty))
        val dirs =
          (if (cells.contains(c)) Seq(newDir) else Seq.empty) ++ addedSince
        if (dirs.isEmpty) None else Some(c -> dirs)
      }.toMap
      (entries, false)
    }
  }

  /** Record schema plus the prefix partition column. */
  val schema: StructType =
    RecordStore.schema.add(StructField("work_id_prefix", StringType))
}
