package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, Literal, XxHash64}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.unsafe.types.UTF8String

/** Compacted latest table replacing the reference's 1-row-per-
  * `what:where` DynamoDB table (`storage.py:78-137`), stored as a
  * versioned-manifest table (see [[ManifestLog]] for the layout and
  * commit protocol) so readers are never exposed to a partial rewrite
  * and upserts rewrite only the key buckets a batch touches.
  *
  * A manifest maps each key bucket (`kp = pmod(xxhash64(what, where),
  * nBuckets)`, keyed by the bare number) to the data version holding its
  * current rows in a `kp=N` leaf. Every read lists its leaves with
  * [[ManifestLog.listLeaves]], so a referenced leaf that has vanished
  * fails the read loudly: the table reads as one relation over them
  * ([[ManifestLog.readEntries]]), and an upsert's merge reads them on
  * the driver ([[DriverRead]]). The commit
  * CAS goes through the [[ManifestCommitter]] seam — rename-as-commit
  * by default, a [[ConditionalPutCommitter]] (the reference's DynamoDB
  * conditional-put shape) on object stores without fail-if-exists
  * rename.
  *
  * Incremental maintenance: an upsert merges ONLY the buckets present in
  * the batch, on the driver — one key touches one bucket, so the rewrite
  * is O(batch keys / nBuckets of the table), not O(table). Buckets no
  * batch row changes keep their old manifest entries, and an upsert
  * that changes no row commits nothing. Superseded versions beyond
  * `keepVersions` are vacuumed after commit; `keepVersions >= 2` leaves
  * a window for in-flight readers on the previous snapshot.
  *
  * Driver memory: a merge collects the touched buckets' rows (one per
  * key, never history) and fails first, loudly, when their leaves list
  * more than [[LatestStore.MaxMergeBytes]]; the fix is a fresh table
  * with a larger `nBuckets`.
  */
final class LatestStore(spark: SparkSession, path: String,
    nBuckets: Int = 16, keepVersions: Int = 3,
    committer: Option[ManifestCommitter] = None) extends ManifestedStore {

  protected val log = new ManifestLog(spark, path, keepVersions, committer)

  /** The rows of the kp buckets `keep` accepts in `snapshot` (manifest
    * entries, bare kp -> data dirs; None reads as an empty table), read
    * through [[ManifestLog.readEntries]] from each bucket's `kp=N` leaf.
    * A referenced leaf that is missing fails the read. */
  private def bucketRows(snapshot: Option[Map[String, Seq[String]]],
      keep: Int => Boolean = _ => true): DataFrame = snapshot match {
    case None => log.emptyDf(RecordStore.schema)
    case Some(entries) => log.readEntries(entries.collect {
        case (kp, dirs) if keep(kp.toInt) => s"kp=$kp" -> dirs
      }, LatestStore.Stored).drop("kp")
  }

  /** Current snapshot: all buckets of the current manifest. */
  def latest: DataFrame = bucketRows(log.resolve().map(_._2))

  /** The row of (`what`, `where`), if any, read from the one kp bucket
    * [[upsert]] writes that key to. The bucket is computed on the driver
    * from one manifest resolve, so nothing else is listed or scanned. */
  def lookup(what: String, where: String): DataFrame = {
    lazy val kp = LatestStore.bucketOf(what, where, modulus)
    bucketRows(log.resolve().map(_._2), _ == kp)
      .filter(col("what") === what && col("where") === where)
  }

  // the modulus the table's upserts stamped (write-once, so read once);
  // this opener's until a stamp exists
  @volatile private var stamped: Option[Int] = None
  private def modulus: Int = stamped.getOrElse {
    val m = Fs.readMarker(log.f, new Path(path, "_buckets")).map(_.toInt)
    stamped = m
    m.getOrElse(nBuckets)
  }

  /** Persist-or-validate `nBuckets` (the [[FingerprintIndex]] marker
    * discipline): an upsert under a different modulus would read the
    * wrong bucket for existing keys and leave TWO live rows for one
    * (what, where) — the invariant the whole table exists to hold. */
  private def ensureBuckets(): Unit =
    Fs.requireMarker(log.f, new Path(path, "_buckets"), nBuckets.toString) {
      stored =>
        s"latest table at $path was created with $stored buckets; opened " +
          s"with $nBuckets — merges would miss existing keys and break " +
          "the one-row-per-(what, where) invariant"
    }

  /** Monotone upsert: newest (metadata.start, create_time) per (what,
    * where) wins; replay-safe (applying the same batch twice is a no-op).
    * Only buckets where a batch row beats the stored row of its key are
    * re-merged and rewritten; when no batch row does (a replay), nothing
    * is written or committed, so a replay spends no retention slot.
    *
    * The batch is collected once (a local frame fires no job). Each
    * attempt lists the touched buckets' `kp=` leaves, refuses a merge
    * whose listed file lengths exceed [[LatestStore.MaxMergeBytes]]
    * before it opens any file, reads their stored rows on the driver
    * ([[DriverRead]], no Spark job), picks the batch rows that win
    * there ([[LatestStore.beating]]) and writes one file per changed kp
    * with [[DriverWrite]]; a lost commit race deletes that dir and
    * merges again against the new state. */
  def upsert(batch: DataFrame): Unit = upsert(batch, LatestStore.MaxMergeBytes)

  /** [[upsert]] refusing a merge whose touched leaves list more than
    * `maxMergeBytes`. */
  private[store] def upsert(batch: DataFrame, maxMergeBytes: Long): Unit = {
    ensureBuckets()
    val cols = RecordStore.schema.fieldNames.map(col).toSeq
    val batchWinners = LatestStore.winners(batch.select(cols: _*).collect().toSeq)
    val touched = batchWinners.map(LatestStore.bucketOf(_, modulus)).distinct.sorted
    if (touched.isEmpty) return
    val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(RecordStore.schema)
    val toScala =
      CatalystTypeConverters.createToScalaConverter(RecordStore.schema)

    var attempts = 0
    var committed = false
    while (!committed) {
      attempts += 1
      if (attempts > 10)
        throw new java.io.IOException(s"upsert lost $attempts commit races under $path")
      val (baseV, entries) =
        log.resolve().getOrElse((0L, Map.empty[String, Seq[String]]))
      val leaves = log.listLeaves(entries.collect {
        case (kp, dirs) if touched.contains(kp.toInt) => s"kp=$kp" -> dirs
      }, LatestStore.Stored)
      val bytes = leaves.sizeInBytes
      if (bytes > maxMergeBytes) throw new IllegalStateException(
        s"latest table at $path: merging ${touched.size} of its $nBuckets " +
          s"buckets would collect $bytes stored bytes on the driver, over the " +
          s"bound of $maxMergeBytes bytes; write the keys into a fresh table " +
          s"with a larger nBuckets than $nBuckets")
      val read = Seq.newBuilder[Row]
      DriverRead(spark, leaves, RecordStore.schema) { r =>
        read += toScala(r).asInstanceOf[Row]
      }
      val storedRows = read.result()
      val won = LatestStore.beating(storedRows, batchWinners)
      if (won.isEmpty) return
      val changed = won.map(LatestStore.bucketOf(_, modulus)).toSet
      val merged = LatestStore.winners(
        storedRows.filter(r => changed(LatestStore.bucketOf(r, modulus))) ++ won)
      val newV = baseV + 1
      // the data dir carries a writer nonce (see ManifestLog.newDataDirName),
      // so two writers racing for version N write disjoint dirs
      val newDataVersion = log.newDataDirName(newV)
      DriverWrite(spark, new ParquetFileFormat, log.dataPath(newDataVersion),
        LatestStore.Stored, Seq("kp"), merged.iterator.map(r => new JoinedRow(
          toCatalyst(r).asInstanceOf[InternalRow],
          InternalRow(LatestStore.bucketOf(r, nBuckets)))))
      committed = log.tryCommit(newV,
        entries ++ changed.map(_.toString -> Seq(newDataVersion)))
      if (!committed)
        // lost the race: another writer committed baseV+1 first; drop our
        // orphaned data version and re-merge against the new state
        log.f.delete(log.dataPath(newDataVersion), true)
    }
    log.vacuum()
  }

  /** Resolvable snapshot versions, oldest first (retention =
    * `keepVersions` commits). */
  def versions: Seq[Long] = log.versions

  /** Time travel: the latest table exactly as committed at `version`
    * (complete immutable snapshot; vacuumed versions throw — reading
    * the manifest or any reclaimed leaf fails loudly rather than
    * returning a silently partial snapshot). */
  def latestAt(version: Long): DataFrame =
    bucketRows(Some(log.readManifest(version)))
}

object LatestStore {
  /** Stored rows: [[RecordStore.schema]] plus the `kp` partition column. */
  private val Stored = RecordStore.schema.add("kp", IntegerType)

  /** Bound on the stored parquet bytes one merge collects to the driver.
    * Measured (4 cores, JDK 17) on archive-shaped record rows (32-hex ids
    * and hashes, `s3://` urls): 100,000 keys stored 6.5 MB, about 16,000
    * rows per MB, and collected into about 0.9 KB of heap per row, so
    * 8 MB admits about 130,000 rows, about 120 MB once collected. */
  val MaxMergeBytes: Long = 8L << 20

  private val WhatAt = RecordStore.schema.fieldIndex("what")
  private val WhereAt = RecordStore.schema.fieldIndex("where")
  private val CreateAt = RecordStore.schema.fieldIndex("create_time")
  private val MetaAt = RecordStore.schema.fieldIndex("metadata")
  private val StartAt = RecordStore.metadataSchema.fieldIndex("start")
  private val IdAt = RecordStore.metadataSchema.fieldIndex("id")

  /** Ids compare as Spark compares strings: binary UTF-8, which differs
    * from Java's UTF-16 `compareTo` on supplementary characters. */
  private implicit val utf8Order: Ordering[UTF8String] =
    Ordering.fromLessThan(_.compareTo(_) < 0)

  private val rank: Ordering[Row] = Ordering.by { (r: Row) =>
    val m = r.getStruct(MetaAt)
    (m.getLong(StartAt), r.getLong(CreateAt),
      UTF8String.fromString(m.getString(IdAt)))
  }

  private def key(r: Row): (String, String) =
    (r.getString(WhatAt), r.getString(WhereAt))

  /** The row per (what, where) that `upsert`'s merge window ranks first
    * — newest metadata.start, then create_time, then metadata.id — over
    * rows in [[RecordStore.schema]] column order. */
  private[store] def winners(rows: Seq[Row]): Seq[Row] =
    rows.groupBy(key).values.map(_.max(rank)).toSeq

  /** The rows of `batch` (one per key) that rank strictly above the
    * `stored` row of their key, or whose key has none: the rows an
    * upsert must write. A tie keeps the stored row. */
  private[store] def beating(stored: Seq[Row], batch: Seq[Row]): Seq[Row] = {
    val have = stored.map(r => key(r) -> r).toMap
    batch.filter(b => have.get(key(b)).forall(rank.gt(b, _)))
  }

  /** The kp bucket [[LatestStore.upsert]] writes (`what`, `where`) to:
    * the same `pmod(xxhash64(what, where), nBuckets)`, evaluated on the
    * driver without a Spark job. */
  def bucketOf(what: String, where: String, nBuckets: Int): Int = {
    val h = new XxHash64(Seq(Literal(what), Literal(where))).eval()
    java.lang.Math.floorMod(h.asInstanceOf[Long], nBuckets.toLong).toInt
  }

  /** [[bucketOf]] of a row in [[RecordStore.schema]] column order. */
  private def bucketOf(r: Row, nBuckets: Int): Int =
    bucketOf(r.getString(WhatAt), r.getString(WhereAt), nBuckets)
}
