package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent content-fingerprint index for INCREMENTAL exact dedup at
  * ingestion: each arriving batch is deduplicated against everything
  * ever ingested by consulting a tiny md5 index — never by rescanning
  * the corpus — and the survivors' fingerprints are registered for the
  * next batch. This closes the gap the streaming dedup deliberately
  * leaves (its state is watermark-bounded, so a duplicate arriving
  * weeks later passes); here history is complete and durable.
  *
  * Scale shape: the index holds (fp, doc_id) only — ~25 bytes/doc, a
  * few tens of GB for a billions-of-docs corpus — partitioned into
  * `buckets` md5-prefix cells. A batch's anti-join reads ONLY the
  * bucket partitions its own fingerprints land in (partition-pruned;
  * for the common small incremental batch that is a fraction of the
  * index), and the join itself shuffles just the fp projection, never
  * document content. Micro-batch ingestion appends one data dir per
  * commit; run [[compact]] periodically (like the record table's) so
  * the files every probe lists and opens stay bounded.
  *
  * Contracts:
  *   - `idCol` must be an integral column (stored as BIGINT) — a silent
  *     cast of e.g. string ids to null would otherwise suppress content
  *     forever without ever emitting it, so non-integral types are
  *     rejected up front;
  *   - rows with NULL `textCol` are DROPPED (not registered, not
  *     returned): a null document has no content identity, and any
  *     other policy would either crash the micro-batch loop or register
  *     a meaningless fingerprint;
  *   - `buckets` is persisted in a `_buckets` marker at creation and
  *     validated on every subsequent writer — opening with a different
  *     value would make the pruned history scan silently miss matching
  *     partitions.
  *
  * Concurrency: a versioned-manifest table ([[ManifestLog]]) like the
  * record/latest stores — ingest writes an immutable bucket-partitioned
  * data dir and advances the manifest through the commit-CAS retry
  * loop. The returned new-docs DataFrame is built against the PINNED
  * pre-ingest snapshot (the resolved entries, not the live table), so
  * recomputing it after the commit — or after later ingests — yields
  * the same rows instead of anti-joining against fingerprints this very
  * batch just registered.
  *
  * Idempotence: within-batch duplicate texts collapse to the smallest
  * `idCol` row (exact duplicate rows collapse to one); replaying a
  * whole batch (crash retry, at-least-once delivery) finds every
  * fingerprint already present and commits nothing.
  */
final class FingerprintIndex(spark: SparkSession, path: String,
    buckets: Int = 256,
    keepVersions: Int = 3,
    committer: Option[ManifestCommitter] = None,
    bloomMaxKeys: Long = 4000000L,
    bloomMinHistoryRatio: Long = 8L) extends ManifestedStore {

  require(buckets >= 1, s"buckets must be >= 1, got $buckets")
  require(bloomMaxKeys >= 0, s"bloomMaxKeys must be >= 0, got $bloomMaxKeys")
  require(bloomMinHistoryRatio >= 0,
    s"bloomMinHistoryRatio must be >= 0, got $bloomMinHistoryRatio")

  protected val log = new ManifestLog(spark, path, keepVersions, committer)

  private def bucketCol(fp: org.apache.spark.sql.Column) =
    pmod(conv(substring(fp, 1, 8), 16, 10).cast("long"), lit(buckets))
      .cast("int")

  /** Persist-or-validate the bucket count: the stored partitioning is
    * only consultable with the modulus it was written under. */
  private def ensureBuckets(): Unit =
    Fs.requireMarker(log.f, new Path(path, "_buckets"), buckets.toString) {
      stored =>
      s"index at $path was created with $stored buckets; opened with " +
        s"$buckets — the pruned history scan would miss matching " +
        "partitions"
    }

  private def requireNoCollisions(batch: DataFrame, cols: Seq[String]): Unit =
    cols.foreach(c => require(!batch.columns.contains(c),
      s"input column '$c' collides with a FingerprintIndex working column"))

  /** Pre-touch the live snapshot's filesystem metadata — list every
    * cell leaf and read every parquet footer, driver-side, no data
    * scan — so a fresh streaming driver's FIRST batch doesn't pay the
    * cold listing/footer cost mid-batch (the PROFILE round-9c
    * first-touch outlier). Also seeds the footer row-count cache the
    * bloom ratio gate reads. Optional: skipping it costs latency on
    * batch 1 only, never correctness. Returns the committed rows. */
  def warm(): Long =
    try log.rowCount()
    catch { case scala.util.control.NonFatal(_) => 0L }

  /** History rows pruned to what this batch's fingerprints can match,
    * the [[GramIndex]] two-layer discipline: (1) only the md5-prefix
    * bucket partitions the batch touches — decisive for tiny batches
    * but saturating once a batch carries more than a few thousand
    * distinct fingerprints; (2) past saturation, a no-false-negative
    * Bloom filter over the batch's fingerprints applied to the pruned
    * scan, keeping the anti-join/ownership exchange proportional to
    * the BATCH rather than the history. Ratio-gated exactly like the
    * gram index (`bloomMinHistoryRatio` × batch keys of estimated
    * touched rows, from footer-derived committed rows; `bloomMaxKeys`
    * caps the filter literal) — here the filter build is one tiny
    * aggregate over per-doc fingerprints, so the gate's main job is
    * skipping pure overhead when history ≈ batch. `fpsCol` rows must
    * carry `__fp`. */
  private def prunedHistory(fps: DataFrame,
      entries: Map[String, Seq[String]]): DataFrame = {
    val perBucket = fps
      .select(bucketCol(col("__fp")).as("__b"), col("__fp"))
      .groupBy(col("__b"))
      .agg(count_distinct(col("__fp")).as("__n"))
      .collect()
    val touched = perBucket.map(_.getInt(0)).toSeq
    val nKeys = perBucket.map(_.getLong(1)).sum
    val pruned = log.readEntries(entries, FingerprintIndex.schema)
      .filter(col("bucket").isInCollection(touched))
    val estTouchedRows =
      if (touched.isEmpty) 0L
      else FingerprintIndex.estRows(log, "") * touched.size / buckets
    if (nKeys > 0 && nKeys <= bloomMaxKeys &&
        estTouchedRows >= bloomMinHistoryRatio * nKeys) {
      // nKeys IS the exact distinct count (per-bucket distinct sums,
      // bucket a pure function of the key) — skip the sizing action
      val bloom = graft.operators.Bloom.buildWithKnownCount(
        fps.select(col("__fp")), "__fp", nKeys)
      pruned.filter(bloom.mightContain(col("fp")))
    } else pruned
  }

  /** The committed fingerprint table: (fp, doc_id, bucket). */
  def fingerprints: DataFrame = log.resolve() match {
    case None => log.emptyDf(FingerprintIndex.schema)
    case Some((_, entries)) =>
      log.readEntries(entries, FingerprintIndex.schema)
  }

  /** Dedup `batch` against all previously ingested content, register
    * the survivors, and return them (original columns; null-`textCol`
    * rows are dropped — see the class contract). */
  def ingest(batch: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    requireNoCollisions(batch, Seq("__fp", "__bucket", "__min_id"))
    FingerprintIndex.requireIntegralId(batch, idCol)
    ensureBuckets()
    val withFp = batch
      .filter(col(textCol).isNotNull)
      .withColumn("__fp", md5(col(textCol)))
      .withColumn("__bucket", bucketCol(col("__fp")))
    // within-batch canonicalization: smallest id per fingerprint wins
    // (deterministic under any partitioning, unlike dropDuplicates);
    // the trailing dropDuplicates collapses EXACT repeats of the winner
    // itself (same id + same text delivered twice in one batch)
    val canon = withFp.join(
      withFp.groupBy(col("__fp")).agg(min(col(idCol)).as("__min_id")),
      Seq("__fp"))
      .filter(col(idCol) === col("__min_id"))
      .drop("__min_id")
      .dropDuplicates("__fp")
      // pin the canonicalized batch ONCE (the GramIndex.ingest /
      // NearDupIndex.batchBands one-signature-computation discipline):
      // prunedHistory's bucket collect, the bloom build, the parquet
      // write, and the caller's consumption of the returned frame would
      // otherwise EACH re-run the md5 + min-id shuffle join — 3-4 full
      // batch recomputations per ingest
      .transform(graft.operators.Checkpoints.pin(_))
    // pin the pre-ingest snapshot: the anti-join must keep reading THESE
    // dirs even when recomputed after our own commit advances the table
    val newDocs = log.resolve() match {
      case None => canon
      case Some((_, entries)) =>
        // bucket-pruned + ratio-gated-bloom history scan (see
        // prunedHistory): rows the filter drops provably match no
        // batch fingerprint, so the anti-join keeps exactly the same
        // survivors
        val existing = prunedHistory(canon, entries)
          .select(col("fp").as("__fp"))
        canon.join(existing, Seq("__fp"), "left_anti")
    }
    log.append() { dir =>
      newDocs
        .select(col("__fp").as("fp"), col(idCol).cast("long").as("doc_id"),
          col("__bucket").as("bucket"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(log.dataPath(dir).toString)
      log.listCells(dir, FingerprintIndex.LevelPrefixes)
    }
    newDocs.drop("__fp", "__bucket")
  }

  /** [[ingest]] with REPLAY-STABLE emission: returns the batch rows
    * that are the registered canonical owner of their fingerprint in
    * the post-commit index — derived from index STATE, not from the
    * ingest delta. A fresh batch gets exactly its new canonical rows; a
    * replayed batch (at-least-once delivery, foreachBatch retry after a
    * crash between commit and sink) re-derives the IDENTICAL rows from
    * the fingerprints it registered last time, instead of the empty
    * delta [[ingest]] would report. This is what makes an
    * ingest-then-emit micro-batch idempotent end to end.
    *
    * Same bucket pruning as [[ingest]]: the ownership join reads only
    * the index partitions this batch's fingerprints land in. */
  def ingestResolved(batch: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // ALL validation precedes the durable ingest side effect
    requireNoCollisions(batch, Seq("__fp", "__bucket", "__min_id", "__owner"))
    ingest(batch, textCol, idCol)
    val withFp = batch
      .filter(col(textCol).isNotNull)
      .withColumn("__fp", md5(col(textCol)))
    // pin the post-commit snapshot (recompute-stable, like ingest's).
    // Ownership is min(doc_id) per fp: two RACING writers that both
    // registered the same fingerprint (each anti-joined a snapshot
    // missing the other) leave two rows for it — the min rule makes one
    // of them the deterministic canonical everywhere downstream, so the
    // race degrades to a rare duplicate index row, never a duplicate
    // emission from later batches. Bloom-dropped rows match no batch
    // fingerprint, so every fp this groupBy aggregates keeps ALL its
    // history rows — the min is unchanged
    val owners = (log.resolve() match {
      case None => log.emptyDf(FingerprintIndex.schema)
      case Some((_, entries)) => prunedHistory(withFp, entries)
    }).groupBy(col("fp")).agg(min(col("doc_id")).as("__owner"))
    withFp
      .join(owners.select(col("fp").as("__fp"), col("__owner")), Seq("__fp"))
      .filter(col(idCol) === col("__owner"))
      .drop("__owner")
      .dropDuplicates("__fp") // exact repeats of the owner row collapse
      .drop("__fp")
  }

  /** Rewrite fragmented bucket cells through [[ManifestLog.compact]],
    * collapsing any racing-writer duplicate fingerprints to the min
    * doc_id on the way. Micro-batch ingestion needs this periodically:
    * every commit adds one data dir, and snapshot reads list and open
    * one more file per touched cell. Returns the number of cells
    * rewritten. */
  def compact(filesPerPartition: Int = 1): Int =
    log.compact(filesPerPartition) { (fragmented, dir) =>
      log.readEntries(fragmented, FingerprintIndex.schema)
        .groupBy(col("fp"), col("bucket"))
        .agg(min(col("doc_id")).as("doc_id"))
        .withColumn("__salt", pmod(xxhash64(col("fp")), lit(filesPerPartition)))
        .repartition(math.max(fragmented.size * filesPerPartition, 1),
          col("bucket"), col("__salt"))
        // fp-sorted row groups let the anti-join's parquet scan skip by
        // min/max when Spark pushes fp equality sets down
        .sortWithinPartitions(col("fp"))
        .drop("__salt")
        .select(col("fp"), col("doc_id"), col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(log.dataPath(dir).toString)
    }

  /** Index economics from filesystem metadata only (no data scan) —
    * see [[ManifestLog.storeStats]]. */
  def stats(): ManifestLog.StoreStats = log.storeStats()

  /** [[compact]] on the [[ManifestLog.compactIfNeeded]] schedule. */
  def compactIfNeeded(maxLiveDirs: Int = 8, filesPerPartition: Int = 1): Int =
    log.compactIfNeeded(maxLiveDirs)(compact(filesPerPartition))
}

object FingerprintIndex {
  /** Refuses a non-integral `idCol`: a lossy cast to BIGINT would
    * register null owners and permanently suppress content without
    * emitting it. Every dedup store keyed by document id checks this. */
  private[store] def requireIntegralId(batch: DataFrame, idCol: String): Unit =
    batch.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case t => throw new IllegalArgumentException(
        s"idCol '$idCol' must be an integral type, got $t — a lossy " +
          "cast would register null owners and permanently suppress " +
          "content without emitting it")
    }

  /** Committed fingerprint rows for the bloom ratio gate:
    * footer-derived ([[ManifestLog.rowCount]], cached per immutable
    * dir), falling back to bytes ÷ [[BytesPerFpRow]] only when footers
    * are unreadable. */
  private[store] def estRows(log: ManifestLog, cellPrefix: String): Long =
    try log.rowCountBudgeted(cellPrefix, ManifestLog.DefaultFooterBudget)
    catch { case scala.util.control.NonFatal(_) =>
      log.storeStats(cellPrefix).bytes / BytesPerFpRow }

  /** Fallback-only bytes-per-index-row (hex fp + doc_id in snappy
    * parquet — the same order as [[GramIndex.BytesPerGramRow]]; used
    * only when parquet footers cannot be read). */
  val BytesPerFpRow: Long = 40L

  val LevelPrefixes: Seq[String] = Seq("bucket=")
  val schema: StructType = StructType(Seq(
    StructField("fp", StringType),
    StructField("doc_id", LongType),
    StructField("bucket", IntegerType)))
}
