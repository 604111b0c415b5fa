package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Persistent NEAR-duplicate index for incremental fuzzy dedup at
  * ingestion: each arriving batch is checked against everything ever
  * ingested by probing a persisted MinHash-LSH band-postings table —
  * never by rescanning or re-signing the corpus — and the survivors'
  * postings are registered for the next batch. This is the near-dup
  * twin of [[FingerprintIndex]] (which catches byte-exact repeats):
  * a lightly-edited copy of a document ingested weeks earlier is
  * caught here, where both the exact index and any batch-local LSH
  * join ([[graft.operators.Dedup.minhashCandidates]]) see nothing.
  * (The reference has no dedup beyond response-level id dedup,
  * `api/datalake_api/querier.py:153-163`; this operator is part of the
  * training-data-pipeline surface the engine adds on top.)
  *
  * Two row kinds live under one versioned manifest so a batch's
  * postings and assignments land in ONE atomic commit:
  *
  *   - `kind=postings/bucket=N`: (band, key, doc_id) — one row per
  *     LSH band per CANONICAL document, partitioned by an md5-prefix
  *     bucket of the band key. A probe reads only the bucket
  *     partitions its own band keys land in (partition-pruned).
  *   - `kind=docs/bucket=N`: (doc_id, canonical_id, text_norm) — the
  *     durable per-document verdict, partitioned by a hash bucket of
  *     doc_id. Canonical docs carry their normalized text (the
  *     edit-distance confirm needs it); suppressed docs carry NULL
  *     (they are never confirm targets). Replays re-derive their
  *     emission from these rows.
  *
  * Scale shape: postings are ~50 bytes × bands per canonical doc and
  * docs rows are one truncated normalized text per canonical — a few
  * hundred GB for a billions-of-docs corpus, vs 100 TB of content.
  * A batch probe touches only the band-key buckets and doc-id buckets
  * its own rows hash into, and every join ships projections, never
  * document content. Candidate volume is LSH-bounded (band
  * agreement), then confirmed with the banded Levenshtein
  * (`levenshtein(a, b, maxDist)` — O(L·k) per pair, the same
  * two-stage candidate→confirm pipeline as `q_edit_distance`).
  *
  * Within-batch semantics: fresh docs are clustered by confirmed
  * near-dup pairs (connected components — transitive, like any
  * production fuzzy dedup); a cluster any member of which confirms
  * against history collapses into the smallest matched history
  * canonical, otherwise the smallest member id becomes the cluster's
  * canonical and registers. Only canonicals register postings, so
  * probes always return canonical representatives.
  *
  * Idempotence / replay: every batch doc's verdict is PERSISTED, so a
  * replayed batch (crash retry, at-least-once delivery) finds all its
  * ids already registered, commits nothing, and re-emits the
  * identical assignments from index state — the [[FingerprintIndex]]
  * `ingestResolved` discipline.
  *
  * Contracts (shared with [[FingerprintIndex]], same reasons):
  * integral `idCol` required; NULL-`textCol` rows dropped; `buckets`
  * pinned in a `_buckets` marker and validated on reopen.
  */
final class NearDupIndex(spark: SparkSession, path: String,
    buckets: Int = 64,
    numHashes: Int = 8,
    rowsPerBand: Int = 4,
    maxDist: Int = 64,
    normChars: Int = 4000,
    keepVersions: Int = 3,
    committer: Option[ManifestCommitter] = None,
    bloomMaxKeys: Long = 4000000L,
    bloomMinHistoryRatio: Long = 8L,
    broadcastMaxCandidates: Long = 4000000L) extends ManifestedStore {

  require(buckets >= 1, s"buckets must be >= 1, got $buckets")
  require(bloomMaxKeys >= 0 && bloomMinHistoryRatio >= 0,
    "bloom knobs must be >= 0")
  require(broadcastMaxCandidates >= 0, "broadcastMaxCandidates must be >= 0")
  require(numHashes % rowsPerBand == 0,
    s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
  require(maxDist >= 0 && normChars >= 1, "maxDist/normChars out of range")

  protected val log = new ManifestLog(spark, path, keepVersions, committer)

  import NearDupIndex._

  // ---- layout helpers ------------------------------------------------

  /** Band keys are md5 hex strings — same prefix-bucket discipline as
    * [[FingerprintIndex]]'s fp bucketing. */
  private def keyBucket(key: Column): Column =
    pmod(conv(substring(key, 1, 8), 16, 10).cast("long"), lit(buckets))
      .cast("int")

  /** Doc ids bucket through xxhash64 (ids may be dense ranges or
    * shifted namespaces; a plain modulus would skew). */
  private def idBucket(id: Column): Column =
    pmod(xxhash64(id.cast("long")), lit(buckets)).cast("int")

  /** The `q_edit_distance` normalization (lowercase, whitespace
    * collapse, printable-ASCII projection — the projection is what
    * makes Spark's codepoint DP and a byte-based oracle agree),
    * truncated to `normChars` so stored text and per-pair DP cost are
    * capped regardless of document length. Both confirm sides truncate
    * identically, so the band contract still holds on the prefix. */
  private def normCol(textCol: String): Column =
    substring(
      regexp_replace(
        regexp_replace(lower(trim(col(textCol))), "[ \\t\\n\\x0B\\f\\r]+", " "),
        "[^\\x20-\\x7E]", ""),
      1, normChars)

  /** Persist-or-validate EVERY parameter that changes stored identity,
    * not just the bucket modulus: `numHashes`/`rowsPerBand` define the
    * band keys and `normChars` the normalized text they hash — opening
    * an index built under different values would silently miss every
    * historical near-duplicate (the [[GramIndex]] `w` lesson).
    * `maxDist` is deliberately NOT pinned: it is a confirm threshold,
    * tunable per open without changing what is stored. [[probe]] only
    * reads the marker (see [[Fs.requireMarker]]). */
  private def ensureBuckets(createIfMissing: Boolean = true): Unit = {
    val want =
      s"buckets=$buckets;numHashes=$numHashes;" +
        s"rowsPerBand=$rowsPerBand;normChars=$normChars"
    Fs.requireMarker(log.f, new Path(path, "_buckets"), want,
      createIfMissing) { stored =>
      s"index at $path was created with '$stored'; opened with '$want' " +
        "— a band/normalization mismatch silently misses every " +
        "historical near-duplicate"
    }
  }

  private def requireNoCollisions(batch: DataFrame, cols: Seq[String]): Unit =
    cols.foreach(c => require(!batch.columns.contains(c),
      s"input column '$c' collides with a NearDupIndex working column"))

  private def kindEntries(entries: Map[String, Seq[String]], kind: String) =
    entries.filter { case (cell, _) => cell.startsWith(s"kind=$kind/") }

  /** Pre-touch the live snapshot's filesystem metadata (list cell
    * leaves + read parquet footers for BOTH kinds, driver-side) so a
    * fresh streaming driver's first batch doesn't pay the cold
    * listing/footer cost mid-batch; also seeds the footer row-count
    * cache behind the bloom ratio gate. Optional — batch-1 latency
    * only, never correctness. Returns the committed rows. */
  def warm(): Long =
    try log.rowCount()
    catch { case scala.util.control.NonFatal(_) => 0L }

  /** The committed band postings: (band, key, doc_id, kind, bucket). */
  def postings: DataFrame = log.resolve() match {
    case None => log.emptyDf(postingsSchema)
    case Some((_, entries)) =>
      log.readEntries(kindEntries(entries, "postings"), postingsSchema)
  }

  /** The committed per-document verdicts:
    * (doc_id, canonical_id, text_norm, kind, bucket). */
  def assignments: DataFrame = log.resolve() match {
    case None => log.emptyDf(docsSchema)
    case Some((_, entries)) =>
      log.readEntries(kindEntries(entries, "docs"), docsSchema)
  }

  // ---- probe ---------------------------------------------------------

  /** Confirmed near-dup matches of `batch` against the CURRENT index
    * snapshot, WITHOUT mutating the index: (doc_id, hist_id,
    * edit_dist, sim_micro), one row per confirmed (batch doc, history
    * canonical) pair. Candidate generation is the LSH band equi-join
    * against the postings partitions the batch's own band keys bucket
    * into (partition-pruned, like [[FingerprintIndex]]'s anti-join);
    * the confirm reads only the candidate canonicals' doc-bucket
    * partitions and runs the banded Levenshtein on the stored
    * normalized text. Self-pairs (same id) are excluded. */
  def probe(batch: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    requireNoCollisions(batch, WorkingCols)
    FingerprintIndex.requireIntegralId(batch, idCol)
    ensureBuckets(createIfMissing = false)
    val clean = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(textCol).as("__text"), normCol(textCol).as("__t"))
    log.resolve() match {
      case None => emptyMatches
      case Some((_, entries)) =>
        confirmedVsHistory(batchBands(clean),
          clean.select(col("__id").as("doc_id"), col("__t").as("__ta")),
          entries)
    }
  }

  /** LSH band rows of a cleaned batch, bucketed like the stored
    * postings. Eagerly checkpointed: each caller both collects the
    * touched buckets (an action) and joins on the rows — one signature
    * computation, not two. */
  private def batchBands(clean: DataFrame): DataFrame =
    Dedup.minhashBands(clean, numHashes, rowsPerBand,
      textCol = "__text", idCol = "__id")
      .select(col("doc_id"), col("band"), col("key"))
      .withColumn("bucket", keyBucket(col("key")))
      .transform(graft.operators.Checkpoints.pin(_))

  /** Shared candidate→confirm pipeline: band join against the PINNED
    * snapshot's postings, then banded-Levenshtein confirm against the
    * stored canonical texts. `bands` is [[batchBands]] output; `norm`
    * carries (doc_id, __ta) — the batch docs' normalized text. */
  private def confirmedVsHistory(bands: DataFrame, norm: DataFrame,
      entries: Map[String, Seq[String]]): DataFrame = {
    val postingEntries = kindEntries(entries, "postings")
    if (postingEntries.isEmpty) return emptyMatches
    // two-layer history pruning, the GramIndex/FingerprintIndex
    // discipline: bucket partitions first, then (ratio-gated) a
    // no-false-negative Bloom filter over the batch's own (band, key)
    // pairs — postings it drops can join no batch band, so the
    // candidate set is exactly preserved while the history leg stays
    // proportional to the batch once bucket pruning saturates
    val bk = concat(col("band").cast("string"), lit(":"), col("key"))
    val perBucket = bands
      .select(col("bucket"), bk.as("__bk"))
      .groupBy(col("bucket"))
      .agg(count_distinct(col("__bk")).as("__n"))
      .collect()
    val touched = perBucket.map(_.getInt(0)).toSeq
    val nKeys = perBucket.map(_.getLong(1)).sum
    if (touched.isEmpty) return emptyMatches
    val pruned = log.readEntries(postingEntries, postingsSchema)
      .filter(col("bucket").isInCollection(touched))
    val estTouchedRows =
      NearDupIndex.estPostingRows(log) * touched.size / buckets
    val hist = (if (nKeys > 0 && nKeys <= bloomMaxKeys &&
        estTouchedRows >= bloomMinHistoryRatio * nKeys) {
      // nKeys IS the exact distinct count (per-bucket distinct sums,
      // bucket a pure function of the key) — skip the sizing action
      val bloom = graft.operators.Bloom.buildWithKnownCount(
        bands.select(bk.as("__bk")), "__bk", nKeys)
      pruned.filter(bloom.mightContain(bk))
    } else pruned)
      .select(col("band"), col("key"), col("doc_id").as("hist_id"))
    // candidate pairs are LSH-bounded (a small multiple of the batch):
    // checkpoint so the bucket collection below doesn't re-run the join
    val cands = bands.join(hist, Seq("band", "key"))
      .filter(col("doc_id") =!= col("hist_id"))
      .select(col("doc_id"), col("hist_id")).distinct()
      .transform(graft.operators.Checkpoints.pin(_))
    // one action serves BOTH the bucket pruning list and the broadcast
    // gate's candidate count: the probe is job-overhead-bound at small
    // batch sizes (measured 25 jobs ≤ 0.33 s each at sf0.1), so every
    // collect saved is wall time
    val candStats = cands.groupBy(idBucket(col("hist_id")).as("__b"))
      .agg(count(lit(1)).as("__n")).collect()
    val candBuckets = candStats.map(_.getInt(0)).toSeq
    val nCands = candStats.map(_.getLong(1)).sum
    if (candBuckets.isEmpty) return emptyMatches
    // join the (LSH-bounded, checkpointed — sizes known) candidate set
    // to the RAW docs scan and collapse after: aggregating the whole
    // docs kind before the join exchanged every stored text_norm
    // (measured 68 MB/batch at 64× history, the confirm leg's whole
    // cost); broadcasting the candidates instead leaves the text scan
    // exchange-free and the min-collapse — racing writers can register
    // a doc twice; the duplicate texts are identical — touches only
    // candidate rows
    val histDocs = log.readEntries(kindEntries(entries, "docs"), docsSchema)
      .filter(col("bucket").isInCollection(candBuckets))
      .filter(col("text_norm").isNotNull)
      .select(col("doc_id").as("hist_id"), col("text_norm"))
    // candidates are LSH-bounded relative to the BATCH, but the batch
    // itself is unbounded (a corpus-sized backfill), so the broadcast
    // hint is gated on the candidate count (free — it rides the
    // candStats collect above) — past the threshold fall back to the
    // planner-chosen join rather than fail on driver/broadcast limits
    // (mirrors bloomMaxKeys)
    val candsHinted =
      if (nCands <= broadcastMaxCandidates) broadcast(cands)
      else cands
    candsHinted.join(histDocs, Seq("hist_id"))
      .groupBy(col("doc_id"), col("hist_id"))
      .agg(min(col("text_norm")).as("__tb"))
      .join(norm, Seq("doc_id"))
      .select(col("doc_id"), col("hist_id"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long")
          .as("edit_dist"),
        greatest(length(col("__ta")), length(col("__tb")), lit(1))
          .cast("double").as("__den"))
      .filter(col("edit_dist") >= 0L) // banded DP: -1 = beyond maxDist
      .select(col("doc_id"), col("hist_id"), col("edit_dist"),
        round(lit(1000000.0) *
          (lit(1.0) - col("edit_dist").cast("double") / col("__den")))
          .cast("long").as("sim_micro"))
  }

  private def emptyMatches: DataFrame = log.emptyDf(StructType(Seq(
    StructField("doc_id", LongType),
    StructField("hist_id", LongType),
    StructField("edit_dist", LongType),
    StructField("sim_micro", LongType))))

  // ---- append (no dedup) ---------------------------------------------

  /** Register every non-null-text row of `docs` as a CANONICAL document
    * (postings + verdict rows), with no dedup decision — the bulk-load
    * path for seeding an index from an already-curated corpus, and the
    * baseline [[probe]] is oracle-checked against. Within-batch repeats
    * of an id collapse to one row. */
  def append(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    requireNoCollisions(docs, WorkingCols)
    FingerprintIndex.requireIntegralId(docs, idCol)
    ensureBuckets()
    val clean = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(textCol).as("__text"), normCol(textCol).as("__t"))
      .dropDuplicates("__id")
      .transform(graft.operators.Checkpoints.pin(_))
    val assign = clean.select(col("__id").as("doc_id"),
      col("__id").as("canonical_id"))
    commitBatch(clean, batchBands(clean), assign)
  }

  // ---- ingest (full incremental dedup) -------------------------------

  /** Dedup `batch` against all previously ingested content AND against
    * itself, register the outcome, and return the batch's rows with a
    * `canonical_id` verdict column: `canonical_id == idCol` marks the
    * surviving canonical documents; any other value names the canonical
    * (historical or within this batch) the row was suppressed into.
    * NULL-`textCol` rows are dropped (no content identity — the
    * [[FingerprintIndex]] contract).
    *
    * Replay-stable: already-registered ids take their PERSISTED verdict
    * and are not re-registered, so a whole-batch replay commits nothing
    * and emits identical rows. The emission is pinned to the pre-ingest
    * snapshot, so recomputing the returned frame after this (or later)
    * commits yields the same rows. */
  def ingest(batch: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    requireNoCollisions(batch, WorkingCols :+ "canonical_id")
    FingerprintIndex.requireIntegralId(batch, idCol)
    ensureBuckets()
    val clean = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        col(textCol).as("__text"), normCol(textCol).as("__t"))
      .dropDuplicates("__id")
      .transform(graft.operators.Checkpoints.pin(_))
    val entries = log.resolve().map(_._2)
      .getOrElse(Map.empty[String, Seq[String]])

    // 1. replay detection — pruned read of the batch ids' doc buckets;
    //    already-registered ids keep their stored verdict verbatim
    val already: DataFrame = {
      val docEntries = kindEntries(entries, "docs")
      if (docEntries.isEmpty)
        log.emptyDf(StructType(Seq(StructField("doc_id", LongType),
          StructField("canonical_id", LongType))))
      else {
        val idBuckets = clean.select(idBucket(col("__id")).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        log.readEntries(docEntries, docsSchema)
          .filter(col("bucket").isInCollection(idBuckets))
          .join(clean.select(col("__id").as("doc_id")), Seq("doc_id"))
          // racing writers: min() makes the duplicate verdict deterministic
          .groupBy(col("doc_id"))
          .agg(min(col("canonical_id")).as("canonical_id"))
      }
    }
    val fresh = clean
      .join(already.select(col("doc_id").as("__id")), Seq("__id"), "left_anti")
      .transform(graft.operators.Checkpoints.pin(_))

    // 2. history matches for the fresh docs (pinned snapshot) — ONE
    //    signature pass: the same checkpointed band rows feed the
    //    history probe, the within-batch self-join, and the commit
    val bands = batchBands(fresh)
    val histAssign = confirmedVsHistory(bands,
      fresh.select(col("__id").as("doc_id"), col("__t").as("__ta")), entries)
      .groupBy(col("doc_id"))
      .agg(min(col("hist_id")).as("__hist_canonical"))

    // 3. within-batch confirmed near-dup pairs among the fresh docs:
    //    LSH band self-join + banded-Levenshtein confirm (both sides
    //    local to the batch)
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("key"))
    val candPairs = a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val norms = fresh.select(col("__id"), col("__t"))
    val edges = candPairs
      .join(norms.select(col("__id").as("doc_a"), col("__t").as("__ta")),
        Seq("doc_a"))
      .join(norms.select(col("__id").as("doc_b"), col("__t").as("__tb")),
        Seq("doc_b"))
      .filter(levenshtein(col("__ta"), col("__tb"), maxDist) >= 0)
      .select(col("doc_a"), col("doc_b"))

    // 4. transitive clusters over the fresh docs; a cluster any member
    //    of which matched history collapses into the smallest matched
    //    history canonical, else the smallest member registers
    val clusters = Dedup.connectedComponents(
      fresh.select(col("__id").as("doc_id")), edges)
    val clusterHist = clusters
      .join(histAssign, Seq("doc_id"), "left")
      .groupBy(col("cluster_id"))
      .agg(min(col("__hist_canonical")).as("__ch"))
    val assign = clusters.join(clusterHist, Seq("cluster_id"))
      .select(col("doc_id"),
        coalesce(col("__ch"), col("cluster_id")).as("canonical_id"))
      .transform(graft.operators.Checkpoints.pin(_))

    // 5. one atomic commit: postings for the new canonicals, verdict
    //    rows for every fresh doc (replay commits nothing — `fresh` is
    //    empty and the dir stays cell-less)
    commitBatch(fresh, bands, assign)

    // 6. emission: stored verdicts ∪ fresh verdicts, joined back onto
    //    the caller's rows (original columns + canonical_id)
    val verdicts = already.unionByName(assign)
      .withColumnRenamed("doc_id", "__vid")
    batch.filter(col(textCol).isNotNull)
      .join(verdicts, col(idCol).cast("long") === col("__vid"))
      .drop("__vid")
  }

  /** Write one immutable data dir holding `assign`'s verdict rows
    * (canonicals carry their normalized text, suppressed rows NULL) and
    * the canonical docs' band postings, then append it to the manifest
    * in one commit. `bands` is the batch's already-checkpointed
    * [[batchBands]] output (signatures are computed once per batch and
    * filtered here, never re-derived). An empty batch produces no cells
    * and no commit. */
  private def commitBatch(clean: DataFrame, bands: DataFrame,
      assign: DataFrame): Unit = {
    val canonicalIds = assign
      .filter(col("doc_id") === col("canonical_id"))
      .select(col("doc_id"))
    log.append() { dir =>
      bands.join(canonicalIds, Seq("doc_id"))
        .select(col("band"), col("key"), col("doc_id"), col("bucket"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(new Path(log.dataPath(dir), "kind=postings").toString)
      assign
        .join(clean.select(col("__id").as("doc_id"), col("__t")), Seq("doc_id"))
        .select(col("doc_id"), col("canonical_id"),
          when(col("doc_id") === col("canonical_id"), col("__t"))
            .as("text_norm"),
          idBucket(col("doc_id")).as("bucket"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(new Path(log.dataPath(dir), "kind=docs").toString)
      log.listCells(dir, LevelPrefixes)
    }
  }

  // ---- maintenance ---------------------------------------------------

  /** Rewrite fragmented cells through [[ManifestLog.compact]].
    * Postings dedup to one row per (band, key, doc_id); verdict rows
    * collapse racing duplicates to the min canonical. Returns the number
    * of cells rewritten. */
  def compact(filesPerPartition: Int = 1): Int =
    log.compact(filesPerPartition) { (fragmented, dir) =>
      val fragPostings = kindEntries(fragmented, "postings")
      val fragDocs = kindEntries(fragmented, "docs")
      if (fragPostings.nonEmpty)
        log.readEntries(fragPostings, postingsSchema)
          .groupBy(col("band"), col("key"), col("doc_id"), col("bucket"))
          .agg(count(lit(1))) // dedup only; count discarded
          .select(col("band"), col("key"), col("doc_id"), col("bucket"))
          .repartition(math.max(fragPostings.size * filesPerPartition, 1),
            col("bucket"))
          .sortWithinPartitions(col("key"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("bucket")
          .parquet(new Path(log.dataPath(dir), "kind=postings").toString)
      if (fragDocs.nonEmpty)
        log.readEntries(fragDocs, docsSchema)
          .groupBy(col("doc_id"), col("bucket"))
          .agg(min(col("canonical_id")).as("canonical_id"),
            min(col("text_norm")).as("text_norm"))
          .select(col("doc_id"), col("canonical_id"), col("text_norm"),
            col("bucket"))
          .repartition(math.max(fragDocs.size * filesPerPartition, 1),
            col("bucket"))
          .sortWithinPartitions(col("doc_id"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("bucket")
          .parquet(new Path(log.dataPath(dir), "kind=docs").toString)
    }

  /** Index economics from filesystem metadata only — see
    * [[ManifestLog.storeStats]]. */
  def stats(): ManifestLog.StoreStats = log.storeStats()

  /** [[compact]] on the [[ManifestLog.compactIfNeeded]] schedule. */
  def compactIfNeeded(maxLiveDirs: Int = 8, filesPerPartition: Int = 1): Int =
    log.compactIfNeeded(maxLiveDirs)(compact(filesPerPartition))

  private[store] def currentVersion: Option[Long] = log.currentVersion
}

object NearDupIndex {
  /** Committed posting rows for the bloom ratio gate: footer-derived
    * ([[ManifestLog.rowCount]] restricted to the postings kind, cached
    * per immutable dir), falling back to bytes ÷ [[BytesPerPostingRow]]
    * only when footers are unreadable. */
  private[store] def estPostingRows(log: ManifestLog): Long =
    try log.rowCountBudgeted("kind=postings", ManifestLog.DefaultFooterBudget)
    catch { case scala.util.control.NonFatal(_) =>
      log.storeStats("kind=postings").bytes / BytesPerPostingRow }

  /** Fallback-only bytes-per-posting-row (band int + 32-char key +
    * doc_id in snappy parquet — the [[GramIndex.BytesPerGramRow]]
    * order; used only when parquet footers cannot be read). */
  val BytesPerPostingRow: Long = 45L

  val LevelPrefixes: Seq[String] = Seq("kind=", "bucket=")

  private[store] val WorkingCols =
    Seq("__id", "__text", "__t", "__b", "__vid")

  val postingsSchema: StructType = StructType(Seq(
    StructField("band", IntegerType),
    StructField("key", StringType),
    StructField("doc_id", LongType),
    StructField("kind", StringType),
    StructField("bucket", IntegerType)))

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("canonical_id", LongType),
    StructField("text_norm", StringType),
    StructField("kind", StringType),
    StructField("bucket", IntegerType)))
}
