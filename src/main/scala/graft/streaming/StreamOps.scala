package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Thresholds for the quality-gate stage of
  * [[StreamOps.curateAllWithHistory]] — the configurable knobs of
  * [[graft.operators.Curation.qualityGate]] (the remaining Gopher rules
  * are fixed ratios from the paper). */
final case class GateConfig(
    minWords: Long = 50L,
    maxWords: Long = 100000L,
    minStopwords: Int = 2)

/** The streaming curation loop: [[curateAllWithHistory]] runs every
  * micro-batch of a document stream through [[curateAllBatch]] (scrub
  * head, quality gate, then the four history-backed dedup stores) in
  * one `foreachBatch`, with [[maintainAll]] between batches. */
object StreamOps {

  /** The stateless scrub head of [[curateAllBatch]]: boilerplate-line
    * removal against a batch-learned blocklist (on RAW lines, before
    * the markup strip collapses line structure), then markup strip
    * ([[graft.operators.Curation.stripMarkup]]), then Unicode NFC, so
    * the fingerprint stage sees ONE byte form per text — markup
    * wrappers and composed/decomposed spellings of one document
    * collapse. Blocklist membership is a hash-set lookup per line via a
    * closure-shipped Set — a literal-array `array_contains` would
    * re-scan the whole blocklist for EVERY line (O(lines × |blocklist|)
    * in the microbatch hot path); the UDF trades one projection's
    * codegen span for O(1) lookups, which wins for any blocklist past a
    * handful of entries. The size cap keeps the task closure honest. */
  private def scrubHead(docs: DataFrame,
      boilerplate: Seq[String]): DataFrame = {
    require(boilerplate.size <= 100000,
      s"boilerplate blocklist ships in the task closure; " +
        s"${boilerplate.size} lines is past the 100k sanity cap")
    import graft.operators.Curation
    val noBoiler =
      if (boilerplate.isEmpty) docs
      else {
        val blockSet = boilerplate.toSet
        val scrubLines = udf((text: String) =>
          if (text == null) null
          else text.split("\n", -1).filterNot(blockSet).mkString("\n"))
        docs.withColumn("text", scrubLines(col("text")))
      }
    Curation.stripMarkup(noBoiler)
      .withColumn("text", graft.functions.functions.nfc(col("stripped")))
      .drop("stripped", "n_tags")
  }

  /** The FULL streaming curation pipeline: all four dedup
    * granularities against their persisted histories in ONE
    * foreachBatch — optional quality GATE
    * ([[graft.operators.Curation.qualityGate]]) → byte-exact
    * ([[graft.store.FingerprintIndex]]) → whole-doc near-dup
    * ([[graft.store.NearDupIndex]]) → verbatim-region scrub
    * ([[graft.store.GramIndex]]) → paraphrase
    * ([[graft.operators.CellIndex]] semantic ingest). Input rows carry
    * (doc_id, text, embedding, ...); the sink receives the canonical,
    * span-scrubbed survivors (original columns with `text` replaced by
    * (n_kept, scrubbed_text)).
    *
    * With `gate` set, the Gopher quality rules run FIRST (cheapest
    * stage, pure map + one hash-agg — drop junk before paying any
    * index probe) and `gateSink` receives the whole gated frame (keep
    * and drop rows with `reasons`): route `keep = 0` rows to a reject
    * store, aggregate [[graft.operators.Curation.curationReport]] over
    * it per batch, or both.
    *
    * Both sinks also receive the foreachBatch EPOCH ID — the stable
    * replay identity of the micro-batch. A sink that keys its output on
    * it (`batch=<id>` dir + Overwrite, the Ingester report-sink
    * discipline, `Ingester.scala:175-178`) upgrades the stream's
    * at-least-once delivery to exactly-once OUTPUT: a crash between the
    * sink write and the checkpoint commit replays the same id and the
    * rewrite lands on the same dir instead of appending a second copy.
    *
    * CRASH-RECOVERY CONTRACT (the composition guarantee, specced by
    * the StreamOpsSpec kill-point matrix): the four stores commit
    * SEPARATELY, so a batch can die BETWEEN commits and replay with
    * some indexes already advanced. That is safe because each stage's
    * emission is derived from index STATE, not from its ingest delta:
    * an already-advanced index recognizes the replayed batch (owner
    * fingerprints / persisted verdicts / gram owner-inequality /
    * vec_id replays), commits nothing, and re-derives the identical
    * rows; a not-yet-advanced index sees the identical deterministic
    * input (the upstream stages re-emitted it identically) and
    * commits exactly what the crashed attempt would have. By
    * induction over the stage order, EVERY kill point replays to the
    * same four store states and the same sink rows — at-least-once
    * into an idempotent sink converges to exactly-once with no
    * cross-store transaction. The gate extends the induction at its
    * base: it is a pure per-document function with NO store commit, so
    * a replayed batch re-derives the identical keeps (feeding the
    * stores the identical frame) and the identical gated rows
    * (`gateSink` shares the sink's idempotence contract).
    *
    * `onStage` fires after each stage commits ("gate" — only when a
    * gate is configured — then "exact", "neardup", "spans",
    * "semantic"), once more after the sink returns ("sink" — the
    * crash-between-sink-and-checkpoint kill point), and per sweep
    * ("maintain") — an instrumentation seam (telemetry, and the spec's
    * crash injection).
    *
    * Lifecycle: every store's filesystem metadata is pre-touched
    * before batch 1 (the first-touch-outlier mitigation);
    * `maintenanceEvery` = N > 0 runs [[maintainAll]] after every Nth
    * batch from the single writer thread ("maintain" fires on
    * `onStage`), 0 runs none, and a negative N is refused —
    * unbounded live dirs mean unbounded snapshot read fan-in, so a
    * production loop wants this on. */
  def curateAllWithHistory(
      docs: DataFrame,
      exact: graft.store.FingerprintIndex,
      nearDup: graft.store.NearDupIndex,
      grams: graft.store.GramIndex,
      semantic: graft.operators.CellIndex,
      boilerplate: Seq[String],
      checkpointDir: String,
      minKeptTokens: Int = 15,
      thresholdMicro: Long = 300000L,
      nprobe: Int = 1,
      gate: Option[GateConfig] = None,
      gateSink: (DataFrame, Long) => Unit = (_, _) => (),
      onStage: String => Unit = _ => (),
      maintenanceEvery: Int = 0,
      availableNow: Boolean = false)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maintenanceEvery >= 0,
      s"maintenanceEvery must be >= 0 (0 disables): $maintenanceEvery")
    // first-touch mitigation: pre-list + footer-read every store's live
    // snapshot BEFORE batch 1, so a fresh driver's first micro-batch
    // doesn't pay the cold-metadata cost mid-batch (PROFILE round-9c);
    // each warm() swallows a virgin store's failure
    exact.warm(); nearDup.warm(); grams.warm(); semantic.warm()
    val batches = new java.util.concurrent.atomic.AtomicLong()
    val writer = docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
    // drain-and-exit (the Ingester Trigger.AvailableNow discipline, T5):
    // process everything present, then stop — the CLI front door's
    // one-shot mode; default is the continuous micro-batch stream
    (if (availableNow) writer.trigger(
      org.apache.spark.sql.streaming.Trigger.AvailableNow()) else writer)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateAllBatch(batch, exact, nearDup, grams, semantic,
          boilerplate, minKeptTokens, thresholdMicro, nprobe,
          gate, gateSink, onStage, batchId)(sink)
        // maintenance AFTER the sink, every Nth batch, from the single
        // writer thread — the one schedule CellIndex.compact requires,
        // and crash-safe: a crash mid-maintenance replays the batch
        // (convergent no-op) and re-runs the sweep (itself idempotent:
        // CAS commits + age-gated orphan sweeps)
        if (maintenanceEvery > 0 &&
            batches.incrementAndGet() % maintenanceEvery == 0) {
          maintainAll(exact, nearDup, grams, semantic)
          onStage("maintain")
        }
      }
      .start()
  }

  /** One maintenance sweep over the four curation stores:
    * `compactIfNeeded` (bounds snapshot read fan-in — every micro-batch
    * commit adds a live dir / a file per touched cell) plus an
    * age-gated orphan sweep for crashed writers' leftovers. Safe beside
    * CONCURRENT READERS at any time (MaintenanceUnderStreamingSpec:
    * keepVersions retains a pinned snapshot's dirs across the commits a
    * compaction lands); the [[graft.operators.CellIndex.compact]]
    * generation rewrite additionally requires the SINGLE-WRITER
    * schedule, which running from the foreachBatch thread between
    * batches provides by construction
    * ([[curateAllWithHistory]]'s `maintenanceEvery`). */
  def maintainAll(
      exact: graft.store.FingerprintIndex,
      nearDup: graft.store.NearDupIndex,
      grams: graft.store.GramIndex,
      semantic: graft.operators.CellIndex,
      maxLiveDirs: Int = 8,
      orphanAgeMs: Long = 24L * 3600 * 1000): Unit = {
    // expired versions (CellIndex generations too) are vacuumed inside
    // every commit; only crashed writers' leftovers need a sweep here
    exact.compactIfNeeded(maxLiveDirs)
    nearDup.compactIfNeeded(maxLiveDirs)
    grams.compactIfNeeded(maxLiveDirs)
    semantic.compactIfNeeded(maxFilesPerCell = maxLiveDirs)
    exact.vacuumOrphans(orphanAgeMs)
    nearDup.vacuumOrphans(orphanAgeMs)
    grams.vacuumOrphans(orphanAgeMs)
    semantic.vacuumOrphans(orphanAgeMs)
    ()
  }

  /** One micro-batch of [[curateAllWithHistory]] — the unit the
    * kill-point matrix spec drives directly: a foreachBatch retry after
    * a crash is exactly "call this again with the same batch AND the
    * same `batchId`" (the epoch id is checkpoint-stable across
    * replays), so the crash-recovery contract is provable without
    * streaming-offset machinery. `onStage("sink")` fires after the sink
    * returns and before the foreachBatch call ends — the "crash between
    * sink write and checkpoint commit" kill point. */
  private[graft] def curateAllBatch(
      batch: DataFrame,
      exact: graft.store.FingerprintIndex,
      nearDup: graft.store.NearDupIndex,
      grams: graft.store.GramIndex,
      semantic: graft.operators.CellIndex,
      boilerplate: Seq[String],
      minKeptTokens: Int,
      thresholdMicro: Long,
      nprobe: Int,
      gate: Option[GateConfig],
      gateSink: (DataFrame, Long) => Unit,
      onStage: String => Unit,
      batchId: Long)(sink: (DataFrame, Long) => Unit): Unit = {
    val headScrubbed = scrubHead(batch, boilerplate)
    // gate first: pure per-doc rules are the cheapest stage, so junk
    // never reaches an index probe; the gated frame is persisted once
    // and serves BOTH the gate sink and the store legs
    val gated = gate.map(g => graft.operators.Curation.qualityGate(
      headScrubbed, minWords = g.minWords, maxWords = g.maxWords,
      minStopwords = g.minStopwords).persist())
    val cleaned = gated
      .map(_.filter(col("keep") === 1).drop("n_words", "keep", "reasons"))
      .getOrElse(headScrubbed)
      .persist()
    try {
      gated.foreach { gd => gateSink(gd, batchId); onStage("gate") }
      // pin each stage's emission before the next consumes it: the
      // exact canonical frame embeds the fingerprint-history ownership
      // join and the near-dup survivors embed the verdict join —
      // downstream consumers (the gram ingest's several actions, the
      // excision join, the keptDocs join) would otherwise re-run those
      // history scans once per action. Both frames are batch-sized and
      // recompute-stable, so pinning changes cost, never content (the
      // kill-point contract is unaffected: a crash replays the batch)
      val exactCanonical = exact.ingestResolved(cleaned)
        .transform(graft.operators.Checkpoints.pin(_))
      onStage("exact")
      val ndSurvivors = nearDup.ingest(exactCanonical)
        .filter(col("canonical_id") === col("doc_id"))
        .drop("canonical_id")
        .transform(graft.operators.Checkpoints.pin(_))
      onStage("neardup")
      val spans = grams.ingest(ndSurvivors)
      val scrubbed = graft.operators.SpanDedup
        .exciseTextBySpans(ndSurvivors, spans)
      onStage("spans")
      val keptDocs = ndSurvivors.drop("text")
        .join(scrubbed, Seq("doc_id"))
        .filter(col("n_kept") >= minKeptTokens)
        // four index probes + two joins above: freeze the row set
        // once so the semantic leg and the sink read ONE stable
        // frame (and never re-probe post-commit index state)
        .transform(graft.operators.Checkpoints.pin(_))
      val vecs = keptDocs.select(col("doc_id").as("vec_id"),
        col("embedding"))
      // Lazy quantizer bootstrap on a FRESH semantic store: train from
      // this batch's post-upstream SURVIVORS, never from raw input —
      // training from the raw corpus registers vectors for docs the
      // gate/exact/near-dup/span stages drop, and those phantoms
      // (owned by nothing downstream) would silently suppress every
      // future near-match. Trained-on == registered-by-build, so the
      // ingest right below sees pure vec_id replays (emits the batch,
      // commits nothing) — the exact convergence the kill-point
      // contract needs: a crash after the build replays the batch, the
      // build is skipped (exists), and the ingest re-derives the same
      // rows; a crash before it trains an identical generation from
      // the identical deterministic input.
      if (!semantic.exists && !vecs.isEmpty)
        semantic.buildLearned(vecs, k = math.max(1, math.min(256,
          math.sqrt(vecs.count().toDouble).toInt)))
      // still unbuilt = every doc of every batch so far was dropped
      // upstream: nothing to probe, nothing to emit
      val emitted =
        if (!semantic.exists) vecs.limit(0)
        else semantic.semanticIngestResolved(vecs, thresholdMicro,
          nprobe)._1
      onStage("semantic")
      sink(keptDocs.join(
        emitted.select(col("vec_id").as("doc_id")), Seq("doc_id")), batchId)
      onStage("sink")
    } finally {
      cleaned.unpersist(false)
      gated.foreach(_.unpersist(false))
    }
  }
}
