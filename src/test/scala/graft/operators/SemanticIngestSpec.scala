package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental SemDeDup against history: [[CellIndex.semanticNearDups]]
  * (probe) and [[CellIndex.semanticIngest]] (probe → within-batch dedup
  * → append survivors). The cross-batch question a batch-local
  * [[Similarity.semanticDedup]] cannot answer, with per-batch cost
  * bounded by the probed cells — the embedding-space twin of
  * `NearDupIndexSpec`'s matrix. */
class SemanticIngestSpec extends SparkSuite {

  private def emb(rows: (Long, Array[Float])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Two well-separated directions; history holds one vector of each. */
  private def seeded(): CellIndex = {
    val idx = new CellIndex(spark, tmpDir("graft-semingest-"))
    idx.buildLearned(emb(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(0f, 0f, 1f, 0f)), k = 2, iters = 1)
    idx
  }

  test("probe flags cross-batch near-dups with the best history match; " +
    "novel vectors pass") {
    val idx = seeded()
    val batch = emb(
      10L -> Array(1f, 0.01f, 0f, 0f), // near-dup of history 0
      11L -> Array(0f, 1f, 0f, 0f))    // novel direction
    val got = idx.semanticNearDups(batch, thresholdMicro = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(got.toSeq === Seq((10L, 0L, false)))
  }

  test("replays (same vec_id in history) are flagged as replays, not " +
    "near-dups") {
    val idx = seeded()
    val got = idx.semanticNearDups(
      emb(0L -> Array(1f, 0f, 0f, 0f)), thresholdMicro = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(got.toSeq === Seq((0L, 0L, true)))
  }

  test("replay is detected even when cosine and L2 disagree on the top " +
    "cell (unnormalized embeddings): the probe unions the vector's own " +
    "ROUTED cell, so a replayed batch can never re-append its vectors") {
    import spark.implicits._
    val idx = new CellIndex(spark, tmpDir("graft-semingest-metric-"))
    // centroids chosen so v = (1, 0) ROUTES (squared-L2 argmin) to the
    // small centroid B but its COSINE-top centroid is the far-out A:
    //   A = (10, 0):  cos 1.0, L2 81      B = (0.1, 0.1): cos .707, L2 .82
    idx.build(Seq(
      ("a", Array(10f, 0f), 100L),
      ("b", Array(0.1f, 0.1f), 200L))
      .toDF("label", "embedding", "vec_id")
      .select(col("vec_id"), col("embedding"), col("label")),
      cellCol = "label")
    val v = emb(7L -> Array(1f, 0f))
    // threshold at the 1.0-cosine ceiling: only the REPLAY path (id
    // equality) may fire, never the near-dup path — v is exactly
    // parallel to centroid A's one vector
    val s1 = idx.semanticIngest(v, thresholdMicro = 1000000L)
    assert(s1.appended === 1L, s1)
    // the replay: a cosine-only nprobe=1 probe would scan cell 'a' and
    // miss the stored copy in 'b', silently appending a duplicate
    val s2 = idx.semanticIngest(v, thresholdMicro = 1000000L)
    assert(s2.replays === 1L && s2.appended === 0L, s2)
    assert(idx.vectors.filter(col("vec_id") === 7L).count() === 1L)
  }

  test("ingest appends only survivors: history dups, within-batch dups " +
    "and replays all dropped; replayed batch commits nothing") {
    val idx = seeded()
    val batch = emb(
      10L -> Array(1f, 0.01f, 0f, 0f), // dup of history 0
      11L -> Array(0f, 1f, 0f, 0f),    // novel — survives (cell 0 by tie)
      // within-batch dup of 11 that routes to the SAME cell (cosine is
      // near-parallel AND squared-distance favors cell 0)
      12L -> Array(0.02f, 0.999f, 0f, 0f))
    val s1 = idx.semanticIngest(batch, thresholdMicro = 900000L)
    assert(s1 === CellIndex.SemanticIngestStats(
      appended = 1L, replays = 0L, historyDups = 1L, batchDups = 1L), s1)
    assert(idx.vectors.count() === 3L) // 2 seeded + 1 survivor
    // exact replay of the same batch: 11 is now its own history copy
    // (replay), 10/12 are history near-dups — nothing appends
    val s2 = idx.semanticIngest(batch, thresholdMicro = 900000L)
    assert(s2.appended === 0L, s2)
    assert(s2.replays === 1L, s2)
    assert(s2.historyDups + s2.batchDups === 2L, s2)
    assert(idx.vectors.count() === 3L)
  }

  test("semanticIngestResolved emits the survivors, and a later batch's " +
    "near-dup of them drops against the history that batch appended") {
    val idx = seeded()
    def emitted(rows: (Long, Array[Float])*): Seq[Long] =
      idx.semanticIngestResolved(emb(rows: _*), thresholdMicro = 900000L)
        ._1.select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    // a near-dup of history vector 0 (dropped) + a novel direction
    assert(emitted(10L -> Array(1f, 0.01f, 0f, 0f),
      11L -> Array(0f, 1f, 0f, 0f)) === Seq(11L))
    // a near-dup of the previous batch's survivor + a novel one
    assert(emitted(20L -> Array(0.01f, 1f, 0f, 0f),
      21L -> Array(0f, 0f, 0f, 1f)) === Seq(21L))
  }

  test("the history scan is partition-pruned to the batch's probed " +
    "cells") {
    val idx = seeded()
    // append more vectors so both cells are populated
    idx.append(emb(
      20L -> Array(0.9f, 0.1f, 0f, 0f),
      21L -> Array(0f, 0.1f, 0.9f, 0f)))
    val batch = emb(30L -> Array(1f, 0.02f, 0f, 0f)) // routes to cell of 0
    val plan = idx.semanticNearDups(batch, thresholdMicro = 900000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.contains("PartitionFilters: [isnotnull(cell"),
      s"history scan not partition-pruned:\n$plan")
    // and the probe still answers correctly from the pruned scan
    val got = idx.semanticNearDups(batch, thresholdMicro = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((30L, 0L)))
  }

  test("growing an unprobed cell does not change a probe's answer or " +
    "its pruned scan (per-batch cost tracks probed cells, not history)") {
    val idx = seeded()
    // grow ONLY the far cell (the cell of history vec 1) by 50 vectors
    idx.append(emb((100L until 150L).map(i =>
      i -> Array(0f, (i % 7).toFloat / 100f, 1f, 0f)): _*))
    val batch = emb(41L -> Array(1f, 0.04f, 0f, 0f))
    val probe = idx.semanticNearDups(batch, thresholdMicro = 900000L)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.contains("PartitionFilters: [isnotnull(cell"),
      s"history scan not partition-pruned:\n$plan")
    // the far cell's 50 new rows are invisible to this probe
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((41L, 0L)))
  }
}
