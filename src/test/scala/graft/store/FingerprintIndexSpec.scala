package graft.store

import graft.SparkSuite
import org.apache.spark.sql.functions._

class FingerprintIndexSpec extends SparkSuite {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("fpindex").toString

  test("ingest dedups within batch, across batches, and replays are no-ops") {
    import spark.implicits._
    val idx = new FingerprintIndex(spark, tmp(), buckets = 8)
    // batch 1: "aaa" appears twice — smallest doc_id wins
    val b1 = Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    val got1 = idx.ingest(b1).orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got1.toSeq === Seq((1L, "aaa"), (2L, "bbb")))
    assert(idx.fingerprints.count() === 2)
    // batch 2: one repeat of history, one genuinely new
    val b2 = Seq((10L, "aaa"), (11L, "ccc")).toDF("doc_id", "text")
    val got2 = idx.ingest(b2).collect().map(_.getLong(0))
    assert(got2.toSeq === Seq(11L))
    assert(idx.fingerprints.count() === 3)
    // replay batch 2 wholesale (at-least-once delivery): nothing new,
    // no table version burned
    val vBefore = idx.fingerprints.count()
    assert(idx.ingest(b2).count() === 0)
    assert(idx.fingerprints.count() === vBefore)
  }

  test("the returned frame is pinned to the pre-ingest snapshot") {
    import spark.implicits._
    val idx = new FingerprintIndex(spark, tmp(), buckets = 8)
    idx.ingest(Seq((1L, "old")).toDF("doc_id", "text"))
    val res = idx.ingest(Seq((2L, "fresh")).toDF("doc_id", "text"))
    // the commit has advanced the index (its fingerprints now include
    // "fresh") — recomputing the returned plan must still anti-join
    // against the PRE-ingest snapshot and keep returning the row
    assert(res.count() === 1)
    idx.ingest(Seq((3L, "later")).toDF("doc_id", "text"))
    assert(res.count() === 1) // still stable after further ingests
  }

  test("history scan is partition-pruned to the batch's buckets") {
    import spark.implicits._
    val idx = new FingerprintIndex(spark, tmp(), buckets = 8)
    idx.ingest((0L until 64L).map(i => (i, s"doc $i")).toDF("doc_id", "text"))
    // craft a one-doc batch: its single md5 bucket is the only index
    // partition the anti-join may read
    val one = Seq((100L, "doc 0")).toDF("doc_id", "text")
    val bucket = one.select(
      pmod(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long"), lit(8)))
      .collect().head.get(0)
    val plan = {
      // same pinned-snapshot anti-join ingest() builds, probed via the
      // public surface: ingest the batch and inspect what it scanned
      val res = idx.ingest(one)
      res.queryExecution.executedPlan.toString
    }
    assert(plan.contains("PartitionFilters"), "no partition filter in scan")
    assert(plan.contains(s"bucket#") && plan.contains(s"IN ($bucket)") ||
      plan.contains(s"isin($bucket)") || plan.contains(s"= $bucket"),
      s"bucket $bucket not pinned in:\n$plan")
  }

  test("empty and fully-duplicate batches commit nothing") {
    import spark.implicits._
    val idx = new FingerprintIndex(spark, tmp(), buckets = 4)
    assert(idx.ingest(Seq.empty[(Long, String)].toDF("doc_id", "text"))
      .count() === 0)
    assert(!idx.exists)
    idx.ingest(Seq((1L, "x")).toDF("doc_id", "text"))
    idx.ingest(Seq((2L, "x")).toDF("doc_id", "text")) // pure duplicate
    assert(idx.fingerprints.count() === 1)
  }

  test("ingestResolved re-emits identical rows on whole-batch replay") {
    import spark.implicits._
    val idx = new FingerprintIndex(spark, tmp(), buckets = 8)
    idx.ingest(Seq((1L, "seen before")).toDF("doc_id", "text"))
    val batch = Seq((10L, "seen before"), (11L, "brand new"),
      (12L, "brand new"), (13L, "also new")).toDF("doc_id", "text")
    val first = idx.ingestResolved(batch).orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // 10 loses to history; 12 loses the within-batch tie to 11
    assert(first.toSeq === Seq((11L, "brand new"), (13L, "also new")))
    // the crash-retry scenario: the SAME batch replays after the commit
    // landed — ingest's delta is empty, but the emission must be the
    // identical rows, re-derived from the registered ownership
    val replay = idx.ingestResolved(batch).orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(replay.toSeq === first.toSeq)
  }

  test("racing-writer duplicate fingerprints resolve to the min owner") {
    import spark.implicits._
    val path = tmp()
    val idx = new FingerprintIndex(spark, path, buckets = 8)
    idx.ingest(Seq((5L, "contested")).toDF("doc_id", "text"))
    // simulate the loser of an ingest race: a second writer registered
    // the same fingerprint under a higher id from a snapshot that did
    // not yet contain ours (manifest-level append, like its commit)
    val log = new ManifestLog(spark, path, 3, None)
    val dir = log.newDataDirName(log.currentVersion.get + 1)
    Seq((9L, "contested")).toDF("doc_id", "text")
      .select(md5($"text").as("fp"), $"doc_id",
        pmod(conv(substring(md5($"text"), 1, 8), 16, 10).cast("long"),
          lit(8)).cast("int").as("bucket"))
      .write.partitionBy("bucket").parquet(log.dataPath(dir).toString)
    log.commitRetry(ManifestLog.appendMutate(
      log.listCells(dir, FingerprintIndex.LevelPrefixes), dir))
    assert(idx.fingerprints.count() === 2) // the duplicate row exists
    // later arrivals of the content are still suppressed
    assert(idx.ingest(Seq((20L, "contested")).toDF("doc_id", "text"))
      .count() === 0)
    // emission resolves to ONE deterministic owner: the min doc_id
    assert(idx.ingestResolved(
      Seq((9L, "contested")).toDF("doc_id", "text")).count() === 0)
    assert(idx.ingestResolved(
      Seq((5L, "contested")).toDF("doc_id", "text")).collect()
      .map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("working-column collisions are rejected") {
    import spark.implicits._
    val idx = new FingerprintIndex(spark, tmp(), buckets = 4)
    val bad = Seq((1L, "x", "y")).toDF("doc_id", "text", "__fp")
    intercept[IllegalArgumentException](idx.ingest(bad))
    // and ingestResolved validates BEFORE the durable ingest side effect
    val bad2 = Seq((1L, "x", "y")).toDF("doc_id", "text", "__owner")
    intercept[IllegalArgumentException](idx.ingestResolved(bad2))
    assert(!idx.exists, "validation failure must precede any commit")
  }

  test("null-text rows are dropped; exact repeated rows collapse to one") {
    import spark.implicits._
    val idx = new FingerprintIndex(spark, tmp(), buckets = 4)
    val batch = Seq((1L, "real"), (2L, null), (3L, "real x2"),
      (3L, "real x2")).toDF("doc_id", "text")
    val got = idx.ingest(batch).orderBy($"doc_id").collect()
      .map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 3L)) // null dropped, repeat collapsed
    assert(idx.fingerprints.count() === 2)
    // same policy on the resolved path (the streaming hot loop)
    val again = idx.ingestResolved(batch).collect().map(_.getLong(0)).sorted
    assert(again.toSeq === Seq(1L, 3L))
  }

  test("non-integral id columns are rejected instead of null-cast") {
    import spark.implicits._
    val idx = new FingerprintIndex(spark, tmp(), buckets = 4)
    val bad = Seq(("doc-1", "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](idx.ingest(bad))
  }

  test("reopening with a different bucket count is rejected") {
    import spark.implicits._
    val path = tmp()
    new FingerprintIndex(spark, path, buckets = 8)
      .ingest(Seq((1L, "x")).toDF("doc_id", "text"))
    val reopened = new FingerprintIndex(spark, path, buckets = 4)
    intercept[IllegalArgumentException](
      reopened.ingest(Seq((2L, "y")).toDF("doc_id", "text")))
  }

  test("compact collapses per-batch dirs and racing duplicates; dedup " +
    "is unchanged") {
    import spark.implicits._
    val path = tmp()
    val idx = new FingerprintIndex(spark, path, buckets = 2,
      keepVersions = 2)
    // many tiny ingests: one data dir per commit
    for (i <- 0 until 6)
      idx.ingest(Seq((i.toLong, s"doc $i")).toDF("doc_id", "text"))
    assert(idx.fingerprints.count() === 6)
    val rewritten = idx.compact(filesPerPartition = 1)
    assert(rewritten > 0)
    assert(idx.fingerprints.count() === 6)
    // a second compact finds nothing fragmented beyond the threshold
    assert(idx.compact(1) === 0)
    // dedup behaviour is identical after the rewrite
    assert(idx.ingest(Seq((100L, "doc 3")).toDF("doc_id", "text"))
      .count() === 0)
    assert(idx.ingest(Seq((101L, "doc new")).toDF("doc_id", "text"))
      .count() === 1)
  }

  test("bloom prefilter parity: ingest and ingestResolved identical with " +
    "the prefilter forced on vs disabled; stats/compactIfNeeded policy") {
    import spark.implicits._
    val pOn = tmp()
    val pOff = tmp()
    val history = (0L until 40L).map(i => (i, s"hist $i")).toDF("doc_id", "text")
    val batch = Seq((100L, "hist 7"), (101L, "hist 23"), (102L, "novel a"),
      (103L, "novel b"), (104L, "novel a")).toDF("doc_id", "text")
    // ratio 0 forces the filter on despite the tiny history; maxKeys 0
    // disables it entirely
    val on = new FingerprintIndex(spark, pOn, buckets = 8,
      bloomMinHistoryRatio = 0L)
    val off = new FingerprintIndex(spark, pOff, buckets = 8,
      bloomMaxKeys = 0L)
    on.ingest(history); off.ingest(history)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val gotOn = rows(on.ingestResolved(batch))
    val gotOff = rows(off.ingestResolved(batch))
    assert(gotOn === gotOff)
    assert(gotOn === Seq((102L, "novel a"), (103L, "novel b")),
      "history dups suppressed, within-batch dup collapsed to min id")
    assert(on.fingerprints.count() === off.fingerprints.count())
    // replay through the prefiltered path: state-derived emission
    // re-derives the same canonical rows, registers nothing
    val n = on.fingerprints.count()
    assert(rows(on.ingestResolved(batch)) === gotOn)
    assert(on.fingerprints.count() === n)
    // economics + policy: 2 live dirs (history + batch commits), under
    // threshold is a no-op, past it compacts without losing rows
    val s = on.stats()
    assert(s.liveDirs === 2 && s.bytes > 0L && s.files >= 1L)
    assert(on.compactIfNeeded(maxLiveDirs = 8) === 0)
    // past the threshold it compacts the FRAGMENTED cells (the batch's
    // buckets, which overlap history's); untouched cells legitimately
    // keep their original dir, so liveDirs need not shrink to 1
    assert(on.compactIfNeeded(maxLiveDirs = 1) > 0)
    assert(on.fingerprints.count() === n)
  }
}
