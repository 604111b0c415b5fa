package graft.store

import graft.SparkSuite
import graft.operators.SpanDedup
import org.apache.spark.sql.functions._

class GramIndexSpec extends SparkSuite {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("gramindex").toString

  private val S = (1 to 8).map(i => s"s$i").mkString(" ") // 8-token run

  private def spans(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("ingest: within-batch spans match batch-local SpanDedup; " +
    "cross-batch spans come from history; whole-batch replay is a no-op") {
    import spark.implicits._
    val idx = new GramIndex(spark, tmp(), w = 8, buckets = 8)
    val b1 = Seq(
      (1L, s"a1 a2 $S a3 a4"),
      (2L, s"b1 $S b2 b3 b4")).toDF("doc_id", "text")
    val got1 = spans(idx.ingest(b1))
    assert(got1 === spans(SpanDedup.dupSpans(b1, 8)),
      "first batch must agree with the batch-local operator")
    assert(got1 === Seq((1L, 2L, 10L), (2L, 1L, 9L)))
    assert(idx.grams.count() === 9) // 5 + 5 grams, S-gram shared

    // batch 2: doc 10 copies the 8-run from history; doc 11 is novel.
    // Batch-local span dedup sees NOTHING here — the history is the point
    val b2 = Seq(
      (10L, s"x1 x2 x3 $S"),
      (11L, "y1 y2 y3 y4 y5 y6 y7 y8 y9")).toDF("doc_id", "text")
    assert(spans(SpanDedup.dupSpans(b2, 8)).isEmpty)
    val got2 = spans(idx.ingest(b2))
    assert(got2 === Seq((10L, 3L, 11L)))

    // whole-batch replays: identical spans, nothing registered
    val n = idx.grams.count()
    assert(spans(idx.ingest(b2)) === got2)
    assert(spans(idx.ingest(b1)) === got1,
      "batch-1 replay re-derives its within-batch + owner!=doc spans")
    assert(idx.grams.count() === n)
  }

  test("ingest spans excise history: a quoting doc keeps its novel " +
    "head, a full copy of history drops, novel docs pass untouched") {
    import spark.implicits._
    val idx = new GramIndex(spark, tmp(), w = 8, buckets = 8)
    // one batch = one ingest, then the excision the curation loop runs
    def scrub(rows: (Long, String)*): Map[Long, (Long, String)] = {
      val b = rows.toDF("doc_id", "text")
      SpanDedup.exciseTextBySpans(b, idx.ingest(b)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    }
    assert(scrub((1L, s"$S tail1 tail2 tail3")) ===
      Map(1L -> (11L, s"$S tail1 tail2 tail3")), "first copy untouched")
    // a later batch: a doc quoting the 8-run, a full copy of doc 1 and
    // a novel doc
    val got = scrub(
      (2L, s"head1 head2 $S"),
      (3L, s"$S tail1 tail2 tail3"),
      (4L, "n1 n2 n3 n4 n5 n6 n7 n8 n9"))
    assert(got(2L) === ((2L, "head1 head2")),
      "quoted region excised, novel head kept")
    assert(!got.contains(3L), "full duplicate excised whole")
    assert(got(4L) === ((9L, "n1 n2 n3 n4 n5 n6 n7 n8 n9")))
  }

  test("bloom prefilter parity: probe and ingest spans identical with " +
    "the prefilter disabled (bloomMaxKeys=0)") {
    import spark.implicits._
    val path = tmp()
    val history = Seq(
      (2L, s"h1 h2 $S h3"),
      (4L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, s"x1 x2 x3 $S"),           // copies history's 8-run
      (13L, s"p1 $S p2"), (15L, s"q1 $S q2"), // + a within-batch dup pair
      (17L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")).toDF("doc_id", "text")
    // ratio 0 forces the filter on despite the tiny history (the
    // default gate would skip it when history ~ batch)
    val on = new GramIndex(spark, path, w = 8, buckets = 8,
      bloomMinHistoryRatio = 0L)
    on.ingest(history)
    val off = new GramIndex(spark, path, w = 8, buckets = 8,
      bloomMaxKeys = 0L)
    val want = spans(off.probe(batch))
    assert(want.nonEmpty && want.map(_._1).contains(11L))
    assert(spans(on.probe(batch)) === want,
      "bloom-prefiltered probe must return the exact unfiltered spans")
    // ingest through the prefiltered path: same spans, and the
    // registered grams equal what the unfiltered anti-join would keep
    assert(spans(on.ingest(batch)) === want)
    val grams = on.grams.select($"k", $"doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // replay through the OFF instance converges on the same store
    assert(spans(off.ingest(batch)) === want, "replay parity")
    assert(on.grams.select($"k", $"doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq === grams,
      "replay registered nothing new")
  }

  test("probe is read-only and sees everything ingested") {
    import spark.implicits._
    val idx = new GramIndex(spark, tmp(), w = 8, buckets = 8)
    idx.ingest(Seq((1L, s"$S tail1 tail2")).toDF("doc_id", "text"))
    val eval = Seq((99L, s"head1 $S")).toDF("doc_id", "text")
    val got = spans(idx.probe(eval))
    assert(got === Seq((99L, 1L, 9L)))
    assert(idx.grams.count() === 3) // probe registered nothing
    // an empty index probes cleanly too — and WITHOUT creating the
    // config marker: a probe of a virgin store must not pin the
    // PROBER's parameters as the store's identity (that would wedge a
    // differently-tuned writer arriving later)
    val emptyPath = tmp()
    val empty = new GramIndex(spark, emptyPath, w = 8, buckets = 8)
    assert(spans(empty.probe(eval)).isEmpty)
    val fs = new org.apache.hadoop.fs.Path(emptyPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(emptyPath, "_gramindex")),
      "probe created a marker on a virgin store")
    // the real writer then opens with ITS tuning, unobstructed
    new GramIndex(spark, emptyPath, w = 4, buckets = 16)
      .ingest(Seq((1L, "t1 t2 t3 t4 t5")).toDF("doc_id", "text"))
  }

  test("commitRetry is a no-op when mutate yields everything: no new " +
    "manifest version, no retention slot burned, no vacuum of a real " +
    "old snapshot") {
    import spark.implicits._
    val path = tmp()
    val idx = new GramIndex(spark, path, w = 8, buckets = 8)
    idx.ingest(Seq((1L, s"$S x1")).toDF("doc_id", "text"))
    val log = new ManifestLog(spark, path, 3, None)
    val v0 = log.currentVersion.get
    // identity mutate = the fully-yielded compact / lost-replay shape
    assert(log.commitRetry(identity) === v0,
      "a no-op mutate must report the current version")
    assert(log.currentVersion.get === v0,
      "a no-op mutate must not publish a new manifest")
  }

  test("history scan is partition-pruned to the batch's gram buckets") {
    import spark.implicits._
    val idx = new GramIndex(spark, tmp(), w = 8, buckets = 8)
    idx.ingest((0L until 32L)
      .map(i => (i, (0 until 10).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text"))
    // one-gram batch (exactly 8 tokens) → exactly one index bucket may
    // be read
    val one = Seq((100L, "p1 p2 p3 p4 p5 p6 p7 p8")).toDF("doc_id", "text")
    val bucket = Seq("p1 p2 p3 p4 p5 p6 p7 p8").toDF("g")
      .select(pmod(conv(substring(md5($"g"), 1, 8), 16, 10)
        .cast("long"), lit(8)))
      .collect().head.get(0)
    val plan = idx.probe(one).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "no partition filter in scan")
    assert(plan.contains(s"IN ($bucket)") ||
      plan.contains(s"isin($bucket)") || plan.contains(s"= $bucket"),
      s"bucket $bucket not pinned in:\n$plan")
  }

  test("empty and already-seen batches commit nothing") {
    import spark.implicits._
    val idx = new GramIndex(spark, tmp(), w = 8, buckets = 4)
    assert(idx.ingest(Seq.empty[(Long, String)].toDF("doc_id", "text"))
      .count() === 0)
    assert(!idx.exists)
    // short docs contribute no grams either
    idx.ingest(Seq((1L, "too short")).toDF("doc_id", "text"))
    assert(!idx.exists)
    idx.ingest(Seq((2L, S)).toDF("doc_id", "text"))
    assert(idx.grams.count() === 1)
  }

  test("config marker rejects reopening with a different w or buckets") {
    import spark.implicits._
    val path = tmp()
    new GramIndex(spark, path, w = 8, buckets = 8)
      .ingest(Seq((1L, S)).toDF("doc_id", "text"))
    val wrongW = new GramIndex(spark, path, w = 5, buckets = 8)
    val e1 = intercept[IllegalArgumentException] {
      wrongW.probe(Seq((2L, S)).toDF("doc_id", "text"))
    }
    assert(e1.getMessage.contains("width/bucket mismatch"))
    val wrongB = new GramIndex(spark, path, w = 8, buckets = 16)
    val e2 = intercept[IllegalArgumentException] {
      wrongB.probe(Seq((2L, S)).toDF("doc_id", "text"))
    }
    assert(e2.getMessage.contains("width/bucket mismatch"))
  }

  test("compact collapses multi-dir cells and preserves probe results") {
    import spark.implicits._
    val idx = new GramIndex(spark, tmp(), w = 8, buckets = 2)
    idx.ingest(Seq((1L, s"$S u1 u2")).toDF("doc_id", "text"))
    idx.ingest(Seq((2L, "v1 v2 v3 v4 v5 v6 v7 v8 v9")).toDF("doc_id", "text"))
    idx.ingest(Seq((3L, "w1 w2 w3 w4 w5 w6 w7 w8")).toDF("doc_id", "text"))
    val eval = Seq((50L, s"q1 $S")).toDF("doc_id", "text")
    val before = spans(idx.probe(eval))
    val gramsBefore = idx.grams.orderBy("k").collect().toSeq
    assert(idx.compact() > 0)
    assert(spans(idx.probe(eval)) === before)
    assert(idx.grams.orderBy("k").collect().toSeq === gramsBefore)
    assert(idx.compact() === 0, "second compact finds nothing fragmented")
  }

  test("stats gauge the index economics; compactIfNeeded fires only " +
    "past the live-dirs threshold") {
    import spark.implicits._
    val idx = new GramIndex(spark, tmp(), w = 8, buckets = 4)
    assert(idx.stats() === ManifestLog.StoreStats(0, 0, 0L, 0L))
    // 4 batches of 20-token docs → 13 grams each
    val batches = (0 until 4).map(b => Seq((b.toLong,
      (0 until 20).map(j => s"t${b}_$j").mkString(" ")))
      .toDF("doc_id", "text"))
    batches.foreach(idx.ingest(_))
    val s1 = idx.stats()
    assert(s1.liveDirs === 4, "one live dir per committed batch")
    assert(s1.cells > 0 && s1.files >= s1.cells)
    assert(s1.bytes > 0L)
    // the honest O(corpus tokens) constant, made visible: stored bytes
    // per gram row stays in the tens-of-bytes band (32-char key + owner
    // + parquet overhead), same order as a suffix-array entry
    val rows = idx.grams.count()
    assert(rows === 4L * 13L)
    val bytesPerRow = s1.bytes.toDouble / rows
    assert(bytesPerRow < 2000.0,
      s"bytes/gram-row $bytesPerRow implausibly high")
    // under threshold: no-op; past it: compacts and dirs collapse
    assert(idx.compactIfNeeded(maxLiveDirs = 8) === 0)
    assert(idx.stats().liveDirs === 4)
    assert(idx.compactIfNeeded(maxLiveDirs = 3) > 0)
    val s2 = idx.stats()
    assert(s2.liveDirs < s1.liveDirs,
      "compaction must supersede fragmented batch dirs")
    assert(idx.grams.count() === rows, "no rows lost")
  }

  test("ManifestLog.rowCount derives real committed rows from parquet " +
    "footers — the bloom ratio gate's estimator — and survives " +
    "compaction and fresh-instance reads") {
    import spark.implicits._
    val p = tmp()
    val idx = new GramIndex(spark, p, w = 8, buckets = 4)
    val log = new ManifestLog(spark, p, 3, None)
    assert(log.rowCount() === 0L, "empty table counts zero")
    (0 until 3).foreach(b => idx.ingest(Seq((b.toLong,
      (0 until 20).map(j => s"t${b}_$j").mkString(" ")))
      .toDF("doc_id", "text")))
    val rows = idx.grams.count()
    assert(log.rowCount() === rows,
      "footer sum must equal the actual committed row count")
    assert(GramIndex.estRows(log) === rows,
      "gate estimator uses the real count, not the bytes literal")
    assert(idx.warm() === rows,
      "warm() pre-touches the same footers and reports the same count")
    assert(idx.compactIfNeeded(maxLiveDirs = 1) > 0)
    // fresh instance: no warm cache for the new compacted dir, and the
    // superseded dirs' cached counts must not leak into the sum
    val log2 = new ManifestLog(spark, p, 3, None)
    assert(log2.rowCount() === rows, "compaction preserves the count")
  }

  test("rowCountBudgeted bounds first-contact footer reads: " +
    "extrapolates the unread remainder from the store's own measured " +
    "bytes/row and converges to exact as calls fill the cache") {
    import spark.implicits._
    val p0 = tmp()
    val idx = new GramIndex(spark, p0, w = 8, buckets = 4)
    (0 until 4).foreach(b => idx.ingest(Seq((b.toLong,
      (0 until 20).map(j => s"t${b}_$j").mkString(" ")))
      .toDF("doc_id", "text")))
    val rows = idx.grams.count()
    // the ingests' own gate calls warmed the JVM-wide cache for p0, so
    // clone the table to a fresh path — the cold first contact a NEW
    // driver process has with a pre-existing store
    val p = tmp() + "/clone"
    val fs = Fs.fs(spark, p0)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(p0), fs,
      new org.apache.hadoop.fs.Path(p), false, true,
      spark.sparkContext.hadoopConfiguration)
    val log = new ManifestLog(spark, p, 3, None)
    // zero budget on a cold cache: nothing measured, nothing to
    // extrapolate from — an explicit failure, not a silent zero
    intercept[java.io.IOException] { log.rowCountBudgeted("", 0L) }
    // one leaf's worth of budget: partial exact + extrapolation off the
    // measured ratio — gate-grade accuracy (a 2x error only shifts the
    // bloom crossover), one file actually opened
    val est1 = log.rowCountBudgeted("", 1L)
    assert(est1 >= rows / 2 && est1 <= rows * 2,
      s"budgeted estimate $est1 implausibly far from $rows")
    // each call converts budget into cache: the estimate converges to
    // EXACT and stays there, without ever exceeding the per-call cap
    val converged = (0 until 20)
      .map(_ => log.rowCountBudgeted("", 4L)).last
    assert(converged === rows)
    assert(log.rowCount() === rows)
  }

  test("rowCountBudgeted warns once when the budget skips far more " +
    "files than it reads — the compact-me signal for a fragmented " +
    "first contact") {
    import spark.implicits._
    val p0 = tmp()
    val idx = new GramIndex(spark, p0, w = 8, buckets = 4)
    // 8 ingests x up to 4 bucket cells: plenty of leaves for a budget
    // of 1 to skip >4x what it reads
    (0 until 8).foreach(b => idx.ingest(Seq((b.toLong,
      (0 until 20).map(j => s"u${b}_$j").mkString(" ")))
      .toDF("doc_id", "text")))
    val p = tmp() + "/clone-frag"
    val fs = Fs.fs(spark, p0)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(p0), fs,
      new org.apache.hadoop.fs.Path(p), false, true,
      spark.sparkContext.hadoopConfiguration)
    val log = new ManifestLog(spark, p, 3, None)
    def captureErr(body: => Unit): String = {
      val baos = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(baos, true, "UTF-8"))
      try body finally System.setErr(old)
      baos.toString("UTF-8")
    }
    val first = captureErr { log.rowCountBudgeted("", 1L) }
    assert(first.contains("fragmented"),
      s"expected the compact hint on a heavily skipped walk, got: $first")
    // same store, same magnitude: the hint is once-per-magnitude, not
    // once-per-call — a hot ratio-gate loop must not spam it
    val second = captureErr { log.rowCountBudgeted("", 1L) }
    assert(!second.contains("fragmented"), s"duplicate warn: $second")
    // an unbudgeted call skips nothing and never warns
    val third = captureErr { log.rowCount() }
    assert(!third.contains("fragmented"))
  }
}
