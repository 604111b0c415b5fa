package graft.store

import graft.SparkSuite
import org.apache.spark.sql.functions._

class NearDupIndexSpec extends SparkSuite {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("neardup").toString

  // long shared prose so 3-word shingle MinHash bands agree between the
  // original and a lightly-edited copy (md5 is deterministic: once these
  // fixtures band-match, they always do)
  private val base = ("the quick brown fox jumps over the lazy dog while " +
    "seventeen sleepy penguins waddle across the frozen antarctic shelf " +
    "carrying small wooden crates of pickled herring toward the waiting " +
    "ship anchored beyond the ridge").trim
  // this particular substitution provably preserves BOTH band keys
  // (verified against the md5 minhash mirror; md5 is deterministic)
  private val edited = base.replace("fox", "zesty")
  private val unrelated = ("completely different subject matter entirely " +
    "about orbital mechanics delta-v budgets hohmann transfer windows " +
    "and the specific impulse of methalox engines during ascent").trim

  test("probe confirms lightly-edited copies against history, not strangers") {
    import spark.implicits._
    val idx = new NearDupIndex(spark, tmp(), buckets = 8)
    idx.append(Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text"))
    val got = idx.probe(Seq((10L, edited), (11L, "tiny new doc"))
        .toDF("doc_id", "text"))
      .orderBy($"doc_id", $"hist_id").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((10L, 1L)))
    val row = got.head
    assert(row.getLong(2) === 5L) // levenshtein("fox", "zesty")
    assert(row.getLong(3) > 900000L) // sim_micro close to 1e6
    // probe never mutates: still only version-1 state
    assert(idx.assignments.count() === 2)
  }

  test("ingest dedups within batch, against history, and emits verdicts") {
    import spark.implicits._
    val idx = new NearDupIndex(spark, tmp(), buckets = 8)
    // batch 1: two exact copies + one unrelated -> 5,6 cluster, 5 canonical
    val out1 = idx.ingest(
      Seq((6L, base), (5L, base), (7L, unrelated)).toDF("doc_id", "text"))
      .select($"doc_id", $"canonical_id").orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out1.toSeq === Seq((5L, 5L), (6L, 5L), (7L, 7L)))
    // batch 2: an edited copy of history + a genuinely new doc
    val out2 = idx.ingest(
      Seq((20L, edited), (21L, "another brand new doc")).toDF("doc_id", "text"))
      .select($"doc_id", $"canonical_id").orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out2.toSeq === Seq((20L, 5L), (21L, 21L)))
    // only canonicals carry postings (suppressed docs never band-match)
    val postingIds = idx.postings.select($"doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(postingIds === Set(5L, 7L, 21L))
    // verdicts persisted for every ingested doc
    assert(idx.assignments.count() === 5)
  }

  test("whole-batch replay commits nothing and re-emits identical verdicts") {
    import spark.implicits._
    val idx = new NearDupIndex(spark, tmp(), buckets = 8)
    val b = Seq((1L, base), (2L, edited), (3L, unrelated)).toDF("doc_id", "text")
    val first = idx.ingest(b).select($"doc_id", $"canonical_id")
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val v = idx.currentVersion
    val replay = idx.ingest(b).select($"doc_id", $"canonical_id")
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(replay.toSeq === first.toSeq)
    assert(idx.currentVersion === v) // no version burned
  }

  test("history probe is partition-pruned to the batch's band buckets") {
    import spark.implicits._
    val idx = new NearDupIndex(spark, tmp(), buckets = 8)
    idx.append((0L until 32L).map(i => (i, s"history doc number $i with " +
      s"some shared filler words repeated $i times over")).toDF("doc_id", "text"))
    val res = idx.probe(Seq((100L, base)).toDF("doc_id", "text"))
    res.collect() // materialize so the executed plan exists
    val scans = res.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("kind=postings")) => s
    }
    // one doc probes at most 2 band keys -> at most 2 of 8 bucket
    // partitions may be read
    scans.foreach { s =>
      assert(s.selectedPartitions.partitionCount <= 2,
        s"probe read ${s.selectedPartitions.partitionCount} posting partitions")
    }
  }

  test("compact folds fragmented cells; probe results unchanged") {
    import spark.implicits._
    val idx = new NearDupIndex(spark, tmp(), buckets = 2)
    idx.ingest(Seq((1L, base)).toDF("doc_id", "text"))
    idx.ingest(Seq((2L, unrelated)).toDF("doc_id", "text"))
    idx.ingest(Seq((3L, "third separate doc")).toDF("doc_id", "text"))
    val before = idx.probe(Seq((50L, edited)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(before === Seq((50L, 1L)))
    assert(idx.compact(filesPerPartition = 1) > 0)
    val after = idx.probe(Seq((50L, edited)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after === before)
    assert(idx.compact(filesPerPartition = 1) === 0) // already compact
  }

  test("contracts: null text dropped, non-integral id rejected, bucket pin") {
    import spark.implicits._
    val path = tmp()
    val idx = new NearDupIndex(spark, path, buckets = 4)
    idx.ingest(Seq((1L, base), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    assert(idx.assignments.count() === 1) // null-text row dropped
    intercept[IllegalArgumentException] {
      idx.ingest(Seq(("x", base)).toDF("doc_id", "text"))
    }
    intercept[IllegalArgumentException] {
      new NearDupIndex(spark, path, buckets = 8)
        .probe(Seq((9L, base)).toDF("doc_id", "text"))
    }
    // band-identity parameters are pinned too: different band keys or
    // normalization would silently miss every historical near-dup
    intercept[IllegalArgumentException] {
      new NearDupIndex(spark, path, buckets = 4, rowsPerBand = 2)
        .probe(Seq((9L, base)).toDF("doc_id", "text"))
    }
    intercept[IllegalArgumentException] {
      new NearDupIndex(spark, path, buckets = 4, normChars = 100)
        .probe(Seq((9L, base)).toDF("doc_id", "text"))
    }
    // maxDist is a confirm threshold, not stored identity — tunable
    new NearDupIndex(spark, path, buckets = 4, maxDist = 10)
      .probe(Seq((9L, "tiny probe doc")).toDF("doc_id", "text")).count()
  }

  test("identity marker: mismatches and bucket-only markers are refused; " +
    "a probe of a virgin store pins nothing") {
    import spark.implicits._
    val path = tmp()
    val f = Fs.fs(spark, path)
    def marker(p: String): String = {
      val in = f.open(new org.apache.hadoop.fs.Path(p, "_buckets"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val idx = new NearDupIndex(spark, path, buckets = 8)
    idx.append(Seq((1L, base)).toDF("doc_id", "text"))
    assert(idx.probe(Seq((9L, edited)).toDF("doc_id", "text")).count() === 1)
    assert(marker(path) ===
      "buckets=8;numHashes=8;rowsPerBand=4;normChars=4000")
    intercept[IllegalArgumentException] {
      new NearDupIndex(spark, path, buckets = 16)
        .probe(Seq((9L, base)).toDF("doc_id", "text"))
    }
    intercept[IllegalArgumentException] {
      new NearDupIndex(spark, path, buckets = 8, rowsPerBand = 2)
        .probe(Seq((9L, base)).toDF("doc_id", "text"))
    }
    // a marker holding only the bucket count names no band identity:
    // refused by readers and writers alike, never rewritten
    val p2 = tmp()
    f.mkdirs(new org.apache.hadoop.fs.Path(p2))
    val out2 = f.create(new org.apache.hadoop.fs.Path(p2, "_buckets"), false)
    out2.write("8".getBytes("UTF-8")); out2.close()
    intercept[IllegalArgumentException] {
      new NearDupIndex(spark, p2, buckets = 8)
        .probe(Seq((9L, base)).toDF("doc_id", "text"))
    }
    intercept[IllegalArgumentException] {
      new NearDupIndex(spark, p2, buckets = 8)
        .append(Seq((1L, base)).toDF("doc_id", "text"))
    }
    assert(marker(p2) === "8")
    // probing a VIRGIN store must not create a marker at all: pinning
    // the PROBER's params as the store's permanent identity would lock
    // out the differently-tuned writer that arrives later
    val p3 = tmp()
    val probed = new NearDupIndex(spark, p3, buckets = 16)
      .probe(Seq((9L, base)).toDF("doc_id", "text"))
    assert(probed.count() === 0, "virgin store probes as empty")
    assert(!f.exists(new org.apache.hadoop.fs.Path(p3, "_buckets")),
      "probe created a marker on a virgin store")
    // the real writer then opens with ITS tuning, unobstructed
    new NearDupIndex(spark, p3, buckets = 8)
      .append(Seq((1L, base)).toDF("doc_id", "text"))
    assert(marker(p3).startsWith("buckets=8;"))
  }

  test("bloom prefilter parity: probe and ingest verdicts identical " +
    "with the prefilter forced on vs disabled") {
    import spark.implicits._
    def seed(idx: NearDupIndex): Unit =
      idx.append(Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text"))
    val batch = Seq((10L, edited), (11L, "tiny new doc"),
      (12L, unrelated)).toDF("doc_id", "text")
    val on = new NearDupIndex(spark, tmp(), buckets = 8,
      bloomMinHistoryRatio = 0L)
    val off = new NearDupIndex(spark, tmp(), buckets = 8,
      bloomMaxKeys = 0L)
    seed(on); seed(off)
    def probeRows(idx: NearDupIndex) =
      idx.probe(batch).select($"doc_id", $"hist_id", $"edit_dist")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val want = probeRows(off)
    assert(want.map(t => (t._1, t._2)) === Seq((10L, 1L), (12L, 2L)),
      s"expected the edited copy and the exact repeat to confirm: $want")
    assert(probeRows(on) === want,
      "bloom-prefiltered probe must return the exact unfiltered matches")
    def ingestRows(idx: NearDupIndex) =
      idx.ingest(batch).select($"doc_id", $"canonical_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val wOn = ingestRows(on)
    assert(wOn === ingestRows(off))
    assert(wOn === Seq((10L, 1L), (11L, 11L), (12L, 2L)))
    // replays re-derive identical verdicts through both paths
    assert(ingestRows(on) === wOn && ingestRows(off) === wOn)
  }

  test("rowCount restricted to the postings kind counts only postings " +
    "rows — the ratio gate's estimator on a multi-kind table") {
    import spark.implicits._
    val p = tmp()
    val idx = new NearDupIndex(spark, p, buckets = 8)
    idx.append(Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text"))
    idx.append(Seq((3L, edited + " extra tail words here")).toDF(
      "doc_id", "text"))
    val log = new ManifestLog(spark, p, 3, None)
    assert(log.rowCount("kind=postings") === idx.postings.count(),
      "prefix restriction must exclude the docs kind")
    assert(log.rowCount() > log.rowCount("kind=postings"),
      "the unrestricted count includes the docs rows too")
    assert(NearDupIndex.estPostingRows(log) === idx.postings.count())
  }
}
