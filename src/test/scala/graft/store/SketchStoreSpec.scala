package graft.store

import graft.SparkSuite
import graft.operators.{Cms, Hll, Kmv}
import org.apache.spark.sql.functions._

class SketchStoreSpec extends SparkSuite {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("sketchstore").toString

  private def words(rows: Seq[(String, String)]) = {
    import spark.implicits._
    rows.toDF("g", "v")
  }

  private val batch1 = (0 until 300).map(i => ("a", s"t$i")) ++
    (0 until 80).map(i => ("b", s"u$i"))
  private val batch2 = (200 until 500).map(i => ("a", s"t$i")) ++
    (0 until 200).map(i => ("b", s"u$i"))

  test("HLL store: merged read == batch sketch of the union; replays " +
    "are no-ops") {
    import spark.implicits._
    val st = new SketchStore(spark, tmp(), SketchStore.HllKind)
    def regs(rows: Seq[(String, String)]) =
      Hll.registers(words(rows), Seq("g"), "v").withColumnRenamed("g", "group")
    assert(st.ingest(regs(batch1), "load1"))
    assert(st.ingest(regs(batch2), "load2"))
    assert(!st.ingest(regs(batch1), "load1"), "replay commits nothing")
    val got = st.read().orderBy($"group", $"bucket").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    val want = Hll.registers(words(batch1 ++ batch2), Seq("g"), "v")
      .orderBy($"g", $"bucket").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    assert(got.toSeq === want.toSeq)
    assert(st.committedBatches ===
      Set("load1", "load2").map(SketchStore.tag))
  }

  test("CMS store: merged sums == batch sketch of the union; the replay " +
    "guard is what keeps them exact") {
    import spark.implicits._
    val st = new SketchStore(spark, tmp(), SketchStore.CmsKind)
    def regs(rows: Seq[(String, String)]) =
      Cms.registers(words(rows), Seq("g"), "v").withColumnRenamed("g", "group")
    assert(st.ingest(regs(batch1), "load1"))
    assert(!st.ingest(regs(batch1), "load1"),
      "a re-ingested CMS batch would double-count — must be refused")
    assert(st.ingest(regs(batch2), "load2"))
    val got = st.read().orderBy($"group", $"row", $"col").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val want = Cms.registers(words(batch1 ++ batch2), Seq("g"), "v")
      .orderBy($"g", $"row", $"col").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq === want.toSeq)
  }

  test("KMV store: merged k-min == batch sketch of the union") {
    import spark.implicits._
    val st = new SketchStore(spark, tmp(), SketchStore.KmvKind, k = 32)
    def sk(rows: Seq[(String, String)]) =
      Kmv.sketch(words(rows), Seq("g"), "v", k = 32)
        .withColumnRenamed("g", "group")
    assert(st.ingest(sk(batch1), "load1"))
    assert(st.ingest(sk(batch2), "load2"))
    val got = st.read().orderBy($"group").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1)))
    val want = Kmv.sketch(words(batch1 ++ batch2), Seq("g"), "v", k = 32)
      .orderBy($"g").collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    assert(got.toSeq === want.toSeq)
  }

  test("compact folds every dir into one, preserves the merged sketch " +
    "AND the replay guard") {
    import spark.implicits._
    val st = new SketchStore(spark, tmp(), SketchStore.CmsKind)
    def regs(rows: Seq[(String, String)]) =
      Cms.registers(words(rows), Seq("g"), "v").withColumnRenamed("g", "group")
    st.ingest(regs(batch1), "load1")
    st.ingest(regs(batch2), "load2")
    val before = st.read().orderBy($"group", $"row", $"col").collect().toSeq
    assert(st.compact() === 2)
    assert(st.read().orderBy($"group", $"row", $"col").collect().toSeq
      === before)
    assert(st.committedBatches ===
      Set("load1", "load2").map(SketchStore.tag),
      "folded batch ids survive via the batches.txt marker")
    assert(!st.ingest(regs(batch1), "load1"),
      "replay of a folded batch is still refused")
    assert(st.compact() === 0, "single-dir store has nothing to fold")
  }

  test("empty store reads empty; batch ids are sanitized, not rejected") {
    import spark.implicits._
    val st = new SketchStore(spark, tmp(), SketchStore.HllKind)
    assert(st.read().count() === 0)
    assert(st.committedBatches === Set.empty)
    def regs(rows: Seq[(String, String)]) =
      Hll.registers(words(rows), Seq("g"), "v").withColumnRenamed("g", "group")
    assert(st.ingest(regs(batch1), "s3://bucket/load 1"))
    assert(!st.ingest(regs(batch1), "s3://bucket/load 1"))
  }

  test("distinct batch ids differing only in punctuation do NOT " +
    "collide to one replay tag") {
    val st = new SketchStore(spark, tmp(), SketchStore.CmsKind)
    def regs(rows: Seq[(String, String)]) =
      Cms.registers(words(rows), Seq("g"), "v").withColumnRenamed("g", "group")
    assert(st.ingest(regs(batch1), "load-1"))
    assert(st.ingest(regs(batch2), "load.1"),
      "a sanitize collision would silently refuse this load as a replay")
    assert(st.ingest(regs(batch1), "load_1"))
    assert(!st.ingest(regs(batch1), "load-1"), "true replay still refused")
    assert(st.committedBatches ===
      Set("load-1", "load.1", "load_1").map(SketchStore.tag))
  }

  test("ingest racing a compaction is never lost (CMS sums stay exact)") {
    import spark.implicits._
    val dir = tmp()
    val st = new SketchStore(spark, dir, SketchStore.CmsKind)
    def regs(rows: Seq[(String, String)]) =
      Cms.registers(words(rows), Seq("g"), "v").withColumnRenamed("g", "group")
    st.ingest(regs(batch1), "load1")
    st.ingest(regs(batch2), "load2")
    val extra = (500 until 700).map(i => ("a", s"t$i"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(2)
    pool.submit(new Runnable {
      def run(): Unit = {
        try new SketchStore(spark, dir, SketchStore.CmsKind)
          .ingest(regs(extra), "load3")
        catch { case t: Throwable => failures.add(t) }
        finally latch.countDown()
      }
    })
    pool.submit(new Runnable {
      def run(): Unit = {
        try {
          val maint = new SketchStore(spark, dir, SketchStore.CmsKind)
          for (_ <- 1 to 3) maint.compact()
        } catch { case t: Throwable => failures.add(t) }
        finally latch.countDown()
      }
    })
    assert(latch.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"racer failed: ${failures.peek()}")
    // every load's cells and replay tag survived whichever interleaving
    // happened — a blanket manifest replacement in compact loses both
    assert(st.committedBatches ===
      Set("load1", "load2", "load3").map(SketchStore.tag))
    assert(!st.ingest(regs(extra), "load3"), "replay still refused")
    val got = st.read().orderBy($"group", $"row", $"col").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val want = Cms.registers(words(batch1 ++ batch2 ++ extra), Seq("g"), "v")
      .orderBy($"g", $"row", $"col").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq === want.toSeq)
  }

  test("a store holding a pre-upgrade batch tag is refused, not replayed") {
    import spark.implicits._
    val dir = tmp()
    def regs(rows: Seq[(String, String)]) =
      Cms.registers(words(rows), Seq("g"), "v").withColumnRenamed("g", "group")
    // build the store as the pre-upgrade code did: data dir tagged with
    // the plain sanitize form (no md5 suffix), committed through the
    // same manifest machinery
    val oldId = "s3://bucket/old load-1"
    val oldTag = "s3___bucket_old_load_1"
    val log = new ManifestLog(spark, dir, 3, None)
    val dirName = log.newDataDirName(1L, tag = oldTag)
    regs(batch1)
      .select(col("group"), col("row").cast("int").as("a"),
        col("col").cast("int").as("b"), col("counter").cast("long").as("v"))
      .withColumn("bucket",
        pmod(xxhash64(col("group")), lit(SketchStore.Buckets)).cast("int"))
      .write.partitionBy("bucket")
      .parquet(log.dataPath(dirName).toString)
    log.commitRetry(ManifestLog.appendMutate(
      log.listCells(dirName, SketchStore.LevelPrefixes), dirName))
    // the replay of the SAME raw id has a new-form tag that can never
    // equal the stored one: accepting it would double-count every CMS
    // cell of the batch, so the store refuses before writing anything
    val st = new SketchStore(spark, dir, SketchStore.CmsKind)
    def refused(what: String)(op: => Any): Unit = {
      val e = intercept[IllegalStateException] { op }
      assert(e.getMessage.contains(oldTag), s"$what: ${e.getMessage}")
    }
    refused("committedBatches")(st.committedBatches)
    refused("ingest")(st.ingest(regs(batch1), oldId))
    refused("ingest of a new id")(st.ingest(regs(batch2), "new-load-2"))
    assert(log.versions === Seq(1L))
    assert(new java.io.File(dir, "data").list().toSeq === Seq(dirName))
    // the stored batch still reads once, not twice
    val got = st.read().orderBy($"group", $"a", $"b").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val want = Cms.registers(words(batch1), Seq("g"), "v")
      .orderBy($"g", $"row", $"col").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq === want.toSeq)
    // every tag the store writes has the accepted shape, whatever the
    // raw id holds: letters and digits of any script, punctuation
    assert(SketchStore.TagShape.matches(SketchStore.tag("b\u00fccket \u0663-x")))
    // a tag that keeps a non-ASCII letter is not of that shape
    assert(!SketchStore.TagShape.matches("b\u00fccket_0123abcd"))
    val fresh = new SketchStore(spark, tmp(), SketchStore.CmsKind)
    val odd = "s3://bucket/load 3-e.1"
    assert(fresh.ingest(regs(batch1), odd))
    assert(fresh.committedBatches === Set(SketchStore.tag(odd)))
    assert(!fresh.ingest(regs(batch1), odd), "replay re-ingested")
  }

  test("a batch id with non-ASCII letters and digits ingests under an " +
    "ASCII tag, reads back as committed and replays as a no-op") {
    val st = new SketchStore(spark, tmp(), SketchStore.CmsKind)
    def regs(rows: Seq[(String, String)]) =
      Cms.registers(words(rows), Seq("g"), "v").withColumnRenamed("g", "group")
    val id = "s3://b\u00fccket/l\u00f6ad \u0663-\u00e9.1"
    val tag = SketchStore.tag(id)
    assert(tag.forall(_ < 128), tag)
    assert(tag.startsWith("s3___b_cket_l_ad_____1_"), tag)
    assert(st.ingest(regs(batch1), id))
    assert(st.committedBatches === Set(tag))
    assert(!st.ingest(regs(batch1), id), "replay re-ingested")
    // ids differing only in their non-ASCII characters keep distinct tags
    assert(st.ingest(regs(batch2), "s3://b\u00e4cket/l\u00f6ad \u0663-\u00e9.1"))
    assert(st.committedBatches.size === 2)
  }
}
