package graft.store

import graft.SparkSuite
import graft.core.{DatalakeRecord, Metadata}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions.col

class StoreMaintenanceSpec extends SparkSuite {

  val day: Long = DatalakeRecord.TimeBucketSizeMs

  def meta(i: Int, what: String = "w", workId: Option[String] = None): Metadata =
    Metadata(0, 500L * day + i, None, "here", what, workId,
      "/var/x.log", f"$i%032x", "h")

  /** Append `df`'s rows to `idx` in the driver-held form an ingest batch
    * hands it. */
  def appendRows(idx: WorkIdIndex, df: DataFrame): Unit = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(df.schema)
    idx.append(df.collect().toSeq.map(toCatalyst(_).asInstanceOf[InternalRow]),
      df.schema)
  }

  test("compact merges per-cell small files without changing rows") {
    val store = new RecordStore(spark, tmpDir("cmp") + "/t")
    // 5 appends → 5 data dirs, each holding one small file for the cell
    for (i <- 1 to 5)
      store.append(DatalakeRecord.listFromMetadata(
        meta(i), s"file:///$i", 1L, 2L))
    val before = store.records.orderBy(col("metadata.id")).collect()
    assert(store.records.inputFiles.length === 5)

    val compacted = store.compact(filesPerPartition = 1)
    assert(compacted === 1)
    assert(store.records.inputFiles.length === 1)
    val after = store.records.orderBy(col("metadata.id")).collect()
    assert(after.toSeq === before.toSeq)
    // store remains appendable + queryable after the rewrite
    store.append(DatalakeRecord.listFromMetadata(meta(6), "file:///6", 1L, 2L))
    assert(store.records.count() === 6)
  }

  test("compact leaves already-compact partitions untouched") {
    val store = new RecordStore(spark, tmpDir("cmp2") + "/t")
    store.append((1 to 3).flatMap(i =>
      DatalakeRecord.listFromMetadata(meta(i), s"file:///$i", 1L, 2L)))
    assert(store.compact() === 0)
  }

  test("readers looping during compaction always see a complete snapshot") {
    val dir = tmpDir("cmp-conc") + "/t"
    val store = new RecordStore(spark, dir)
    // two cells, each fragmented across several appends
    for (i <- 1 to 6)
      store.append(DatalakeRecord.listFromMetadata(
        meta(i, what = if (i % 2 == 0) "a" else "b"), s"file:///$i", 1L, 2L))
    val expected = store.records.collect().map(_.toString).sorted.toSeq

    @volatile var failure: Option[Throwable] = None
    @volatile var running = true
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => {
      // a second handle on the same path, as a concurrent reader would be
      val view = new RecordStore(spark, dir)
      while (running && failure.isEmpty) {
        try observed.add(view.records.count())
        catch { case t: Throwable => failure = Some(t) }
      }
    })
    reader.start()
    try {
      assert(store.compact(filesPerPartition = 1) === 2)
      // a few more maintenance rounds while the reader loops: append →
      // fragment → compact, so the reader crosses several commits
      for (i <- 7 to 9)
        store.append(DatalakeRecord.listFromMetadata(
          meta(i, what = "a"), s"file:///$i", 1L, 2L))
      store.compact(filesPerPartition = 1)
    } finally { running = false; reader.join(30000) }
    assert(failure.isEmpty, s"reader failed: ${failure.map(_.toString)}")
    assert(!observed.isEmpty)
    // every observed count is a committed row total: 6 before the extra
    // appends, 7..9 as each append commits — never 0, never a partial or
    // doubled view of a cell mid-rewrite
    val seen = observed.toArray.map(_.asInstanceOf[Long]).toSet
    assert(seen.subsetOf(Set(6L, 7L, 8L, 9L)),
      s"reader saw partial snapshots: ${seen.toSeq.sorted.mkString(",")}")
    // and the final table is intact
    assert(store.records.collect().map(_.toString).sorted.length === 9)
    assert(store.records.filter(col("metadata.id").isin(
      (1 to 6).map(i => f"$i%032x"): _*)).collect()
      .map(_.toString).sorted.toSeq === expected)
  }

  test("append racing a compaction is never lost (snapshot-diff commit)") {
    val dir = tmpDir("cmp-race") + "/t"
    val store = new RecordStore(spark, dir)
    for (i <- 1 to 4)
      store.append(DatalakeRecord.listFromMetadata(
        meta(i), s"file:///$i", 1L, 2L))
    // interleave: a writer appends to the SAME cell while compact runs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(2)
    pool.submit(new Runnable {
      def run(): Unit = {
        try {
          val writer = new RecordStore(spark, dir)
          for (i <- 5 to 7)
            writer.append(DatalakeRecord.listFromMetadata(
              meta(i), s"file:///$i", 1L, 2L))
        } catch { case t: Throwable => failures.add(t) }
        finally latch.countDown()
      }
    })
    pool.submit(new Runnable {
      def run(): Unit = {
        try {
          val maint = new RecordStore(spark, dir)
          for (_ <- 1 to 3) maint.compact(filesPerPartition = 1)
        } catch { case t: Throwable => failures.add(t) }
        finally latch.countDown()
      }
    })
    assert(latch.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"racer failed: ${failures.peek()}")
    // all 7 ids present exactly once: the compaction superseded only the
    // dirs it actually rewrote, keeping racing appends' dirs live
    val ids = store.records.collect()
      .map(_.getAs[org.apache.spark.sql.Row]("metadata").getAs[String]("id"))
    assert(ids.sorted.toSeq === (1 to 7).map(i => f"$i%032x").sorted)
  }

  test("a pre-manifest table root is refused by every read and write") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions.substring
    val session = spark
    import session.implicits._
    val rows = (1 to 4).flatMap(i =>
      DatalakeRecord.listFromMetadata(meta(i, workId = Some(s"wk$i")),
        s"file:///$i", 1L, 2L))
      .map(RecordRow.fromCore)
    val df = rows.toDS().toDF()
    val more = DatalakeRecord.listFromMetadata(
      meta(5, workId = Some("wk5")), "file:///5", 1L, 2L)
    def refused(what: String)(op: => Any): Unit = {
      val e = intercept[IllegalStateException] { op }
      assert(e.getMessage.contains("pre-manifest"), s"$what: ${e.getMessage}")
    }
    val fs = new Path(tmpDir("premanifest")).getFileSystem(
      spark.sessionState.newHadoopConf())
    def nothingWritten(dir: String): Unit = {
      assert(!fs.exists(new Path(dir, "data")), s"$dir: data/ was written")
      assert(!fs.exists(new Path(dir, "manifests")),
        s"$dir: manifests/ was written")
    }

    // the old record layout: a partitioned tree written directly at
    // the table root, no manifest
    val recDir = tmpDir("legacy") + "/t"
    df.write.mode(SaveMode.Overwrite)
      .partitionBy("time_bucket", "what").parquet(recDir)
    val store = new RecordStore(spark, recDir)
    refused("exists")(store.exists)
    refused("records")(store.records)
    refused("append")(store.append(more))
    refused("compact")(store.compact(filesPerPartition = 1))
    nothingWritten(recDir)

    // the old latest layout: winners written flat at the table root
    val latDir = tmpDir("legacy-latest") + "/t"
    df.write.mode(SaveMode.Overwrite).parquet(latDir)
    val latest = new LatestStore(spark, latDir, nBuckets = 4)
    refused("latest")(latest.latest)
    refused("lookup")(latest.lookup("w", "here"))
    refused("upsert")(latest.upsert(df))
    nothingWritten(latDir)

    // the old work-id index layout: prefix dirs at the table root
    val idxDir = tmpDir("legacy-wid") + "/t"
    df.withColumn("work_id_prefix", substring($"work_id", 0, 2))
      .write.mode(SaveMode.Overwrite).partitionBy("work_id_prefix")
      .parquet(idxDir)
    val index = new WorkIdIndex(spark, idxDir)
    val source = new RecordStore(spark, tmpDir("legacy-wid-src") + "/t")
    source.append(more)
    refused("find")(index.find("wk1", "w"))
    refused("append")(appendRows(index, df))
    refused("rebuild")(index.rebuild(source))
    nothingWritten(idxDir)
  }

  test("a crashed first writer's data dir and a marker read as empty, " +
    "not as a pre-manifest table") {
    val fs = new Path(tmpDir("crashed")).getFileSystem(
      spark.sessionState.newHadoopConf())
    def crashedRoot(name: String, cell: String): String = {
      val dir = tmpDir(name) + "/t"
      val leaf = new Path(dir, s"data/v0000000001-deadbeef/$cell")
      fs.mkdirs(leaf)
      fs.create(new Path(leaf, "part-00000.parquet")).close()
      val out = fs.create(new Path(dir, "_buckets"))
      try out.write("4".getBytes("UTF-8")) finally out.close()
      dir
    }
    val store = new RecordStore(spark,
      crashedRoot("crashed-rec", "time_bucket=500/what=w"))
    assert(!store.exists)
    assert(store.records.count() === 0)
    store.append(DatalakeRecord.listFromMetadata(meta(1), "file:///1", 1L, 2L))
    assert(store.records.count() === 1)

    val latest = new LatestStore(spark,
      crashedRoot("crashed-lat", "kp=0"), nBuckets = 4)
    assert(!latest.exists)
    assert(latest.latest.count() === 0)
    assert(latest.lookup("w", "here").count() === 0)
  }

  test("vacuumOrphans reclaims crashed-writer dirs, never fresh ones") {
    val dir = tmpDir("orphan") + "/t"
    val store = new RecordStore(spark, dir)
    store.append(DatalakeRecord.listFromMetadata(meta(1), "file:///1", 1L, 2L))
    val f = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a writer that died between data-write and manifest-commit
    val orphan = new Path(dir, "data/v0000000099-deadbeef")
    f.mkdirs(new Path(orphan, "time_bucket=500/what=w"))
    // ...long ago
    f.setTimes(orphan, System.currentTimeMillis() - 48 * 3600 * 1000L, -1)
    // and one that is mid-write right now
    val fresh = new Path(dir, "data/v0000000100-cafebabe")
    f.mkdirs(new Path(fresh, "_temporary"))

    val reclaimed = store.vacuumOrphans(olderThanMs = 24 * 3600 * 1000L)
    assert(reclaimed === Seq("v0000000099-deadbeef"))
    assert(!f.exists(orphan))
    assert(f.exists(fresh), "in-flight write must be untouched")
    // referenced data is of course untouched
    assert(store.records.count() === 1)
  }

  test("time travel: recordsAt pins an immutable snapshot across " +
    "appends, compaction, and vacuum") {
    val store = new RecordStore(spark, tmpDir("tt") + "/t", keepVersions = 3)
    store.append(DatalakeRecord.listFromMetadata(meta(1), "file:///1", 1L, 2L))
    val v1 = store.versions.last
    store.append(DatalakeRecord.listFromMetadata(meta(2), "file:///2", 1L, 2L))
    val v2 = store.versions.last
    assert(store.recordsAt(v1).count() === 1)
    assert(store.recordsAt(v2).count() === 2)
    // compaction commits a new version; the pinned snapshots still read
    // their ORIGINAL data exactly
    assert(store.compact(filesPerPartition = 1) === 1)
    assert(store.recordsAt(v1).collect().map(_.getAs[org.apache.spark.sql
      .Row]("metadata").getAs[String]("id")).toSeq === Seq(f"${1}%032x"))
    assert(store.recordsAt(v2).count() === 2)
    assert(store.records.count() === 2)
    // more commits than keepVersions: v1 vacuums away and now THROWS
    // (never a silent partial read)
    for (i <- 3 to 6)
      store.append(DatalakeRecord.listFromMetadata(meta(i), s"file:///$i", 1L, 2L))
    assert(!store.versions.contains(v1))
    intercept[java.io.IOException](store.recordsAt(v1).count())
    // current view is intact throughout
    assert(store.records.count() === 6)
  }

  test("compactMutate: racing compaction of the same cell yields, " +
    "concurrent appends survive") {
    val snap = Map("c1" -> Seq("d1", "d2"), "c2" -> Seq("d3", "d4"))
    // plain case: no race — both cells supersede
    val (e0, y0) = ManifestLog.compactMutate(snap, Set("c1", "c2"), "dN")(snap)
    assert(y0 === Set.empty)
    assert(e0 === Map("c1" -> Seq("dN"), "c2" -> Seq("dN")))
    // an append landed on c1 after our snapshot: preserved next to dN
    val appended = snap.updated("c1", Seq("d1", "d2", "dA"))
    val (e1, y1) = ManifestLog.compactMutate(snap, Set("c1", "c2"), "dN")(appended)
    assert(y1 === Set.empty)
    assert(e1("c1") === Seq("dN", "dA"))
    // a RACING compaction already rewrote c1 (snapshot dirs gone):
    // superseding again would double every row — c1 must yield, c2 not
    val raced = Map("c1" -> Seq("dOther"), "c2" -> Seq("d3", "d4"))
    val (e2, y2) = ManifestLog.compactMutate(snap, Set("c1", "c2"), "dN")(raced)
    assert(y2 === Set("c1"))
    assert(e2("c1") === Seq("dOther"))
    assert(e2("c2") === Seq("dN"))
    // racing compaction + an append on top of it: still yield c1, keep all
    val racedPlus = Map("c1" -> Seq("dOther", "dA"))
    val (e3, y3) = ManifestLog.compactMutate(
      Map("c1" -> Seq("d1")), Set("c1"), "dN")(racedPlus)
    assert(y3 === Set("c1"))
    assert(e3("c1") === Seq("dOther", "dA"))
  }

  test("racing compactions on the shared path: the loser yields every " +
    "cell, returns 0 and deletes its dir; no row is lost or doubled") {
    val dir = tmpDir("race-compact") + "/t"
    val store = new RecordStore(spark, dir)
    // two cells, two data dirs each: both fragmented at one file a cell
    for (i <- 1 to 4)
      store.append(DatalakeRecord.listFromMetadata(
        meta(i, what = if (i % 2 == 0) "a" else "b"), s"file:///$i", 1L, 2L))
    val rows = store.records.count()
    val rival = new ManifestLog(spark, dir)
    val loser = new ManifestLog(spark, dir)
    def rewrite(log: ManifestLog)(cells: Map[String, Seq[String]],
        d: String): Unit =
      log.readEntries(cells, RecordStore.schema).write
        .partitionBy("time_bucket", "what").parquet(log.dataPath(d).toString)
    var loserDir = ""
    var rivalCells = -1
    val lost = loser.compact(1) { (cells, d) =>
      rewrite(loser)(cells, d)
      loserDir = d
      // the rival compacts the same snapshot and commits first
      rivalCells = rival.compact(1)(rewrite(rival))
    }
    assert(rivalCells === 2, "the rival rewrote both fragmented cells")
    assert(lost === 0, "every cell of the loser yields to the rival")
    val f = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(loserDir.nonEmpty && !f.exists(loser.dataPath(loserDir)),
      "the loser's unreferenced dir is deleted")
    assert(store.records.count() === rows)
  }

  test("rebuildMutate: racing rebuild yields; appends and stale cells " +
    "handled") {
    val snap = Map("work_id_prefix=aa" -> Seq("v1-rebuild-x"))
    // normal rebuild over its own predecessor: full replacement
    val (e0, y0) = WorkIdIndex.rebuildMutate(
      snap, Seq("work_id_prefix=aa", "work_id_prefix=bb"), "v2-rebuild-y")(snap)
    assert(!y0)
    assert(e0 === Map("work_id_prefix=aa" -> Seq("v2-rebuild-y"),
      "work_id_prefix=bb" -> Seq("v2-rebuild-y")))
    // stale cell with no new data and no appends drops out
    val (e1, _) = WorkIdIndex.rebuildMutate(
      snap, Seq("work_id_prefix=bb"), "v2-rebuild-y")(snap)
    assert(!e1.contains("work_id_prefix=aa"))
    // a concurrent append post-snapshot is preserved
    val withApp = snap.updated("work_id_prefix=cc", Seq("dA"))
    val (e2, y2) = WorkIdIndex.rebuildMutate(
      snap, Seq("work_id_prefix=aa"), "v2-rebuild-y")(withApp)
    assert(!y2)
    assert(e2("work_id_prefix=cc") === Seq("dA"))
    // ANOTHER rebuild (tagged dir not in our snapshot) already landed:
    // committing ours over it would double the index — yield wholesale.
    // This also covers two concurrent FIRST rebuilds (empty snapshot).
    val other = Map("work_id_prefix=aa" -> Seq("v2-rebuild-z"))
    val (e3, y3) = WorkIdIndex.rebuildMutate(
      snap, Seq("work_id_prefix=aa"), "v2-rebuild-y")(other)
    assert(y3)
    assert(e3 === other)
    val (e4, y4) = WorkIdIndex.rebuildMutate(
      Map.empty, Seq("work_id_prefix=aa"), "v1-rebuild-b")(
      Map("work_id_prefix=aa" -> Seq("v1-rebuild-a")))
    assert(y4)
    assert(e4 === Map("work_id_prefix=aa" -> Seq("v1-rebuild-a")))
  }

  test("work-id index rebuild + pruned lookup") {
    val store = new RecordStore(spark, tmpDir("widx") + "/t")
    val withIds = (1 to 20).flatMap { i =>
      DatalakeRecord.listFromMetadata(
        meta(i, what = "job", workId = Some(s"w${i % 4}-id")), s"file:///$i", 1L, 2L)
    }
    val nulls = DatalakeRecord.listFromMetadata(
      meta(99, what = "job"), "file:///99", 1L, 2L)
    store.append(withIds ++ nulls)

    val idx = new WorkIdIndex(spark, tmpDir("widx2") + "/idx")
    idx.rebuild(store)
    val hit = idx.lookup("w1-id", "job").collect()
    assert(hit.map(_.getAs[org.apache.spark.sql.Row]("metadata")
      .getAs[String]("id")).sorted ===
      (1 to 20).filter(_ % 4 == 1).map(i => f"$i%032x").sorted)
    // null work_ids are not indexed
    assert(idx.lookup("w0-id", "job").count() === 5)

    // the querier takes the indexed path and returns identical pages
    val qIndexed = new graft.query.ArchiveQuerier(store, workIdIndex = Some(idx))
    val qPlain = new graft.query.ArchiveQuerier(store)
    val a = qIndexed.queryByWorkId("w2-id", "job").records.map(_.metadata.id)
    val b = qPlain.queryByWorkId("w2-id", "job").records.map(_.metadata.id)
    assert(a === b)
    assert(a.nonEmpty)

    // the index scan is partition-pruned to ONE work_id_prefix dir —
    // the GSI-equivalent locality claim, asserted at the plan level
    val lookupPlan = idx.lookup("w1-id", "job").queryExecution.sparkPlan
    val prunedScans = lookupPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.exists(_.toString.contains("work_id_prefix")) => f
    }
    assert(prunedScans.nonEmpty, s"no prefix-pruned scan in:\n$lookupPlan")
    assert(prunedScans.head.selectedPartitions.partitionCount === 1,
      "expected exactly one work_id_prefix partition read")
  }

  test("work-id index rebuild replaces stale appended entries atomically") {
    val store = new RecordStore(spark, tmpDir("widx3") + "/t")
    store.append((1 to 8).flatMap(i => DatalakeRecord.listFromMetadata(
      meta(i, what = "job", workId = Some(s"aa-$i")), s"file:///$i", 1L, 2L)))
    val idx = new WorkIdIndex(spark, tmpDir("widx4") + "/idx")
    idx.rebuild(store)
    // incremental appends fragment the index...
    store.append(DatalakeRecord.listFromMetadata(
      meta(9, what = "job", workId = Some("aa-9")), "file:///9", 1L, 2L))
    appendRows(idx, store.records.filter(col("metadata.id") === f"${9}%032x"))
    assert(idx.lookup("aa-9", "job").count() === 1)
    // ...and a rebuild collapses every prefix back to one dir
    idx.rebuild(store)
    assert(idx.lookup("aa-9", "job").count() === 1)
    assert(idx.lookup("aa-1", "job").count() === 1)
  }
}
