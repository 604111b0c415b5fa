package graft.store

import graft.SparkSuite
import graft.core.{DatalakeRecord, Metadata}
import org.apache.spark.sql.DataFrame

/** Versioned-manifest latest table: commit atomicity for concurrent
  * readers, incremental (bucket-scoped) upserts, and version GC. */
class LatestStoreSpec extends SparkSuite {
  import spark.implicits._

  val day: Long = DatalakeRecord.TimeBucketSizeMs

  private def batch(keys: Seq[(String, String)], start: Long,
      createTime: Long): DataFrame =
    keys.flatMap { case (what, where) =>
      DatalakeRecord.listFromMetadata(
        Metadata(0, start, None, where, what, None, "/var/x.log",
          f"${start + what.hashCode.toLong}%032x", "h"),
        s"file:///$what/$where", createTime, 2L)
    }.map(RecordRow.fromCore).toDS().toDF()

  test("upsert of one key rewrites one bucket, not the table") {
    val dir = tmpDir("lat-incr") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 8)
    // seed: 64 keys spread across all 8 buckets
    val keys = (1 to 64).map(i => (s"what$i", s"where$i"))
    store.upsert(batch(keys, 100L * day, 1L))
    val dataDir = new java.io.File(dir, "data")
    val v1 = dataDir.listFiles().map(_.getName).sorted
    assert(v1.length === 1)

    // one key -> the new data version holds exactly ONE kp directory
    store.upsert(batch(Seq(("what1", "where1")), 200L * day, 2L))
    val versions = dataDir.listFiles().map(_.getName).sorted
    assert(versions.length === 2)
    val v2kps = new java.io.File(dataDir, versions.last)
      .listFiles().map(_.getName).filter(_.startsWith("kp="))
    assert(v2kps.length === 1,
      s"expected 1 rewritten bucket, got ${v2kps.mkString(",")}")

    // the merged view is still complete and the touched key was updated
    val rows = store.latest.collect()
    assert(rows.length === 64)
    val updated = rows.find(r => r.getAs[String]("what") == "what1").get
    assert(updated.getAs[org.apache.spark.sql.Row]("metadata")
      .getAs[Long]("start") === 200L * day)
  }

  test("readers during upserts always see a complete committed snapshot") {
    val dir = tmpDir("lat-conc") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 4)
    val keys = (1 to 20).map(i => (s"w$i", s"s$i"))
    store.upsert(batch(keys, 100L * day, 1L))

    @volatile var failure: Option[Throwable] = None
    @volatile var running = true
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => {
      // a second handle on the same path, as a concurrent reader would be
      val view = new LatestStore(spark, dir, nBuckets = 4)
      while (running && failure.isEmpty) {
        try observed.add(view.latest.count())
        catch { case t: Throwable => failure = Some(t) }
      }
    })
    reader.start()
    try
      // 12 upserts while the reader loops: every read must resolve some
      // committed manifest -> exactly 20 keys, never 0, never partial
      for (r <- 1 to 12)
        store.upsert(batch(Seq((s"w${r % 20 + 1}", s"s${r % 20 + 1}")),
          (100L + r) * day, r.toLong))
    finally { running = false; reader.join(30000) }
    assert(failure.isEmpty, s"reader failed: ${failure.map(_.toString)}")
    assert(!observed.isEmpty)
    assert(observed.toArray.forall(_ == 20L),
      s"reader saw partial snapshots: ${observed.toArray.distinct.mkString(",")}")
  }

  test("racing writers: both upserts land via commit-retry, none lost") {
    val dir = tmpDir("lat-race") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 4)
    store.upsert(batch((1 to 8).map(i => (s"seed$i", s"s$i")), 100L * day, 1L))
    // two writers upsert DIFFERENT keys concurrently: whoever loses the
    // manifest rename must re-merge and retry, so both keys must survive
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val latch = new java.util.concurrent.CountDownLatch(2)
    for (w <- 1 to 2) {
      pool.submit(new Runnable {
        def run(): Unit = {
          try {
            val writer = new LatestStore(spark, dir, nBuckets = 4)
            for (r <- 1 to 3)
              writer.upsert(batch(Seq((s"w$w-key$r", s"host$w")),
                (200L + r) * day, (10 * w + r).toLong))
          } catch { case t: Throwable => failures.add(t) }
          finally latch.countDown()
        }
      })
    }
    assert(latch.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")
    val whats = store.latest.collect().map(_.getAs[String]("what")).toSet
    // 8 seeds + 3 keys per writer, none lost to the race
    assert(whats.size === 14, whats.toSeq.sorted.mkString(","))
    (1 to 3).foreach { r =>
      assert(whats.contains(s"w1-key$r") && whats.contains(s"w2-key$r"))
    }
  }

  test("vacuum keeps only keepVersions manifests and referenced data") {
    val dir = tmpDir("lat-gc") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 2, keepVersions = 2)
    for (r <- 1 to 6)
      store.upsert(batch(Seq(("a", "b")), (100L + r) * day, r.toLong))
    val manifestFiles = new java.io.File(dir, "manifests")
      .listFiles().filter(_.getName.startsWith("v")).sortBy(_.getName)
    assert(manifestFiles.length === 2)
    // data versions on disk are exactly those the retained manifests name
    val referenced = manifestFiles.flatMap { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().filter(_.contains('='))
        .map(_.split("=", 2)(1)).toList
      finally src.close()
    }.toSet
    val dataVers = new java.io.File(dir, "data").listFiles().map(_.getName)
    assert(dataVers.toSet === referenced)
    val rows = store.latest.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[org.apache.spark.sql.Row]("metadata")
      .getAs[Long]("start") === 106L * day)
  }

  test("a replayed batch commits nothing, and a batch that changes one " +
    "key rewrites only that key's bucket") {
    val dir = tmpDir("lat-replay") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 4, keepVersions = 2)
    val keys = (1 to 8).map(i => ("syslog", s"host$i"))
    def dataDirs = new java.io.File(dir, "data").list().toSeq.sorted
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    store.upsert(batch(keys, 100L * day, 1L))
    val Seq(v1) = store.versions
    val v1Dirs = dataDirs
    val v1Rows = rows(store.latest)
    assert(v1Rows.size === 8)
    (1 to 2).foreach(_ => store.upsert(batch(keys, 100L * day, 1L)))
    assert(store.versions === Seq(v1))
    assert(dataDirs === v1Dirs)
    assert(rows(store.latestAt(v1)) === v1Rows)

    // the same keys, one of them newer: one version, one kp leaf
    val newer = batch(keys.take(1), 200L * day, 1L)
    store.upsert(batch(keys.drop(1), 100L * day, 1L).union(newer))
    assert(store.versions.size === 2)
    val Seq(v2Dir) = dataDirs.diff(v1Dirs)
    val v2Leaves = new java.io.File(new java.io.File(dir, "data"), v2Dir).list()
    assert(v2Leaves.toSeq === Seq(s"kp=${LatestStore.bucketOf("syslog", "host1", 4)}"))
    val starts = store.latest.collect().map(r => r.getAs[String]("where") ->
      r.getAs[org.apache.spark.sql.Row]("metadata").getAs[Long]("start")).toMap
    assert(starts === keys.map { case (_, where) =>
      where -> (if (where == "host1") 200L else 100L) * day }.toMap)
  }

  test("time travel: latestAt reads the snapshot a version committed") {
    val store = new LatestStore(spark, tmpDir("lat-tt") + "/t", nBuckets = 4)
    store.upsert(batch(Seq(("a", "x")), 100L * day, 1L))
    val v1 = store.versions.last
    store.upsert(batch(Seq(("a", "x")), 200L * day, 2L))
    val v2 = store.versions.last
    def startAt(v: Long): Long =
      store.latestAt(v).collect().head
        .getAs[org.apache.spark.sql.Row]("metadata").getAs[Long]("start")
    assert(startAt(v1) === 100L * day)
    assert(startAt(v2) === 200L * day)
    // a pinned snapshot whose data was reclaimed must FAIL, never
    // silently return a partial table: simulate a vacuumed dir by
    // deleting v1's data version out from under its manifest
    val f = new org.apache.hadoop.fs.Path(store.latest.inputFiles.head)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val m1 = scala.io.Source.fromInputStream(
      f.open(new org.apache.hadoop.fs.Path(
        store.latest.inputFiles.head.split("/data/")(0) +
          f"/manifests/v$v1%010d.txt")), "UTF-8").getLines()
      .next().split("=", 2)(1)
    f.delete(new org.apache.hadoop.fs.Path(
      store.latest.inputFiles.head.split("/data/")(0) + s"/data/$m1"), true)
    intercept[Exception](store.latestAt(v1).collect())
    // the current snapshot still reads fine
    assert(startAt(v2) === 200L * day)
  }

  test("vacuumOrphans reclaims a crashed writer's data dir, not a fresh one") {
    val dir = tmpDir("lat-orphan") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 2)
    store.upsert(batch(Seq(("a", "b")), 100L * day, 1L))
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val orphan = new org.apache.hadoop.fs.Path(dir, "data/v0000000042-deadbeef")
    f.mkdirs(new org.apache.hadoop.fs.Path(orphan, "kp=0"))
    f.setTimes(orphan, System.currentTimeMillis() - 48 * 3600 * 1000L, -1)
    val fresh = new org.apache.hadoop.fs.Path(dir, "data/v0000000043-cafebabe")
    f.mkdirs(new org.apache.hadoop.fs.Path(fresh, "_temporary"))
    assert(store.vacuumOrphans(24 * 3600 * 1000L) === Seq("v0000000042-deadbeef"))
    assert(!f.exists(orphan))
    assert(f.exists(fresh))
    assert(store.latest.count() === 1)
  }

  test("vacuumOrphans never deletes on UNKNOWN age: an object store's " +
    "synthetic zero mtimes must not make an in-flight writer's dir " +
    "look ancient") {
    val dir = tmpDir("lat-orphan0") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 2)
    store.upsert(batch(Seq(("a", "b")), 100L * day, 1L))
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // an unreferenced dir whose every timestamp reads 0 — what S3A
    // reports for directories (and a just-created empty marker file)
    val unknown = new org.apache.hadoop.fs.Path(dir, "data/v0000000044-00000000")
    f.mkdirs(unknown)
    f.setTimes(unknown, 0L, -1)
    assert(store.vacuumOrphans(24 * 3600 * 1000L) === Nil,
      "zero mtime is unknown age, not old age")
    assert(f.exists(unknown))
    // but a dir whose FILES carry old timestamps is provably old even
    // when the dir entry itself reads 0
    val old = new org.apache.hadoop.fs.Path(dir, "data/v0000000045-11111111")
    f.mkdirs(old)
    val out = f.create(new org.apache.hadoop.fs.Path(old, "part-0"), true)
    out.write("x".getBytes("UTF-8")); out.close()
    f.setTimes(new org.apache.hadoop.fs.Path(old, "part-0"),
      System.currentTimeMillis() - 48 * 3600 * 1000L, -1)
    f.setTimes(old, 0L, -1)
    assert(store.vacuumOrphans(24 * 3600 * 1000L) ===
      Seq("v0000000045-11111111"))
  }

  test("empty store: exists is false and latest is empty") {
    val store = new LatestStore(spark, tmpDir("lat-empty") + "/t")
    assert(!store.exists)
    assert(store.latest.count() === 0)
  }

  test("reopening with a different nBuckets is rejected — a mismatched " +
    "modulus would merge against the wrong bucket and leave two live " +
    "rows per key") {
    val dir = tmpDir("lat-buckets") + "/t"
    new LatestStore(spark, dir, nBuckets = 4)
      .upsert(batch(Seq(("w", "p")), 100L * day, 1L))
    val e = intercept[IllegalArgumentException] {
      new LatestStore(spark, dir, nBuckets = 8)
        .upsert(batch(Seq(("w2", "p2")), 100L * day, 1L))
    }
    assert(e.getMessage.contains("created with 4"))
    // the matching modulus keeps working
    new LatestStore(spark, dir, nBuckets = 4)
      .upsert(batch(Seq(("w2", "p2")), 100L * day, 1L))
  }

  test("a merge whose referenced leaf is missing FAILS the upsert " +
    "instead of committing a table without that bucket's keys") {
    val dir = tmpDir("lat-strict") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 2)
    val keys = (1 to 16).map(i => (s"what$i", s"where$i"))
    store.upsert(batch(keys, 100L * day, 1L))
    val before = store.latest.count()
    assert(before === 16L)
    // externally delete one referenced kp leaf (flaky-FS simulation)
    val dataDir = new java.io.File(dir, "data")
    val leaf = dataDir.listFiles().head.listFiles()
      .filter(_.getName.startsWith("kp=")).head
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(rm); x.delete()
    }
    rm(leaf)
    // an upsert touching every bucket must fail loudly, not silently
    // drop the vanished bucket's existing keys from the rewrite
    intercept[Exception] { store.upsert(batch(keys, 200L * day, 2L)) }
  }

  test("a current-snapshot read whose referenced leaf is missing FAILS " +
    "instead of returning a table without that bucket's keys") {
    val dir = tmpDir("lat-vanished") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 4)
    store.upsert(batch((1 to 16).map(i => (s"what$i", s"where$i")),
      100L * day, 1L))
    assert(store.latest.count() === 16L)
    val leaf = new java.io.File(dir, "data").listFiles().head.listFiles()
      .filter(_.getName.startsWith("kp=")).head
    leaf.listFiles().foreach(_.delete())
    assert(leaf.delete())
    intercept[java.io.FileNotFoundException](store.latest.collect())
  }

  test("a merge over the driver bound is refused with its size, the " +
    "bound and the fix, and commits nothing") {
    val dir = tmpDir("lat-bound") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 2)
    val keys = (1 to 16).map(i => (s"what$i", s"where$i"))
    store.upsert(batch(keys, 100L * day, 1L))
    val versions = store.versions
    val dirs = new java.io.File(dir, "data").list().toSet
    val before = store.latest.collect().map(_.toString).toSet
    val e = intercept[IllegalStateException] {
      store.upsert(batch(keys.take(1), 200L * day, 2L), maxMergeBytes = 100L)
    }
    assert(e.getMessage.matches(
      ".*collect \\d+ stored bytes.*bound of 100 bytes.*larger nBuckets.*"),
      e.getMessage)
    assert(store.versions === versions)
    assert(new java.io.File(dir, "data").list().toSet === dirs)
    assert(store.latest.collect().map(_.toString).toSet === before)
    // within the bound the same merge lands
    store.upsert(batch(keys.take(1), 200L * day, 2L))
    assert(store.versions.last === versions.last + 1)
  }

  test("bucketOf on the driver names the kp upsert wrote; the one-bucket " +
    "lookup returns the full table's row, and nothing for an absent key") {
    val dir = tmpDir("lat-kp") + "/t"
    val store = new LatestStore(spark, dir, nBuckets = 16)
    val rng = new scala.util.Random(606)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789_-"
    def slug(): String =
      Seq.fill(1 + rng.nextInt(12))(alphabet(rng.nextInt(alphabet.length)))
        .mkString
    val keys = Seq.fill(240)((slug(), slug())).distinct
    assert(keys.size >= 200)
    store.upsert(batch(keys, 100L * day, 1L))
    val kpOf = "kp=(\\d+)".r.unanchored
    val written = store.latest
      .select($"what", $"where",
        org.apache.spark.sql.functions.input_file_name())
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2) match {
        case kpOf(kp) => kp.toInt
      })).toMap
    assert(written.keySet === keys.toSet)
    keys.foreach { case k @ (what, where) =>
      assert(LatestStore.bucketOf(what, where, 16) === written(k), k)
    }

    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq
    def full(what: String, where: String) =
      rows(store.latest.filter($"what" === what && $"where" === where))
    keys.take(8).foreach { case (what, where) =>
      val got = rows(store.lookup(what, where))
      assert(got.size === 1)
      assert(got === full(what, where))
    }
    // a reader opened with another modulus still reads the stamped one
    val (w0, h0) = keys.head
    assert(rows(new LatestStore(spark, dir, nBuckets = 5).lookup(w0, h0)) ===
      full(w0, h0))
    Seq(("absent", "key"), (w0, h0 + "x"), (keys(1)._1, h0)).foreach {
      case (what, where) =>
        assert(!keys.contains((what, where)))
        assert(store.lookup(what, where).isEmpty)
    }
    assert(new LatestStore(spark, tmpDir("lat-kp-none") + "/t")
      .lookup(w0, h0).isEmpty)
  }
}
