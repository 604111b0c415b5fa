package graft.store

import graft.{ProcessStarts, SparkSuite}
import graft.core.{DatalakeRecord, Metadata}
import org.apache.hadoop.fs.Path

/** Contract suite for the commit-CAS seam ([[ManifestCommitter]]): every
  * implementation must admit AT MOST ONE winner per manifest name, leave
  * the winner's exact bytes at the target, and leave nothing a manifest
  * listing would mistake for a committed version. Two "processes" are
  * simulated as two committer instances sharing nothing but the
  * filesystem (and, for the conditional-put variant, the external CAS —
  * the reference's DynamoDB table, `storage.py:78-137`).
  */
class CommitterContractSpec extends SparkSuite {

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def readAll(path: Path): String = {
    val in = fsOf(path.toString).open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Race `n` concurrent putIfAbsent calls (each with distinct bytes,
    * each through its own committer = its own "process") and return the
    * winning payloads. */
  private def race(n: Int, target: Path,
      mk: Int => ManifestCommitter): Seq[Int] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val start = new java.util.concurrent.CountDownLatch(1)
    val winners = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val done = new java.util.concurrent.CountDownLatch(n)
    for (i <- 1 to n) {
      val committer = mk(i)
      pool.submit(new Runnable {
        def run(): Unit = {
          try {
            start.await()
            if (committer.putIfAbsent(target, s"payload-$i\n".getBytes("UTF-8")))
              winners.add(i)
          } finally done.countDown()
        }
      })
    }
    start.countDown()
    assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    winners.toArray(Array.empty[Integer]).toSeq.map(_.intValue())
  }

  test("a RenameCommitter commit, won or lost, starts no OS process") {
    // the recording sees a process this thread starts
    val (_, control) = ProcessStarts.on(
      new ProcessBuilder("true").start().waitFor())
    assert(control.size === 1, control)
    val dir = tmpDir("cas-nofork")
    val committer = new RenameCommitter(spark, dir)
    // the manifests dir does not exist yet: the commit creates it
    val target = new Path(dir, "manifests/v0000000001.txt")
    val (won, winStarts) = ProcessStarts.on(
      committer.putIfAbsent(target, "first\n".getBytes("UTF-8")))
    assert(won)
    assert(winStarts === Nil)
    val (lost, loseStarts) = ProcessStarts.on(
      committer.putIfAbsent(target, "second\n".getBytes("UTF-8")))
    assert(!lost)
    assert(loseStarts === Nil)
    assert(readAll(target) === "first\n")
  }

  test("RenameCommitter: one winner among racing in-process writers") {
    val dir = tmpDir("cas-rename")
    val target = new Path(dir, "manifests/v0000000001.txt")
    fsOf(dir).mkdirs(target.getParent)
    val winners = race(8, target, _ => new RenameCommitter(spark, dir))
    assert(winners.size === 1, s"winners: $winners")
    assert(readAll(target) === s"payload-${winners.head}\n")
    // losers' temps cleaned: only the committed manifest remains visible
    val names = fsOf(dir).listStatus(target.getParent).map(_.getPath.getName)
    assert(names.toSeq === Seq("v0000000001.txt"), names.mkString(","))
  }

  test("RenameCommitter: a second process cannot re-commit a version") {
    val dir = tmpDir("cas-rename2")
    val target = new Path(dir, "manifests/v0000000001.txt")
    fsOf(dir).mkdirs(target.getParent)
    val a = new RenameCommitter(spark, dir)
    val b = new RenameCommitter(spark, dir)
    assert(a.putIfAbsent(target, "from-a\n".getBytes("UTF-8")))
    assert(!b.putIfAbsent(target, "from-b\n".getBytes("UTF-8")))
    assert(readAll(target) === "from-a\n")
  }

  test("ConditionalPutCommitter: external CAS arbitrates across processes") {
    val dir = tmpDir("cas-cput")
    val target = new Path(dir, "manifests/v0000000001.txt")
    fsOf(dir).mkdirs(target.getParent)
    // nothing shared between the racers except the CAS — the shape of
    // two separate driver JVMs against one DynamoDB-like table
    val cas = new InMemoryConditionalPut
    val winners = race(8, target,
      _ => new ConditionalPutCommitter(spark, dir, cas))
    assert(winners.size === 1, s"winners: $winners")
    assert(readAll(target) === s"payload-${winners.head}\n")
    assert(cas.contains(target.toString))
    val names = fsOf(dir).listStatus(target.getParent).map(_.getPath.getName)
    assert(names.toSeq === Seq("v0000000001.txt"), names.mkString(","))
  }

  test("ConditionalPutCommitter: loser never writes even if it runs later") {
    val dir = tmpDir("cas-cput2")
    val target = new Path(dir, "manifests/v0000000001.txt")
    fsOf(dir).mkdirs(target.getParent)
    val cas = new InMemoryConditionalPut
    val a = new ConditionalPutCommitter(spark, dir, cas)
    val b = new ConditionalPutCommitter(spark, dir, cas)
    assert(a.putIfAbsent(target, "from-a\n".getBytes("UTF-8")))
    // b arrives after a's commit: the CAS (not the filesystem) rejects it,
    // which is what keeps this safe on stores with no fail-if-exists rename
    assert(!b.putIfAbsent(target, "from-b\n".getBytes("UTF-8")))
    assert(readAll(target) === "from-a\n")
  }

  test("ConditionalPutCommitter: a loser completes a crashed winner's " +
    "publish — the table cannot wedge") {
    val dir = tmpDir("cas-crash")
    val target = new Path(dir, "manifests/v0000000001.txt")
    fsOf(dir).mkdirs(target.getParent)
    val cas = new InMemoryConditionalPut
    // simulate the winner crashing between CAS and publish: the CAS
    // entry exists (carrying the winning bytes), the file does not
    assert(cas.putIfAbsent(target.toString,
      java.util.Base64.getEncoder.encodeToString("from-a\n".getBytes("UTF-8"))))
    assert(!fsOf(dir).exists(target))
    // a later writer loses the CAS but completes the winner's commit
    val b = new ConditionalPutCommitter(spark, dir, cas)
    assert(!b.putIfAbsent(target, "from-b\n".getBytes("UTF-8")))
    assert(fsOf(dir).exists(target), "loser must complete the publish")
    assert(readAll(target) === "from-a\n", "and with the WINNER's bytes")
  }

  test("LatestStore routed through the conditional-put seam end-to-end") {
    val day = DatalakeRecord.TimeBucketSizeMs
    val session = spark
    import session.implicits._
    def batch(what: String, start: Long) =
      DatalakeRecord.listFromMetadata(
        Metadata(0, start, None, "here", what, None, "/var/x.log",
          f"${start + what.hashCode.toLong}%032x", "h"),
        s"file:///$what", 1L, 2L)
        .map(RecordRow.fromCore).toDS().toDF()

    val dir = tmpDir("cas-store") + "/t"
    val cas = new InMemoryConditionalPut
    // two writers = two store handles sharing only path + CAS
    val w1 = new LatestStore(spark, dir, nBuckets = 4,
      committer = Some(new ConditionalPutCommitter(spark, dir, cas)))
    val w2 = new LatestStore(spark, dir, nBuckets = 4,
      committer = Some(new ConditionalPutCommitter(spark, dir, cas)))
    w1.upsert(batch("a", 100L * day))
    w2.upsert(batch("b", 100L * day))
    w1.upsert(batch("a", 200L * day)) // newer wins
    val rows = w2.latest.collect()
    assert(rows.map(_.getAs[String]("what")).sorted === Array("a", "b"))
    assert(rows.find(_.getAs[String]("what") == "a").get
      .getAs[org.apache.spark.sql.Row]("metadata")
      .getAs[Long]("start") === 200L * day)
  }

  test("RecordStore commits through the seam too") {
    val dir = tmpDir("cas-rec") + "/t"
    val cas = new InMemoryConditionalPut
    val store = new RecordStore(spark, dir,
      committer = Some(new ConditionalPutCommitter(spark, dir, cas)))
    store.append(DatalakeRecord.listFromMetadata(
      Metadata(0, 500L * DatalakeRecord.TimeBucketSizeMs, None, "here", "w",
        None, "/var/x.log", f"${1}%032x", "h"), "file:///1", 1L, 2L))
    assert(store.records.count() === 1)
    // the CAS saw the commit: version 1 registered externally
    assert(cas.contains(new Path(dir, "manifests/v0000000001.txt").toString))
  }
}
