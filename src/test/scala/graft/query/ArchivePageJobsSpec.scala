package graft.query

import graft.SparkSuite
import graft.core.{Cursor, DatalakeRecord, Metadata}
import graft.obs.Obs
import graft.store.{LatestStore, RecordRow, RecordStore, WorkIdIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs per archive page on a store of 40 cells in two live data
  * dirs: every page is one job, a latest walk-back two (table probe,
  * walk), and no page runs Spark's parallel listing of its leaves. */
class ArchivePageJobsSpec extends SparkSuite {

  val day: Long = DatalakeRecord.TimeBucketSizeMs
  val base: Long = 17000L * day
  val now: Long = base + 19 * day + 1000L
  val whats = Seq("alpha", "beta")

  // 20 day buckets × 2 whats = 40 cells; both appends reach every cell,
  // so each cell lists two data dirs
  val metas: Seq[Metadata] = (0 until 240).map { i =>
    Metadata(0, base + (i % 20) * day + i, None, s"h${i % 3}",
      whats((i / 20) % 2), Some(s"w${i % 5}-job"), "/var/f.log",
      f"$i%032x", "h")
  }

  private lazy val fixture = {
    val dir = tmpDir("page-jobs")
    val index = new WorkIdIndex(spark, dir + "/work-id-index")
    val store = new RecordStore(spark, dir + "/records", Some(index))
    metas.grouped(metas.size / 2).foreach(batch => store.append(
      batch.flatMap(m => DatalakeRecord.listFromMetadata(m,
        s"file:///c/${m.id}", 7L, 9L))))
    val latest = new LatestStore(spark, dir + "/latest")
    import spark.implicits._
    latest.upsert(metas.flatMap(m => DatalakeRecord.listFromMetadata(m,
      s"file:///c/${m.id}", 7L, 9L)).map(RecordRow.fromCore).toDS().toDF())
    // (alpha, h0) latest-table row dated past now + 24 h: queries for
    // it fall back to the walk-back
    val future = Metadata(0, now + 3 * day, None, "h0", "alpha", None,
      "/var/f.log", f"${999}%032x", "h")
    latest.upsert(DatalakeRecord.listFromMetadata(future, "file:///c/f",
      8L, 9L).map(RecordRow.fromCore).toDS().toDF())
    (store, index, latest)
  }

  private val descriptions =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Run `page`; return its result and the Spark jobs it fired. */
  private def jobsOf[A](page: => A): (A, Int) = {
    listener
    descriptions.clear()
    var out: Option[A] = None
    val scope = Obs.collector(spark).measure(())(_ => out = Some(page))
    val listing = descriptions.toArray.map(_.toString)
      .filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs: ${listing.mkString("; ")}")
    (out.get, scope.jobs.size)
  }

  test("the store under test has 40 cells in two live data dirs") {
    val st = fixture._1.stats()
    assert(st.cells === 40)
    assert(st.liveDirs === 2)
  }

  test("a time page and a cursor page each fire one job") {
    val q = new ArchiveQuerier(fixture._1, pageSize = 10)
    val (first, n1) = jobsOf(q.queryByTime(base + 3 * day, base + 9 * day,
      "alpha"))
    assert(first.records.size === 10)
    assert(n1 === 1)
    val (second, n2) = jobsOf(q.queryByTime(base + 3 * day, base + 9 * day,
      "alpha", cursor = Some(Cursor.fromSerialized(first.cursor.get.serialized))))
    assert(second.records.nonEmpty)
    assert(n2 === 1)
  }

  test("a work-id page fires one job, with and without the index") {
    val (store, index, _) = fixture
    val expected = metas.filter(m => m.workId.contains("w2-job") &&
      m.what == "beta").map(_.id).toSet
    for (q <- Seq(new ArchiveQuerier(store, workIdIndex = Some(index)),
        new ArchiveQuerier(store))) {
      val (page, n) = jobsOf(q.queryByWorkId("w2-job", "beta"))
      assert(page.records.map(_.metadata.id).toSet === expected)
      assert(n === 1)
    }
  }

  test("a latest-table hit fires one job; a walk-back one probe plus one " +
    "walk") {
    val (store, _, latest) = fixture
    val q = new ArchiveQuerier(store, Some(latest), useLatestTable = true,
      clock = () => now)
    val (hit, n) = jobsOf(q.queryLatest("beta", "h1"))
    assert(hit.map(_.metadata.id) === Some(metas.filter(m =>
      m.what == "beta" && m.where == "h1").maxBy(_.start).id))
    assert(n === 1)
    val (walked, nw) = jobsOf(q.queryLatest("alpha", "h0"))
    assert(walked.map(_.metadata.id) === Some(metas.filter(m =>
      m.what == "alpha" && m.where == "h0").maxBy(_.start).id))
    assert(nw === 2)
  }
}
