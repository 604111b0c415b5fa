package graft.query

import graft.SparkSuite
import graft.core.{Cursor, DatalakeRecord, Metadata}
import graft.store.RecordStore
import scala.util.Random

/** Randomized equivalence check: the Spark querier against a brute-force
  * in-memory model of the reference semantics, across random corpora and
  * random queries paginated to exhaustion (the property-style analogue of
  * the reference's randomized-metadata test strategy).
  */
class QuerierFuzzSpec extends SparkSuite {

  val day: Long = DatalakeRecord.TimeBucketSizeMs
  val base: Long = 15000L * day
  val rng = new Random(20260812)

  val whats = Seq("alpha", "beta")
  val wheres = Seq("h1", "h2", "h3")
  val workIds = Seq(None, Some("w-a"), Some("w-b"))

  val metas: Seq[Metadata] = (1 to 300).map { i =>
    val start = base + rng.nextInt(10) * day + rng.nextInt(1000)
    val end = if (rng.nextBoolean()) None
      else Some(start + rng.nextInt(3) * day + rng.nextInt(500))
    Metadata(0, start, end, wheres(rng.nextInt(3)), whats(rng.nextInt(2)),
      workIds(rng.nextInt(3)), "/var/f.log", f"$i%032x", "h")
  }

  lazy val store: RecordStore = {
    val s = new RecordStore(spark, tmpDir("fuzz") + "/records")
    s.append(metas.flatMap(m =>
      DatalakeRecord.listFromMetadata(m, s"file:///c/${m.id}", 7L, 9L)))
    s
  }
  lazy val querier = new ArchiveQuerier(store, pageSize = 17)

  /** Brute-force model of the time query (querier.py:286-303 semantics). */
  def modelByTime(qs: Long, qe: Long, what: String,
      where: Option[String]): Set[String] =
    metas.filter { m =>
      m.what == what &&
        where.forall(_ == m.where) &&
        (m.end match {
          case None => m.start >= qs && m.start <= qe
          case Some(e) => e >= qs && m.start <= qe
        })
    }.map(_.id).toSet

  def modelByWorkId(workId: String, what: String): Set[String] =
    metas.filter(m => m.workId.contains(workId) && m.what == what)
      .map(_.id).toSet

  def paginateTime(qs: Long, qe: Long, what: String,
      where: Option[String]): Seq[String] = {
    var cursor: Option[Cursor] = None
    var all = Vector.empty[String]
    var guard = 0
    var done = false
    while (!done) {
      val p = querier.queryByTime(qs, qe, what, where,
        cursor.map(c => Cursor.fromSerialized(c.serialized)))
      assert(p.records.size <= 17)
      // the reference contract: no duplicates WITHIN a page (cross-page
      // duplicates are tolerated for multi-bucket records,
      // querier.py:60-75)
      val ids = p.records.map(_.metadata.id)
      assert(ids.distinct.size === ids.size, "duplicate inside a page")
      all ++= ids
      cursor = p.cursor
      guard += 1
      assert(guard < 100, "cursor chain does not terminate")
      done = cursor.isEmpty
    }
    all
  }

  test("50 random time queries agree with the brute-force model") {
    for (_ <- 1 to 50) {
      val qs = base + rng.nextInt(12) * day + rng.nextInt(2000) - 1000
      val qe = qs + rng.nextInt(4) * day + rng.nextInt(2000)
      val what = whats(rng.nextInt(2))
      val where = if (rng.nextBoolean()) Some(wheres(rng.nextInt(3))) else None
      val got = paginateTime(qs, qe, what, where)
      val expected = modelByTime(qs, qe, what, where)
      assert(got.toSet === expected,
        s"time query [$qs,$qe] what=$what where=$where")
    }
  }

  test("work-id queries agree with the brute-force model") {
    for (wid <- Seq("w-a", "w-b"); what <- whats) {
      var cursor: Option[Cursor] = None
      var all = Vector.empty[String]
      var done = false
      while (!done) {
        val p = querier.queryByWorkId(wid, what, cursor = cursor)
        all ++= p.records.map(_.metadata.id)
        cursor = p.cursor
        done = cursor.isEmpty
      }
      assert(all.toSet === modelByWorkId(wid, what), s"$wid/$what")
    }
  }

  test("cursor-tampering fuzz: a mutated cursor either raises " +
    "InvalidCursor or yields records the model confirms — never a " +
    "silently wrong page") {
    val qs = base + 2 * day
    val qe = qs + 4 * day
    val what = whats(0)
    val expected = modelByTime(qs, qe, what, None)
    val first = querier.queryByTime(qs, qe, what)
    val serialized = first.cursor.get.serialized
    val tamperRng = new Random(7)
    val mutations: Seq[String] = Seq.tabulate(60) { i =>
      i % 5 match {
        case 0 => // flip a random character
          val j = tamperRng.nextInt(serialized.length)
          serialized.updated(j,
            ((serialized(j) + 1 + tamperRng.nextInt(25)) % 127)
              .max(33).toChar)
        case 1 => serialized.take(tamperRng.nextInt(serialized.length))
        case 2 => serialized + "AAAA".take(1 + tamperRng.nextInt(4))
        case 3 => // structurally valid but junk fields
          java.util.Base64.getEncoder.encodeToString(
            (s"""{"current_time_bucket":${tamperRng.nextLong()},""" +
              s""""last_evaluated":"${tamperRng.alphanumeric.take(8)
                .mkString}"}""").getBytes("UTF-8")).replaceAll("=+$", "")
        case _ => // wrong-kind resume key smuggled in
          java.util.Base64.getEncoder.encodeToString(
            (s"""{"current_time_bucket":${qs / day},""" +
              s""""last_evaluated":"srv:ab12"}""").getBytes("UTF-8"))
            .replaceAll("=+$", "")
      }
    }
    for (s <- mutations) {
      try {
        val c = Cursor.fromSerialized(s)
        val p = querier.queryByTime(qs, qe, what, cursor = Some(c))
        // parsed and accepted: every returned record must be one the
        // model says matches the query — tampering may lose rows
        // (resuming "further along") but must never fabricate them
        val ids = p.records.map(_.metadata.id)
        assert(ids.forall(expected), s"fabricated rows from cursor $s")
      } catch {
        case e: graft.core.QueryValidationError =>
          assert(e.code === graft.core.QueryValidationError.InvalidCursor)
      }
    }
  }

  test("latest model equivalence over the record window") {
    // model: newest bucket containing the (what, where) pair, argmax by
    // (start, create_time, id) inside it — create_time constant here so
    // id breaks ties deterministically
    val now = base + 15 * day
    val q = new ArchiveQuerier(store, pageSize = 17,
      clock = () => now)
    for (what <- whats; where <- wheres) {
      val candidates = metas.filter(m => m.what == what && m.where == where)
      val expected =
        if (candidates.isEmpty) None
        else {
          val withBuckets = candidates.flatMap(m =>
            DatalakeRecord.timeBucketsOf(m).map(b => (b, m)))
            .filter { case (b, _) => b <= now / day && b >= (now - 14 * day) / day }
          if (withBuckets.isEmpty) None
          else {
            val maxBucket = withBuckets.map(_._1).max
            Some(withBuckets.filter(_._1 == maxBucket).map(_._2)
              .maxBy(m => (m.start, m.id)))
          }
        }
      assert(q.queryLatest(what, where, lookbackDays = 14)
        .map(_.metadata.id) === expected.map(_.id), s"$what/$where")
    }
  }

  // ---- second corpus: 45 day buckets × 2 whats in two uncompacted
  // appends, split in time, so walks cross from one data dir to the next

  val base2: Long = 16000L * day
  val rng2 = new Random(20261018)
  val whats2 = Seq("gamma", "delta")
  val workIds2 = Seq(None, Some("wa-1"), Some("wa-2"), Some("zz-9"))

  val metas2: Seq[Metadata] = (1 to 400).map { i =>
    val start = base2 + rng2.nextInt(45) * day + rng2.nextInt(1000)
    val end = if (rng2.nextBoolean()) None
      else Some(start + rng2.nextInt(3) * day + rng2.nextInt(500))
    Metadata(0, start, end, wheres(rng2.nextInt(3)), whats2(rng2.nextInt(2)),
      workIds2(rng2.nextInt(4)), "/var/f.log", f"${1000 + i}%032x", "h")
  }
  val (early2, late2) = metas2.partition(_.start < base2 + 22 * day)

  lazy val index2 = new graft.store.WorkIdIndex(spark, tmpDir("fuzz2") + "/idx")
  lazy val store2: RecordStore = {
    val s = new RecordStore(spark, tmpDir("fuzz2") + "/records", Some(index2))
    Seq(early2, late2).foreach(batch => s.append(batch.flatMap(m =>
      DatalakeRecord.listFromMetadata(m, s"file:///c/${m.id}", 7L, 9L))))
    assert(s.stats().liveDirs === 2)
    s
  }
  lazy val querier2 = new ArchiveQuerier(store2, pageSize = 23)

  def model2ByTime(qs: Long, qe: Long, what: String,
      where: Option[String]): Set[String] =
    metas2.filter { m =>
      m.what == what && where.forall(_ == m.where) &&
        m.end.getOrElse(m.start) >= qs && m.start <= qe
    }.map(_.id).toSet

  /** Ids of every page of a time walk, and the number of pages. */
  def walk2(qs: Long, qe: Long, what: String,
      where: Option[String]): (Seq[String], Int) = {
    var cursor: Option[Cursor] = None
    var all = Vector.empty[String]
    var pages = 0
    do {
      val p = querier2.queryByTime(qs, qe, what, where,
        cursor.map(c => Cursor.fromSerialized(c.serialized)))
      val ids = p.records.map(_.metadata.id)
      assert(ids.distinct.size === ids.size, "duplicate inside a page")
      all ++= ids
      cursor = p.cursor
      pages += 1
      assert(pages < 100, "cursor chain does not terminate")
    } while (cursor.isDefined)
    (all, pages)
  }

  test("second corpus: random windows agree with the model; windows " +
    "outside the data give an empty page") {
    for (_ <- 1 to 24) {
      // windows from 3 days before the first bucket to 3 after the last
      val qs = base2 + rng2.nextInt(51) * day - 3 * day + rng2.nextInt(2000)
      val qe = qs + rng2.nextInt(6) * day + rng2.nextInt(2000)
      val what = whats2(rng2.nextInt(2))
      val where = if (rng2.nextBoolean()) Some(wheres(rng2.nextInt(3))) else None
      assert(walk2(qs, qe, what, where)._1.toSet ===
        model2ByTime(qs, qe, what, where), s"[$qs,$qe] $what $where")
    }
    val last = metas2.map(m => m.end.getOrElse(m.start)).max
    for ((qs, qe) <- Seq((base2 - 9 * day, base2 - 2 * day),
        (base2 - 30 * day, base2 - 1), (last + 1, last + 4 * day),
        (last + 20 * day, last + 21 * day)); what <- whats2) {
      val p = querier2.queryByTime(qs, qe, what)
      assert(p.records.isEmpty && p.cursor.isEmpty, s"[$qs,$qe] $what")
      assert(model2ByTime(qs, qe, what, None).isEmpty)
    }
  }

  test("second corpus: cursor walks cross from one data dir to the next") {
    val earlyIds = early2.map(_.id).toSet
    for (what <- whats2; where <- Seq(None, Some("h2"))) {
      val (qs, qe) = (base2 + 17 * day, base2 + 27 * day)
      val (ids, pages) = walk2(qs, qe, what, where)
      assert(pages >= 2)
      assert(ids.exists(earlyIds) && ids.exists(id => !earlyIds(id)))
      assert(ids.toSet === model2ByTime(qs, qe, what, where))
    }
  }

  test("second corpus: work-id pages agree with the model, with and " +
    "without the index") {
    val indexed = new ArchiveQuerier(store2, pageSize = 23,
      workIdIndex = Some(index2))
    for (q <- Seq(querier2, indexed); wid <- Seq("wa-1", "wa-2", "zz-9", "nope");
        what <- whats2) {
      var cursor: Option[Cursor] = None
      var all = Vector.empty[String]
      do {
        val p = q.queryByWorkId(wid, what, cursor = cursor)
        all ++= p.records.map(_.metadata.id)
        cursor = p.cursor
      } while (cursor.isDefined)
      assert(all.toSet === metas2.filter(m => m.workId.contains(wid) &&
        m.what == what).map(_.id).toSet, s"$wid/$what")
    }
  }

  test("second corpus: walk-back latest agrees with the model") {
    for (nowDay <- Seq(3, 21, 23, 44, 52, 70); what <- whats2;
        where <- wheres) {
      val now = base2 + nowDay * day + 500
      val lo = (now - 14 * day) / day
      val inWindow = metas2.filter(m => m.what == what && m.where == where)
        .flatMap(m => DatalakeRecord.timeBucketsOf(m).map(_ -> m))
        .filter { case (b, _) => b >= lo && b <= now / day }
      val expected =
        if (inWindow.isEmpty) None
        else {
          val newest = inWindow.map(_._1).max
          Some(inWindow.filter(_._1 == newest).map(_._2)
            .maxBy(m => (m.start, m.id)).id)
        }
      val q = new ArchiveQuerier(store2, clock = () => now)
      assert(q.queryLatest(what, where).map(_.metadata.id) === expected,
        s"$what/$where at day $nowDay")
    }
  }
}
