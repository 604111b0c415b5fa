package graft.perfbench

import graft.core.{Blake2b, DatalakeRecord, Metadata}
import scala.util.Random

/** One generated archive file: its metadata document, create time and size. */
final case class GenFile(meta: Metadata, createTime: Long, size: Long)

/** Seeded metadata (and content) for both archive workloads. Times are
  * relative to a fixed clock, [[ArchiveGen.Now]], which the querier is
  * given too, so a seed fixes every answer. */
object ArchiveGen {
  val Day: Long = DatalakeRecord.TimeBucketSizeMs
  val Now: Long = 20680L * Day + 12L * 3600 * 1000 // 2026-08-15T12:00Z

  def whats(n: Int): IndexedSeq[String] = (0 until n).map(i => f"what-$i%02d")
  def wheres(n: Int): IndexedSeq[String] = (0 until n).map(i => f"host-$i%02d")

  /** `nFiles` files over `spanDays` days before [[Now]]: 30 % point files
    * (null end), 55 % spanning up to 6 h, 15 % up to 3 days (several day
    * buckets), none ending after [[Now]]; 80 % carry one of `workPerWhat`
    * work ids of their what.
    * `futureKeys` (what, where) pairs also get a file dated 2 to 4 days
    * ahead, past the latest table's 24 h look-forward. */
  def files(seed: Long, nFiles: Int, nWhats: Int, nWheres: Int,
      workPerWhat: Int, spanDays: Int, futureKeys: Int,
      idPrefix: String = "a"): IndexedSeq[GenFile] = {
    val rng = new Random(seed)
    val ws = whats(nWhats)
    val hs = wheres(nWheres)
    def mk(i: Int, what: String, where: String, start: Long, end: Option[Long]) = {
      val wi = ws.indexOf(what)
      val workId =
        if (rng.nextDouble() < 0.8) Some(f"job-$wi%02d-${rng.nextInt(workPerWhat)}%04d")
        else None
      val id = f"$idPrefix%s${seed & 0xffffffL}%07x$i%024x"
      GenFile(Metadata(0, start, end, where, what, workId,
        s"/var/log/$what/$i.log", id, f"${rng.nextLong()}%016x${rng.nextLong()}%016x"),
        start + rng.nextInt(60000), 100L + rng.nextInt(100000))
    }
    val regular = (0 until nFiles).map { i =>
      val start = Now - (rng.nextDouble() * spanDays * Day).toLong
      val r = rng.nextDouble()
      val end =
        if (r < 0.3) None
        else if (r < 0.85) Some(math.min(Now, start + rng.nextInt(6 * 3600 * 1000)))
        else Some(math.min(Now, start + (rng.nextDouble() * 3 * Day).toLong))
      mk(i, ws(rng.nextInt(nWhats)), hs(rng.nextInt(nWheres)), start, end)
    }
    val future = (0 until futureKeys).map { k =>
      val start = Now + 2 * Day + (rng.nextDouble() * 2 * Day).toLong
      mk(nFiles + k, ws(k % nWhats), hs((k * 7 + 3) % nWheres), start, None)
    }
    regular ++ future
  }

  /** Seeded file content and its metadata hash (Blake2b, the reference's
    * content hash). */
  def content(rng: Random, bytes: Int): Array[Byte] = {
    val b = new Array[Byte](bytes)
    var i = 0
    while (i < bytes) { b(i) = (32 + rng.nextInt(95)).toByte; i += 1 }
    b
  }
  def hash(content: Array[Byte]): String = Blake2b.hexDigest(content)
}

/** Independent in-memory model of the reference's query semantics
  * (querier.py), checked against every answer the benchmark receives. */
final class ArchiveModel(files: Seq[GenFile]) {
  import ArchiveGen.{Day, Now}
  private val metas = files.map(_.meta)
  private val byId = files.map(f => f.meta.id -> f).toMap

  def buckets(id: String): Int = DatalakeRecord.timeBucketsOf(byId(id).meta).size

  /** Interval intersection, both ends inclusive; a null end is a point. */
  def byTime(qs: Long, qe: Long, what: String, where: Option[String]): Set[String] =
    metas.filter { m =>
      m.what == what && where.forall(_ == m.where) && (m.end match {
        case None => m.start >= qs && m.start <= qe
        case Some(e) => e >= qs && m.start <= qe
      })
    }.map(_.id).toSet

  def byWorkId(workId: String, what: String): Set[String] =
    metas.filter(m => m.workId.contains(workId) && m.what == what).map(_.id).toSet

  private def newest(fs: Seq[GenFile]): GenFile =
    fs.maxBy(f => (f.meta.start, f.createTime, f.meta.id))

  /** Latest: the latest-table row (newest (start, create_time) overall)
    * unless it starts past now + 24 h; then the walk-back: the newest day
    * bucket within the lookback that holds the key, newest inside it. */
  def latest(what: String, where: String, lookbackDays: Int = 14): Option[String] = {
    val fs = files.filter(f => f.meta.what == what && f.meta.where == where)
    if (fs.isEmpty) None
    else {
      val top = newest(fs)
      if (top.meta.start <= Now + 24L * 3600 * 1000) Some(top.meta.id)
      else {
        val lo = DatalakeRecord.bucketOf(Now - lookbackDays * Day)
        val hi = DatalakeRecord.bucketOf(Now)
        val inWindow = fs.flatMap(f => DatalakeRecord.timeBucketsOf(f.meta)
          .filter(b => b >= lo && b <= hi).map(b => (b, f)))
        if (inWindow.isEmpty) None
        else {
          val b = inWindow.map(_._1).max
          Some(newest(inWindow.filter(_._1 == b).map(_._2)).meta.id)
        }
      }
    }
  }

  /** (what, where) keys whose latest-table row is served directly, and
    * the ones whose row is future-dated so the lookup walks back. */
  lazy val (hitKeys, walkBackKeys): (IndexedSeq[(String, String)], IndexedSeq[(String, String)]) = {
    val keys = files.groupBy(f => (f.meta.what, f.meta.where)).toIndexedSeq.sortBy(_._1)
    val (hit, back) = keys.partition { case (_, fs) =>
      newest(fs).meta.start <= Now + 24L * 3600 * 1000 }
    (hit.map(_._1), back.map(_._1))
  }

  lazy val workIds: IndexedSeq[(String, String)] =
    metas.flatMap(m => m.workId.map(_ -> m.what)).distinct.sorted.toIndexedSeq
}
