package graft.store

import graft.SparkSuite
import graft.core.{DatalakeRecord, Metadata}
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** The local filesystem under the `countfs` scheme, recording every
  * directory it lists. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingFileSystem.listed.add(p.toUri.getPath.stripSuffix("/"))
    super.listStatus(p)
  }
}

object CountingFileSystem {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** How often `dir` was listed by `op`. */
  def listings(op: => Unit): Map[String, Int] = {
    listed.clear()
    op
    listed.toArray(Array.empty[String]).groupBy(identity)
      .map { case (d, ds) => d -> ds.length }
  }
}

/** Directory listings one record append or latest upsert costs on a
  * manifested store: each one is a filesystem round trip on the commit
  * path (an object-store LIST). */
class ListingCountSpec extends SparkSuite {
  import spark.implicits._

  test("an append lists only the manifests dirs, a pinned number of times") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val dir = tmpDir("countfs")
    val day = DatalakeRecord.TimeBucketSizeMs
    val index = new WorkIdIndex(spark, s"countfs://$dir/wid")
    val store = new RecordStore(spark, s"countfs://$dir/records", Some(index))
    def batch(ids: Range) = ids.flatMap { n =>
      DatalakeRecord.listFromMetadata(Metadata(0, 17000L * day + n, None,
        "h", "syslog", Some(s"w$n"), "/var/f.log", f"$n%032x", "h"),
        s"file:///c/$n", 7L, 9L)
    }.map(RecordRow.fromCore).toDF()
    store.appendDf(batch(0 until 4), dedupAgainstExisting = true)
    val counts = CountingFileSystem.listings(
      store.appendDf(batch(2 until 8), dedupAgainstExisting = true))
    assert(store.records.count() === 8)
    assert(!counts.contains(s"$dir/records") && !counts.contains(s"$dir/wid"),
      s"a table root was listed: $counts")
    // records: exists, the dedup probe's resolve, the data dir name,
    // the commit's resolve and its vacuum; index: the data dir name,
    // the commit's resolve and its vacuum
    assert(counts.getOrElse(s"$dir/records/manifests", 0) === 5, counts)
    assert(counts.getOrElse(s"$dir/wid/manifests", 0) === 3, counts)
  }

  test("a latest upsert touching one bucket lists the manifests dir, a " +
    "pinned number of times, and that bucket's one leaf") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    val dir = tmpDir("countfs-lat")
    val day = DatalakeRecord.TimeBucketSizeMs
    val store = new LatestStore(spark, s"countfs://$dir/latest", nBuckets = 16)
    def batch(keys: Seq[Int], start: Long) = keys.flatMap { n =>
      DatalakeRecord.listFromMetadata(Metadata(0, start, None, s"h$n",
        "syslog", None, "/var/f.log", f"$n%032x", "h"), s"file:///c/$n", 7L, 9L)
    }.map(RecordRow.fromCore).toDF()
    val keys = 0 until 64
    assert(keys.map(n => LatestStore.bucketOf("syslog", s"h$n", 16)).toSet ===
      (0 until 16).toSet)
    store.upsert(batch(keys, 17000L * day))
    val kp = LatestStore.bucketOf("syslog", "h5", 16)
    val dataDir = new java.io.File(s"$dir/latest/data").list().head
    val counts = CountingFileSystem.listings(
      store.upsert(batch(Seq(5), 17001L * day)))
    assert(store.latest.count() === 64)
    // the resolve before the merge and the vacuum after the commit
    assert(counts === Map(s"$dir/latest/manifests" -> 2,
      s"$dir/latest/data/$dataDir/kp=$kp" -> 1), counts)
  }
}
