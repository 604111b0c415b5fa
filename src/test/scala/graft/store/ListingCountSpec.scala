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

/** Directory listings one record append costs on a manifested store
  * with a work-id index: each one is a filesystem round trip on the
  * commit path (an object-store LIST). */
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
}
