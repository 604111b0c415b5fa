package graft.store

import graft.SparkSuite
import graft.core.{DatalakeRecord, Metadata}
import graft.obs.Obs
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[ManifestLog.readEntries]] against a reference read built here the
  * way Spark's file source reads a manifested store without it: one
  * `spark.read.parquet` per live data dir over that dir's leaves,
  * unioned by name. Same schema (names, types, order), same rows, the
  * same rows under partition filters, and no `Listing leaf files` job. */
class ManifestScanSpec extends SparkSuite {
  import spark.implicits._

  val day: Long = DatalakeRecord.TimeBucketSizeMs
  val base: Long = 17000L * day
  // "a/b c=d%" escapes to what=a%2Fb c%3Dd%25 on disk
  val whats = Seq("syslog", "a/b c=d%")

  /** Three appends, no compaction: every cell's rows sit in up to three
    * data dirs, and so do the work-id index's. */
  private lazy val records = {
    val dir = tmpDir("scan-records")
    val index = new WorkIdIndex(spark, dir + "/wid")
    val store = new RecordStore(spark, dir + "/records", Some(index))
    (0 until 3).foreach { batch =>
      store.append((0 until 30).flatMap { i =>
        val n = batch * 30 + i
        val m = Metadata(0, base + (n % 6) * day + n, None, s"h${n % 3}",
          whats(n % 2), Some(s"w${n % 4}"), "/var/f.log", f"$n%032x", "h")
        DatalakeRecord.listFromMetadata(m, s"file:///c/$n", 7L, 9L)
      })
    }
    (dir, store)
  }

  private lazy val nearDup = {
    val path = tmpDir("scan-neardup")
    val idx = new NearDupIndex(spark, path, buckets = 8)
    (0 until 3).foreach { b =>
      idx.ingest((0 until 6).map { i =>
        val n = b * 6 + i
        (n.toLong, s"doc $n " + (0 until 12).map(t => s"t${(n + t) % 9}")
          .mkString(" "))
      }.toDF("doc_id", "text"))
    }
    path
  }

  /** One ingest of 300 distinct 8-grams over 64 buckets: one data dir
    * holding far more than Spark's 32-path parallel-listing threshold. */
  private lazy val grams = {
    val path = tmpDir("scan-grams")
    new GramIndex(spark, path, w = 8, buckets = 64).ingest(
      Seq((1L, (0 until 307).map(t => s"g$t").mkString(" ")))
        .toDF("doc_id", "text"))
    path
  }

  /** The per-dir union: one file-source scan per data dir, `basePath`
    * at the dir so its cell leaves become partition columns. */
  private def unionRead(log: ManifestLog, entries: Map[String, Seq[String]],
      schema: StructType): DataFrame =
    entries.toSeq.flatMap { case (cell, dirs) => dirs.map(_ -> cell) }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (dir, cells) =>
        val b = log.dataPath(dir)
        spark.read.schema(schema).option("basePath", b.toString)
          .parquet(cells.map(c => new Path(b, c._2).toString).distinct: _*)
      }
      .reduceOption(_ unionByName _).getOrElse(log.emptyDf(schema))

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

  /** Rows of `read` (built and collected), failing on any listing job. */
  private def rowsNoListing(read: => DataFrame): Seq[String] = {
    listener
    val collector = Obs.collector(spark)
    collector.drain()
    descriptions.clear()
    var out = Seq.empty[String]
    collector.measure(read)(df => out = rowsOf(df))
    val listing = descriptions.toArray.map(_.toString)
      .filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"listing jobs: ${listing.mkString("; ")}")
    out
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Every check on one store: `filters` pair a partition-column filter
    * with the same predicate on a collected row. */
  private def check(path: String, schema: StructType,
      keep: String => Boolean, filters: Seq[(Column, Row => Boolean)])
      : Unit = {
    val log = new ManifestLog(spark, path)
    val entries = log.resolve().get._2.filter(e => keep(e._1))
    assert(entries.values.flatten.toSet.size >= 1)
    val reference = unionRead(log, entries, schema)
    val read = log.readEntries(entries, schema)
    assert(read.schema === reference.schema)
    val all = rowsNoListing(log.readEntries(entries, schema))
    assert(all.nonEmpty)
    assert(all === rowsOf(reference))
    filters.foreach { case (c, p) =>
      val expected = read.collect().filter(p).map(_.toString).toSeq.sorted
      assert(expected.nonEmpty && expected.size < all.size, c)
      assert(rowsNoListing(log.readEntries(entries, schema).filter(c)) ===
        expected, c)
      assert(rowsOf(reference.filter(c)) === expected, c)
    }
  }

  test("record store, three uncompacted dirs, an escaped what cell") {
    val (dir, store) = records
    assert(store.stats().liveDirs === 3)
    val log = new ManifestLog(spark, dir + "/records")
    assert(log.resolve().get._2.keys.exists(_.contains("what=a%2Fb")))
    check(dir + "/records", RecordStore.schema, _ => true, Seq(
      (col("what") === whats(1),
        (r: Row) => r.getAs[String]("what") == whats(1)),
      (col("time_bucket") > 17002L && col("what") === "syslog",
        (r: Row) => r.getAs[Long]("time_bucket") > 17002L &&
          r.getAs[String]("what") == "syslog"),
      (col("time_bucket") > 17003L && col("where") === "h1",
        (r: Row) => r.getAs[Long]("time_bucket") > 17003L &&
          r.getAs[String]("where") == "h1")))
    // data columns in schema order, then the cell's partition columns
    val cols = log.readEntries(log.resolve().get._2, RecordStore.schema)
      .columns.toSeq
    assert(cols === RecordStore.schema.fieldNames.toSeq
      .filterNot(Set("time_bucket", "what")) ++ Seq("time_bucket", "what"))
  }

  test("work-id index, three dirs") {
    val (dir, _) = records
    check(dir + "/wid", WorkIdIndex.schema, _ => true, Seq(
      (col("work_id_prefix") === "w1",
        (r: Row) => r.getAs[String]("work_id_prefix") == "w1")))
  }

  test("near-dup index: kind=…/bucket=… cells of each kind") {
    val log = new ManifestLog(spark, nearDup)
    assert(log.storeStats().liveDirs === 3)
    check(nearDup, NearDupIndex.postingsSchema,
      _.startsWith("kind=postings/"),
      Seq((col("bucket") < 3, (r: Row) => r.getAs[Int]("bucket") < 3)))
    check(nearDup, NearDupIndex.docsSchema, _.startsWith("kind=docs/"),
      Seq((col("bucket").isin(1, 5), (r: Row) =>
        Set(1, 5).contains(r.getAs[Int]("bucket")))))
  }

  test("gram index: more than 32 bucket leaves in one dir, no listing job") {
    val log = new ManifestLog(spark, grams)
    val st = log.storeStats()
    assert(st.liveDirs === 1 && st.cells > 32, st)
    check(grams, GramIndex.schema, _ => true,
      Seq((col("bucket") >= 40, (r: Row) => r.getAs[Int]("bucket") >= 40)))
  }

  test("an empty entry map reads as an empty frame of the schema") {
    val log = new ManifestLog(spark, tmpDir("scan-empty"))
    val df = log.readEntries(Map.empty, RecordStore.schema)
    // names, types and order; every column reads as nullable
    assert(df.schema.simpleString === RecordStore.schema.simpleString)
    assert(rowsNoListing(df).isEmpty)
  }

  test("cells naming different partition columns are refused") {
    val (dir, _) = records
    val log = new ManifestLog(spark, dir + "/records")
    val (cell, dirs) = log.resolve().get._2.head
    intercept[IllegalArgumentException](log.readEntries(
      Map(cell -> dirs, "time_bucket=17000" -> dirs), RecordStore.schema))
  }
}
