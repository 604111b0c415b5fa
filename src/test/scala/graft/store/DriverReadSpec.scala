package graft.store

import graft.SparkSuite
import graft.core.{DatalakeRecord, Metadata}
import graft.obs.Obs
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}

/** [[DriverRead]] against [[ManifestLog.readEntries]] over the same
  * leaves: the same rows, a pruned nested column, a vanished leaf in the
  * two write-path reads that use it, and what a read leaves behind. */
class DriverReadSpec extends SparkSuite {
  import spark.implicits._

  val day: Long = DatalakeRecord.TimeBucketSizeMs
  val base: Long = 17000L * day

  /** `n` records from index `from` over 3 buckets, two whats (one
    * stored escaped, `what=a%2Fb c%3Dd%25`) and 4 (what, where) keys,
    * every fourth without a work id. */
  def records(from: Int, n: Int): Seq[RecordRow] =
    (from until from + n).flatMap { i =>
      val m = Metadata(0, base + (i % 3) * day + i, None, s"h${i % 4}",
        if (i % 2 == 0) "syslog" else "a/b c=d%",
        if (i % 4 == 3) None else Some(s"w${i % 5}"), "/var/f.log",
        f"$i%032x", "h")
      DatalakeRecord.listFromMetadata(m, s"file:///d/$i", 7L, 9L)
    }.map(RecordRow.fromCore)

  /** A record table of three appends, so three live data dirs. */
  def threeDirStore(dir: String): ManifestLog = {
    val store = new RecordStore(spark, dir)
    Seq(0, 10, 20).foreach(from => store.appendDs(records(from, 10).toDS()))
    val log = new ManifestLog(spark, dir)
    assert(log.resolve().get._2.values.flatten.toSet.size === 3)
    log
  }

  /** The rows [[DriverRead]] returns for `requested`, as external rows. */
  def driverRows(log: ManifestLog, entries: Map[String, Seq[String]],
      schema: StructType, requested: StructType): Seq[Row] = {
    val toScala = CatalystTypeConverters.createToScalaConverter(requested)
    val rows = Seq.newBuilder[Row]
    DriverRead(spark, log.listLeaves(entries, schema), requested) { r =>
      rows += toScala(r).asInstanceOf[Row]
    }
    rows.result()
  }

  def rendered(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
  def rowsOf(df: DataFrame): Seq[String] = rendered(df.collect().toSeq)

  test("a driver read returns the rows of readEntries over the same " +
    "leaves: an uncompacted 3-dir record table and a latest table") {
    val log = threeDirStore(tmpDir("dr-records") + "/t")
    val entries = log.resolve().get._2
    assert(entries.keys.exists(_.contains("what=a%2Fb c%3Dd%25")), entries.keys)
    val df = log.readEntries(entries, RecordStore.schema)
    val rows = driverRows(log, entries, RecordStore.schema, df.schema)
    assert(rows.size === 30)
    assert(rendered(rows) === rowsOf(df))
    assert(rows.map(_.getAs[String]("what")).toSet === Set("syslog", "a/b c=d%"))

    val latestDir = tmpDir("dr-latest") + "/t"
    val latest = new LatestStore(spark, latestDir, nBuckets = 4)
    latest.upsert(records(0, 12).toDF())
    latest.upsert(records(12, 12).toDF())
    val latestLog = new ManifestLog(spark, latestDir)
    val kpEntries = latestLog.resolve().get._2.map { case (kp, dirs) =>
      s"kp=$kp" -> dirs
    }
    val stored = RecordStore.schema.add("kp", IntegerType)
    val latestDf = latestLog.readEntries(kpEntries, stored)
    val latestRows = driverRows(latestLog, kpEntries, stored, latestDf.schema)
    assert(latestRows.size === 4)
    assert(rendered(latestRows) === rowsOf(latestDf))
    assert(rendered(driverRows(latestLog, kpEntries, stored,
      RecordStore.schema)) === rowsOf(latest.latest))
  }

  test("a metadata.id-only requested schema returns the same ids") {
    val log = threeDirStore(tmpDir("dr-ids") + "/t")
    val entries = log.resolve().get._2
    val idOnly = StructType(Seq(StructField("metadata",
      StructType(Seq(StructField("id", StringType))))))
    val ids = driverRows(log, entries, RecordStore.schema, idOnly)
      .map(_.getStruct(0))
    assert(ids.forall(_.size == 1))
    assert(ids.map(_.getString(0)).sorted ===
      log.readEntries(entries, RecordStore.schema)
        .select($"metadata.id").as[String].collect().toSeq.sorted)
  }

  test("a referenced leaf that has vanished fails the dedup probe and " +
    "the merge read loudly, and nothing is committed") {
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).getOrElse(Array.empty).foreach(rm); x.delete()
    }
    val dir = tmpDir("dr-vanished") + "/t"
    val store = new RecordStore(spark, dir)
    store.appendDs(records(0, 10).toDS())
    val log = new ManifestLog(spark, dir)
    val (cell, Seq(dataDir)) = log.resolve().get._2.head
    rm(new java.io.File(log.dataPath(dataDir).toUri.getPath, cell))
    val versions = store.versions
    // the batch reaches every bucket, so the probe lists the vanished leaf
    intercept[java.io.FileNotFoundException] {
      store.appendDf(records(10, 10).toDF(), dedupAgainstExisting = true)
    }
    assert(store.versions === versions)

    val latestDir = tmpDir("dr-vanished-latest") + "/t"
    val latest = new LatestStore(spark, latestDir, nBuckets = 2)
    latest.upsert(records(0, 12).toDF())
    val latestVersions = latest.versions
    val data = new java.io.File(latestDir, "data").listFiles().head
    data.listFiles().filter(_.getName.startsWith("kp=")).foreach(rm)
    intercept[java.io.FileNotFoundException] {
      latest.upsert(records(12, 12).toDF())
    }
    assert(latest.versions === latestVersions)
  }

  test("a driver read fires no job and leaves no block in the block " +
    "manager") {
    val log = threeDirStore(tmpDir("dr-nojob") + "/t")
    val entries = log.resolve().get._2
    val blockManager = SparkEnv.get.blockManager
    val collector = Obs.collector(spark)
    Obs.release(spark)
    val before = blockManager.getMatchingBlockIds(_ => true).toSet
    var n = 0
    val s = collector.measure(log.listLeaves(entries, RecordStore.schema)) {
      index => DriverRead(spark, index, RecordStore.schema)((_: InternalRow) => n += 1)
    }
    assert(n === 30)
    assert(s.jobs.isEmpty, s.jobs.map(_.op))
    assert(s.residualBlocks === 0)
    assert(blockManager.getMatchingBlockIds(_ => true).toSet -- before === Set.empty)
  }
}
