package graft.store

import graft.SparkSuite
import graft.core.{DatalakeRecord, Metadata}
import graft.streaming.{FakeContentStore, Ingester, StreamingIngester}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** [[DriverWrite]] against Spark's own partitioned write of the same
  * rows: the same leaves (escaped values included), the same rows, the
  * same parquet footers; the work-id index and the ingest reports it
  * writes; and what a failed write leaves behind. */
class DriverWriteSpec extends SparkSuite {
  import spark.implicits._

  val day: Long = DatalakeRecord.TimeBucketSizeMs
  val base: Long = 17000L * day

  /** Record rows over 3 buckets and two whats, one stored escaped
    * (`what=a%2Fb c%3Dd%25`), every fourth without a work id. */
  def recordRows(n: Int): Seq[RecordRow] = (0 until n).flatMap { i =>
    val m = Metadata(0, base + (i % 3) * day + i, None, s"h${i % 2}",
      if (i % 2 == 0) "syslog" else "a/b c=d%",
      if (i % 4 == 3) None else Some(s"w${i % 5}"), "/var/f.log",
      f"$i%032x", "h")
    DatalakeRecord.listFromMetadata(m, s"file:///d/$i", 7L, 9L)
  }.map(RecordRow.fromCore)

  def internal(df: DataFrame): Iterator[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(df.schema)
    df.collect().iterator.map(toCatalyst(_).asInstanceOf[InternalRow])
  }

  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  def filesUnder(p: Path): Seq[Path] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).toSeq
  }

  /** Every dir and file under `base` (`base` itself as ""), part-file
    * uuids and the separator after them masked, with its POSIX mode; Spark's `_SUCCESS` marker and
    * its sidecar left out. */
  def modes(base: Path): Map[String, String] = {
    val root = Paths.get(base.toUri.getPath)
    val walk = Files.walk(root)
    try walk.iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}[-.]", "<uuid>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.filterNot(_._1.contains("_SUCCESS")).toMap
    finally walk.close()
  }

  def footer(p: Path): (String, String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p,
      spark.sparkContext.hadoopConfiguration))
    try {
      val meta = r.getFileMetaData
      (meta.getSchema.toString,
        meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  test("a driver write lays out the leaves, rows and footers of a " +
    "partitioned df.write") {
    val df = recordRows(24).toDS().toDF()
    val log = new ManifestLog(spark, tmpDir("dw-layout") + "/t")
    val leaves = DriverWrite(spark, new ParquetFileFormat, log.dataPath("d"),
      df.schema, Seq("time_bucket", "what"), internal(df))
    df.coalesce(1).write.partitionBy("time_bucket", "what")
      .parquet(log.dataPath("s").toString)

    val levels = Seq("time_bucket=", "what=")
    val sparkLeaves = log.listCells("s", levels)
    assert(leaves.sorted === sparkLeaves.sorted)
    assert(log.listCells("d", levels).sorted === leaves.sorted)
    assert(leaves.exists(_.endsWith("what=a%2Fb c%3Dd%25")), leaves)
    assert(leaves.size === 6)
    // the same dirs, data files and .crc sidecars, with the same modes
    val written = modes(log.dataPath("d"))
    assert(written.keys.count(_.endsWith(".crc")) === 6, written)
    assert(written === modes(log.dataPath("s")))

    def read(dir: String) = log.readEntries(
      leaves.map(_ -> Seq(dir)).toMap, RecordStore.schema)
    assert(read("d").schema === read("s").schema)
    assert(rowsOf(read("d")).size === 24)
    assert(rowsOf(read("d")) === rowsOf(read("s")))

    leaves.foreach { leaf =>
      def parts(dir: String) = filesUnder(new Path(log.dataPath(dir), leaf))
        .filter(p => ManifestLog.isDataFile(p.getName))
      val Seq(mine) = parts("d")
      val Seq(theirs) = parts("s")
      assert(mine.getName.matches(
        "part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"), mine)
      assert(footer(mine) === footer(theirs), leaf)
      // no hidden leftover beside the data file
      assert(filesUnder(mine.getParent).map(_.getName) === Seq(mine.getName))
    }
  }

  test("the work-id index appends what a rebuild writes and drops null " +
    "work ids") {
    val dir = tmpDir("dw-index")
    val appended = new WorkIdIndex(spark, dir + "/appended")
    val store = new RecordStore(spark, dir + "/records", Some(appended))
    val rows = recordRows(20)
    store.appendDs(rows.toDS())
    val rebuilt = new WorkIdIndex(spark, dir + "/rebuilt")
    rebuilt.rebuild(store)

    def all(path: String): DataFrame = {
      val log = new ManifestLog(spark, path)
      log.readEntries(log.resolve().get._2, WorkIdIndex.schema)
    }
    val withId = rows.count(_.work_id.isDefined)
    assert(withId < rows.size)
    assert(rowsOf(all(dir + "/appended")).size === withId)
    assert(rowsOf(all(dir + "/appended")) === rowsOf(all(dir + "/rebuilt")))
    (0 until 5).foreach { w =>
      assert(appended.lookup(s"w$w", "syslog").count() ===
        rows.count(r => r.work_id.contains(s"w$w") && r.what == "syslog"))
    }
  }

  test("ingest reports read back as Spark's JSON write of them, and a " +
    "replayed batch overwrites its batch dir") {
    def put(key: String): String = {
      val event = s"""{"eventVersion": "2.0", "eventName": "ObjectCreated:Put",
        |"s3": {"bucket": {"name": "b"}, "object": {"key": "$key"}}}"""
        .stripMargin
      val msg = s"""{"Records": [$event]}"""
        .replace("\"", "\\\"").replace("\n", " ")
      s"""{"Type": "Notification", "Message": "$msg"}"""
    }
    val files = (0 until 3).map { i =>
      s"s3://b/k$i" ->
        s"""{"version": 0, "work_id": null, "id": "id$i", "what": "syslog",
           |"path": "/var/k$i", "where": "here", "start": ${base + i},
           |"end": null, "hash": "h$i"}""".stripMargin
    }.toMap
    val content = new FakeContentStore(files)
    // two good files, one missing file (an error report)
    val messages = Seq(put("k0"), put("k1"), put("missing"))
    val dir = tmpDir("dw-reports")
    val ing = new StreamingIngester(spark, content,
      new RecordStore(spark, dir + "/records"), None, Some(dir + "/reports"),
      () => 123000L)
    val batch = spark.createDataset(messages)(Encoders.STRING)
    ing.processBatch(batch, Some("7"))
    ing.processBatch(batch, Some("7"))

    val handler = new Ingester(content, () => 123000L)
    spark.createDataset(messages.map(handler.handle(_).report))
      .coalesce(1).write.json(dir + "/spark/batch=7")
    val mine = spark.read.json(dir + "/reports")
    assert(rowsOf(mine).size === 3)
    assert(rowsOf(mine) === rowsOf(spark.read.json(dir + "/spark")))
    val batchDir = new java.io.File(dir + "/reports/batch=7")
    assert(batchDir.list().filterNot(_.startsWith(".")).toSeq.map(
      _.matches("part-00000-[0-9a-f-]{36}-c000\\.json")) === Seq(true))
  }

  test("a write that fails midway leaves no file behind") {
    val df = recordRows(6).toDS().toDF()
    val target = new Path(tmpDir("dw-fail"), "d")
    def write(rows: Iterator[InternalRow]) = DriverWrite(spark,
      new ParquetFileFormat, target, df.schema, Seq("time_bucket", "what"),
      rows)

    // the row iterator throws after two rows
    val failing = internal(df).take(2) ++
      Iterator.continually[InternalRow](throw new IllegalStateException("boom"))
    assert(intercept[IllegalStateException](write(failing)).getMessage === "boom")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(target) || filesUnder(target).isEmpty)

    // the second leaf cannot be created: the first leaf's file, already
    // written under its hidden name, is removed again
    val firstBucket = df.head().getAs[Long]("time_bucket")
    val blocked = internal(df).toSeq
      .filter(_.getLong(df.schema.fieldIndex("time_bucket")) != firstBucket)
    val secondBucket = blocked.head.getLong(df.schema.fieldIndex("time_bucket"))
    val out = fs.create(new Path(target, s"time_bucket=$secondBucket"))
    out.close()
    assertThrows[java.io.IOException](write(internal(df)))
    assert(filesUnder(target).map(_.getName).filterNot(_.startsWith(".")) ===
      Seq(s"time_bucket=$secondBucket"))
  }

  test("a hidden parquet file in a live leaf is never read or counted") {
    val dir = tmpDir("dw-hidden")
    val store = new RecordStore(spark, dir + "/t")
    store.appendDs(recordRows(12).toDS())
    val before = rowsOf(store.records)
    val stats = store.stats()
    val log = new ManifestLog(spark, dir + "/t")
    val rowCount = log.rowCount()
    val (cell, dirs) = log.resolve().get._2.head
    val leaf = new Path(log.dataPath(dirs.head), cell)
    val fs = leaf.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Seq(part) = log.leafFiles(dirs.head, cell).toSeq
    Seq("_x.parquet", ".y.parquet").foreach { name =>
      fs.copyToLocalFile(part.getPath, new Path(leaf, name))
    }
    assert(fs.listStatus(leaf).count(_.getPath.getName.endsWith(".parquet")) === 3)

    assert(rowsOf(store.records) === before)
    assert(store.stats() === stats)
    assert(new ManifestLog(spark, dir + "/t").rowCount() === rowCount)
    // one visible file per cell: nothing to compact
    assert(store.compact() === 0)
  }
}
