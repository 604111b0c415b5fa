package graft.store

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** The ingest stores reduce each batch on the driver. These specs hold
  * that reduction to what the Spark expressions it replaces compute:
  * the latest table's per-key winner under the merge window's order, and
  * the record table's one row per (time_bucket, id). */
class BatchParitySpec extends SparkSuite {
  import spark.implicits._

  // U+1F600 sorts after U+FFFD in UTF-8 (F0.. > EF..) but before it in
  // UTF-16 (surrogate D83D < FFFD), so Java's String order and Spark's
  // binary string order pick different winners between these two ids
  private val supplementary = "\uD83D\uDE00"
  private val replacement = "\uFFFD"

  private def row(what: String, where: String, start: Long,
      createTime: Long, id: String, bucket: Long = 16552L): RecordRow =
    RecordRow(0, s"file:///$where/$id", bucket, what, where, None,
      createTime, 1L, MetadataRow(0, start, None, where, what, None,
        "/var/x.log", id, "h"))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(RecordStore.schema.fieldNames.map(col).toSeq: _*)
      .collect().map(_.toString).toSet

  test("latest upsert breaks (start, create_time) ties on the id in " +
    "Spark's UTF-8 order, as the row_number window does") {
    assert(supplementary.compareTo(replacement) < 0,
      "the ids must disagree between UTF-16 and UTF-8 order")
    val batch = (1 to 8).flatMap { k =>
      val ids = Seq(s"id-$replacement", s"id-$supplementary", "id-a")
        .map(s => s"k$k-$s")
      // rotate so the winner is first, middle or last in its key's rows
      val rotated = ids.drop(k % 3) ++ ids.take(k % 3)
      rotated.map(row("syslog", s"host-$k", 1430092800000L, 7L, _)) :+
        row("syslog", s"host-$k", 1430092800000L - 1, 9L, s"k$k-zzz")
    }.toDS().toDF()
    val w = Window.partitionBy($"what", $"where")
      .orderBy($"metadata.start".desc, $"create_time".desc, $"metadata.id".desc)
    val want = batch.withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1).drop("__rn")
    val store = new LatestStore(spark, tmpDir("lat-utf8") + "/t", nBuckets = 4)
    store.upsert(batch)
    assert(rows(store.latest) === rows(want))
    assert(store.latest.select($"metadata.id").as[String].collect()
      .forall(_.endsWith(supplementary)))
  }

  test("a second upsert merges with the stored rows as the row_number " +
    "window over both batches does: wins, losses and ties on start, " +
    "create_time and the id in UTF-8 order") {
    val t = 1430092800000L
    val (sup, rep) = (supplementary, replacement)
    // (key, stored rows, second-batch rows) as (start, create_time, id)
    val cases = Seq(
      ("newer-start", Seq((t, 5L, "a")), Seq((t + 1, 1L, "a"))),
      ("older-start", Seq((t, 5L, "a")), Seq((t - 1, 9L, "z"))),
      ("newer-create", Seq((t, 5L, "a")), Seq((t, 6L, "a"))),
      ("older-create", Seq((t, 5L, "z")), Seq((t, 4L, "zz"))),
      // ids that order one way in UTF-8 and the other in UTF-16
      ("batch-id-wins", Seq((t, 5L, s"id-$rep")), Seq((t, 5L, s"id-$sup"))),
      ("stored-id-wins", Seq((t, 5L, s"id-$sup")), Seq((t, 5L, s"id-$rep"))),
      ("several-each", Seq((t, 5L, "b"), (t + 2, 1L, s"id-$rep")),
        Seq((t + 2, 1L, s"id-$sup"), (t + 1, 9L, "c"))),
      ("stored-only", Seq((t, 5L, "a")), Nil),
      ("batch-only", Nil, Seq((t, 5L, "a"))))
    def frame(rows: Seq[(String, (Long, Long, String))]) =
      rows.map { case (k, (start, created, id)) =>
        row("syslog", k, start, created, s"$k-$id")
      }.toDS().toDF()
    val first = frame(cases.flatMap(c => c._2.map(c._1 -> _)))
    val second = frame(cases.flatMap(c => c._3.map(c._1 -> _)))
    val store = new LatestStore(spark, tmpDir("lat-merge") + "/t", nBuckets = 4)
    store.upsert(first)
    store.upsert(second)
    val w = Window.partitionBy($"what", $"where")
      .orderBy($"metadata.start".desc, $"create_time".desc, $"metadata.id".desc)
    val want = first.unionByName(second).withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1).drop("__rn")
    assert(rows(store.latest) === rows(want))
    val ids = store.latest.select($"where", $"metadata.id").as[(String, String)]
      .collect().toMap
    assert(ids.size === cases.size)
    Seq("batch-id-wins", "stored-id-wins", "several-each").foreach { k =>
      assert(ids(k).endsWith(sup), k)
    }
  }

  test("duplicate (time_bucket, id) rows within one appendDf collapse " +
    "to one row") {
    val batch = for {
      copy <- 0 until 3
      id <- Seq("a", "b", "c")
      bucket <- Seq(16552L, 16553L)
    } yield row("syslog", s"host-$copy", bucket * 86400000L, copy.toLong,
      id, bucket)
    for (dedupAgainstExisting <- Seq(false, true)) {
      val store = new RecordStore(spark,
        tmpDir(s"rec-dups-$dedupAgainstExisting") + "/t")
      store.appendDf(batch.toDS().toDF(), dedupAgainstExisting)
      val keys = store.records
        .select($"time_bucket", $"metadata.id").as[(Long, String)].collect()
      assert(keys.length === 6, dedupAgainstExisting)
      assert(keys.toSet.size === 6, dedupAgainstExisting)
      // the first row of each key is the one kept
      assert(store.records.select($"where").as[String].collect().toSet ===
        Set("host-0"), dedupAgainstExisting)
    }
  }
}
