package graft.tools

import graft.core._
import graft.query._
import graft.store._
import org.apache.spark.sql.functions.col

/** End-to-end smoke driver for the archive store + querier: builds a
  * record table in a temp dir, exercises time/work-id/latest queries with
  * cursor pagination, and prints the physical-plan pruning evidence.
  * Run: `sbt "runMain graft.tools.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.obs.Obs.session("graft-demo",
      "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName)

    val dir = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val store = new RecordStore(spark, dir + "/records")
    val day = DatalakeRecord.TimeBucketSizeMs

    val metas = (1 to 250).map { i =>
      Metadata(0, 1000L * day + i,
        if (i % 3 == 0) None else Some(1000L * day + i + 2 * day),
        "srv" + (i % 3), "nginx",
        if (i % 2 == 0) Some("work-1") else None,
        "/var/log/n.log", f"$i%032x", "h")
    }
    store.append(metas.flatMap(m => DatalakeRecord.listFromMetadata(
      m, s"file:///c/${m.id}", 1500000000000L, 100L)))
    println("TOTAL-ROWS: " + store.records.count())

    val q = new ArchiveQuerier(store)
    var cursor: Option[Cursor] = None
    var n = 0
    var pages = 0
    var loop = true
    while (loop) {
      val p = q.queryByTime(1000L * day, 1000L * day + 300, "nginx",
        cursor = cursor.map(c => Cursor.fromSerialized(c.serialized)))
      n += p.records.size
      pages += 1
      cursor = p.cursor
      loop = cursor.isDefined
    }
    println(s"TIME-QUERY: total=$n pages=$pages (expect 250, 3)")

    // work-id pagination: raw pages hold ≤100 index rows, but a file
    // appears once per day-bucket it spans and the querier dedups per
    // page (F4) — so page sizes vary; the contract is "every matching
    // file exactly once across the chain" (125 here: the i%2==0 half)
    var wiCursor: Option[Cursor] = None
    var wiIds = Vector.empty[String]
    var wiPages = 0
    var wiLoop = true
    while (wiLoop) {
      val p = q.queryByWorkId("work-1", "nginx",
        cursor = wiCursor.map(c => Cursor.fromSerialized(c.serialized)))
      wiIds ++= p.records.map(_.metadata.id)
      wiPages += 1
      wiCursor = p.cursor
      wiLoop = wiCursor.isDefined
    }
    println(s"WORKID-CHAIN: total=${wiIds.size} unique=${wiIds.distinct.size} " +
      s"pages=$wiPages (expect 125, 125 — every file once, no dups)")

    println("LATEST(miss): " + q.queryLatest("nginx", "srv1"))

    store.records
      .filter(col("time_bucket") === 1000L && col("what") === "nginx")
      .queryExecution.executedPlan.toString.split("\n")
      .filter(s => s.contains("PartitionFilters") || s.contains("PushedFilters"))
      .foreach(s => println("PLAN: " + s.trim.take(600)))

    // --- full ingest path: push → notification → stream → query ---
    import graft.sources.LocalContentStore
    import graft.streaming.StreamingIngester
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Paths}

    val contentRoot = dir + "/content"
    val cs = new LocalContentStore(contentRoot)
    val srcFile = Files.write(Paths.get(dir, "app.log"),
      "hello datalake\n".getBytes(StandardCharsets.UTF_8))
    val now = System.currentTimeMillis()
    val (url, meta) = cs.push(srcFile, Map(
      "what" -> "applog", "where" -> "demo-host", "work_id" -> null,
      "start" -> now, "end" -> (now + 3600 * 1000L)))
    println(s"PUSHED: $url hash=${meta.hash}")

    val notifDir = dir + "/notifications"
    Files.createDirectories(Paths.get(notifDir))
    val key = url.stripPrefix("file://")
    val msg = (s"""{"Records":[{"eventVersion":"2.0","eventName":""" +
      s""""ObjectCreated:Put","s3":{"bucket":{"name":""},""" +
      s""""object":{"key":"$key"}}}]}""")
      .replace("\\", "\\\\").replace("\"", "\\\"")
    Files.write(Paths.get(notifDir, "n1.json"),
      s"""{"Message": "$msg"}""".getBytes(StandardCharsets.UTF_8))

    val ingStore = new RecordStore(spark, dir + "/ingested")
    val latest = new graft.store.LatestStore(spark, dir + "/latest")
    val streamQ = new StreamingIngester(
      spark, new LocalContentStore(""), ingStore, Some(latest),
      Some(dir + "/reports"))
      .start(notifDir, dir + "/ckpt", availableNow = true)
    streamQ.awaitTermination(120000)
    println("INGESTED-ROWS: " + ingStore.records.count())
    val qi = new ArchiveQuerier(ingStore, Some(latest), useLatestTable = true)
    println("INGEST-QUERY: " +
      qi.queryByTime(now - 1000, now + 1000, "applog").records.map(_.url))
    println("INGEST-LATEST: " +
      qi.queryLatest("applog", "demo-host").map(_.metadata.hash))

    import spark.implicits._

    // versioned latest table: a second upsert rewrites only the touched
    // bucket and the manifest log arbitrates the snapshot readers see
    val meta2 = Metadata(0, now + 7200 * 1000L, None, "demo-host", "applog",
      None, "/var/log/app2.log", "ee" * 16, "ff" * 16)
    latest.upsert(Seq(graft.store.RecordRow.fromCore(
      DatalakeRecord.listFromMetadata(meta2, "file:///c2", 2L, 5L).head))
      .toDS().toDF())
    val manifests = new java.io.File(dir + "/latest/manifests")
      .listFiles().map(_.getName).filter(_.startsWith("v")).sorted
    println(s"LATEST-MANIFESTS: ${manifests.mkString(",")} " +
      s"rows=${latest.latest.count()}")

    // learned IVF index end-to-end: train k-means cells, build the
    // partitioned index, probe — and show the probed-cells pruning
    val rng = new scala.util.Random(42)
    val demoEmb = (0 until 90).map { i =>
      val c = i % 3
      val v = Array.fill(8)(0.05f * rng.nextFloat())
      v(c) = 1.0f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val idx = new graft.operators.CellIndex(spark, dir + "/cellidx")
    idx.buildLearned(demoEmb, k = 3, iters = 2)
    val probeQ = demoEmb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.expr(
          "CAST(embedding AS ARRAY<DOUBLE>)").as("qv"))
    val annTop = idx.topK(probeQ, k = 3, nprobe = 1)
    val annPlan = annTop.queryExecution.sparkPlan.toString.split("\n")
      .filter(_.contains("PartitionFilters")).map(_.trim.take(200))
    println("ANN-TOPK: " + annTop.collect()
      .map(r => s"${r.getLong(1)}@${r.getLong(4)}").mkString(", "))
    annPlan.foreach(s => println("ANN-PLAN: " + s))
    // drift readout: appending in-distribution vs shifted vectors — the
    // observable behind the "re-train when the corpus drifts" decision
    val nearDrift = idx.append(Seq((500L, Array.fill(8)(0.05f).toSeq))
      .toDF("vec_id", "embedding"))
    val farDrift = idx.append(Seq((501L, Array.fill(8)(5.0f).toSeq))
      .toDF("vec_id", "embedding"))
    println(f"ANN-DRIFT: near=${nearDrift.meanMicroDist}%.0f " +
      f"far=${farDrift.meanMicroDist}%.0f")

    // BPE tokenizer training: one corpus scan -> vocab-sized merge
    // rounds; encode is map-only
    val bpeModel = graft.operators.Bpe.train(
      Seq("low low low low low lower lower",
        "newest newest newest newest newest newest widest widest widest")
        .toDF("text"), merges = 3)
    println("BPE-MERGES: " + bpeModel.map(m =>
      s"${m.left}+${m.right}@${m.count}").mkString(", "))

    // re-hash verification job: blake2b over content as a native
    // codegen'd expression must reproduce the push-time hash
    import org.apache.spark.sql.functions.col
    val rehash = spark.read.format("binaryFile")
      .load(url.stripPrefix("file://"))
      .select(graft.functions.functions.blake2b(col("content")).as("hash"))
      .collect().head.getString(0)
    println(s"REHASH: $rehash match=${rehash == meta.hash}")
    // SQL surface injected via GraftExtensions (no register() call)
    spark.read.format("binaryFile").load(url.stripPrefix("file://"))
      .createOrReplaceTempView("content_files")
    val sqlHash = spark.sql("SELECT blake2b(content) AS h FROM content_files")
      .collect().head.getString(0)
    println(s"SQL-EXT-HASH: $sqlHash match=${sqlHash == meta.hash}")

    spark.stop()
  }
}
