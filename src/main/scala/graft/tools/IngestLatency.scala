package graft.tools

import graft.obs.Obs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-ingest latency curves (VERDICT r8 #7): the four
  * history-backed dedup units claim per-batch cost INDEPENDENT of
  * history size — this main measures it end to end instead of arguing
  * from plan asserts. For each history multiplier (default 1×/8×/64×,
  * via [[ScaleGen.build]]'s disjoint-replica corpus) it
  * seeds a fresh index family with the multiplied corpus, then runs the
  * SAME fixed 1×-sized batch sequence through each stream's
  * foreachBatch unit and prints one INGESTLAT line per (op, mult,
  * batch): wall seconds + shuffle read/write bytes from the collector.
  *
  *   - `exact`    = [[graft.store.FingerprintIndex.ingestResolved]]
  *                  (the `curateAllWithHistory` byte-exact stage)
  *   - `spans`    = [[graft.store.GramIndex.ingest]] (the
  *                  `curateAllWithHistory` verbatim-span stage —
  *                  Bloom-prefiltered history probe)
  *   - `neardup`  = [[graft.store.NearDupIndex.ingest]] (the
  *                  `curateAllWithHistory` whole-doc near-dup stage,
  *                  same two-layer pruning)
  *   - `semantic` = [[graft.operators.CellIndex.semanticIngestResolved]]
  *                  (the `curateAllWithHistory` semantic stage)
  *   - `pipeline` = [[graft.streaming.StreamOps.curateAllBatch]] (the
  *                  COMPOSED five-stage `curateAllWithHistory` unit —
  *                  gate → exact → near-dup → span-scrub → semantic —
  *                  over mixed dup+novel batches, with the
  *                  `maintainAll` sweep timed after every batch)
  *
  * Batch construction: each history dir's replica-0 documents
  * (id < [[ScaleGen.Stride]] — the base corpus verbatim) with ids
  * shifted to a novel range — texts/vectors IDENTICAL to the history's
  * replica-0 rows, so every op does real duplicate-detection work
  * against replica-0 history, and that hit set is CONSTANT across
  * multipliers (the other replicas are textually disjoint). A flat
  * curve therefore means the probe legs really are pruned to the
  * batch's own keys / cells; growth with mult would mean the batch is
  * paying for history it can never match. Three batches per (op,
  * mult): batch 1 carries plan compilation + any first-touch cost,
  * batches 2-3 are the steady-state micro-batch latency.
  *
  * Usage: runMain graft.tools.IngestLatency [sfDir] [mults...]
  * With SPARK_GRAFT_WARM=1, each store's `warm()` (driver-side
  * listing + footer pre-touch) runs between seeding and batch 1 and is
  * timed separately — the measurement behind the first-touch-outlier
  * mitigation (PROFILE round-9c).
  */
object IngestLatency {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mults =
      if (args.length > 1) args.drop(1).toSeq.map(_.toInt) else Seq(1, 8, 64)
    // SPARK_GRAFT_WARM=1: call each store's warm() between seed and
    // batch 1 — the first-touch-outlier mitigation under measurement
    val warm = sys.env.get("SPARK_GRAFT_WARM").contains("1")
    val spark = Obs.session("graft-ingestlatency")
    val collector = Obs.collector(spark)
    val replica0 = ScaleGen.Stride

    // fixed 1x-sized batch sequence: three disjoint replica-0 doc slices
    // of the given dir, ids shifted novel, text/vectors verbatim
    def docBatches(dir: String): Seq[DataFrame] = (0 until 3).map { i =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < replica0 && col("doc_id") % 3 === i)
        .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
        .localCheckpoint(true) // pin: measure the ingest, not the scan
    }
    def embBatches(dir: String): Seq[DataFrame] = (0 until 3).map { i =>
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < replica0 && col("vec_id") % 3 === i)
        .select((col("vec_id") + 900000000L).as("vec_id"), col("embedding"))
        .localCheckpoint(true)
    }

    // composed-pipeline batches: the dup half is the docBatches slice
    // joined to its vectors (replica-0 texts, novel ids — real duplicate
    // work, dropped at the exact leg); the novel half prefixes every
    // token (novel fingerprints/bands/grams) and REVERSES the vector
    // under a disjoint id range, so it pays every leg and appends.
    // Reversal (a dimension permutation) preserves every pairwise
    // cosine among the novel half — within-batch near-dup work equals
    // the original corpus's — while scattering the vectors away from
    // their stored originals; negation would instead pile every novel
    // vector into the few anti-aligned cells and make the semantic
    // leg's hot-cell population grow with every appended batch. All
    // five stages do real work and the mix is CONSTANT across
    // multipliers.
    def pipeBatches(dir: String): Seq[DataFrame] = (0 until 3).map { i =>
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < replica0 && col("doc_id") % 3 === i)
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding"))
        .filter(col("doc_id") < replica0 && col("doc_id") % 3 === i)
      val joined = d.join(e, Seq("doc_id"))
      val dup = joined.select((col("doc_id") + 900000000L).as("doc_id"),
        col("text"), col("embedding"))
      val novel = joined.select((col("doc_id") + 950000000L).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(lit("zz"), t))).as("text"),
        reverse(col("embedding")).as("embedding"))
      dup.unionByName(novel).localCheckpoint(true)
    }

    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString

    def measure(op: String, mult: Int, batch: Int)(f: => Long): Unit = {
      var rows = 0L
      val s = collector.measure(())(_ => rows = f)
      println(f"INGESTLAT op=$op mult=$mult batch=$batch sec=${s.wallSec}%.2f " +
        f"shuffle_read_mb=${s.shuffleReadBytes / 1e6}%.1f " +
        f"shuffle_write_mb=${s.shuffleWriteBytes / 1e6}%.1f rows=$rows")
    }

    // seed an op's stores with the history; with SPARK_GRAFT_WARM=1 then
    // run their warm() and time it separately
    def seed(op: String, mult: Int)(ingest: => Unit)(warmAll: => Long)
        : Unit = {
      val s = collector.measure(())(_ => ingest)
      println(f"INGESTLAT seeded op=$op mult=$mult sec=${s.wallSec}%.1f")
      if (warm) {
        var n = 0L
        val w = collector.measure(())(_ => n = warmAll)
        println(f"INGESTLAT warmed op=$op mult=$mult n=$n sec=${w.wallSec}%.1f")
      }
    }

    for (mult <- mults) {
      val dir =
        if (mult == 1) sfDir
        else ScaleGen.build(spark, sfDir, mult)
      val histDocs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val histEmb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val dBatches = docBatches(dir)
      val eBatches = embBatches(dir)

      val fp = new graft.store.FingerprintIndex(spark, tmp("lat-fp"))
      seed("exact", mult)(fp.ingest(histDocs))(fp.warm())
      dBatches.zipWithIndex.foreach { case (b, i) =>
        measure("exact", mult, i + 1)(fp.ingestResolved(b).count())
      }

      val gr = new graft.store.GramIndex(spark, tmp("lat-gr"),
        w = 8, buckets = 64)
      seed("spans", mult)(gr.ingest(histDocs))(gr.warm())
      dBatches.zipWithIndex.foreach { case (b, i) =>
        measure("spans", mult, i + 1)(gr.ingest(b).count())
      }

      val nd = new graft.store.NearDupIndex(spark, tmp("lat-nd"),
        buckets = 64)
      seed("neardup", mult)(nd.append(histDocs))(nd.warm())
      dBatches.zipWithIndex.foreach { case (b, i) =>
        measure("neardup", mult, i + 1)(nd.ingest(b).count())
      }

      val cell = new graft.operators.CellIndex(spark, tmp("lat-cell"))
      seed("semantic", mult)(cell.buildLearned(histEmb, k = 64, iters = 2))(
        cell.warm())
      eBatches.zipWithIndex.foreach { case (b, i) =>
        measure("semantic", mult, i + 1)(
          cell.semanticIngestResolved(b, thresholdMicro = 300000L)._1.count())
      }

      // the COMPOSED five-stage pipeline (gate → exact → neardup →
      // spans → semantic, the curateAllWithHistory foreachBatch unit)
      // against the same histories: fresh stores seeded identically,
      // then each mixed batch runs end to end, with the maintainAll
      // sweep timed separately after every batch (the
      // maintenanceEvery=1 schedule)
      val fpP = new graft.store.FingerprintIndex(spark, tmp("lat-pfp"))
      val grP = new graft.store.GramIndex(spark, tmp("lat-pgr"),
        w = 8, buckets = 64)
      val ndP = new graft.store.NearDupIndex(spark, tmp("lat-pnd"),
        buckets = 64)
      val cellP = new graft.operators.CellIndex(spark, tmp("lat-pcell"))
      seed("pipeline", mult) {
        fpP.ingest(histDocs)
        grP.ingest(histDocs)
        ndP.append(histDocs)
        cellP.buildLearned(histEmb, k = 64, iters = 2)
      }(fpP.warm() + grP.warm() + ndP.warm() + cellP.warm())
      // permissive gate: the tool measures pipeline cost, not gate
      // selectivity — junk-heavy corpora shortcut the very legs under
      // measurement
      val gateCfg = Some(graft.streaming.GateConfig(
        minWords = 2L, maxWords = 100000L, minStopwords = 0))
      pipeBatches(dir).zipWithIndex.foreach { case (b, i) =>
        measure("pipeline", mult, i + 1) {
          var n = 0L
          graft.streaming.StreamOps.curateAllBatch(b, fpP, ndP, grP,
            cellP, boilerplate = Seq.empty, minKeptTokens = 1,
            thresholdMicro = 300000L, nprobe = 1, gate = gateCfg,
            gateSink = (_, _) => (), onStage = _ => (),
            batchId = i + 1L)((df, _) => n = df.count())
          n
        }
        val m0 = System.nanoTime()
        graft.streaming.StreamOps.maintainAll(fpP, ndP, grP, cellP)
        println(f"INGESTLAT maintain op=pipeline mult=$mult " +
          f"batch=${i + 1} sec=${(System.nanoTime() - m0) / 1e9}%.1f")
      }
    }
    spark.stop()
  }
}
