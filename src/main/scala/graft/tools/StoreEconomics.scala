package graft.tools

import graft.obs.Obs
import org.apache.spark.sql.functions._

import graft.operators.CellIndex
import graft.store.{FingerprintIndex, GramIndex, ManifestLog, NearDupIndex,
  SketchStore}

/** Unified capacity plan for every manifested store family — the table
  * a 100 TB deployment reads first: stored bytes per unit of corpus,
  * measured, for every store family in one run. For each input
  * dir it ingests `documents.parquet` / `embeddings.parquet` into fresh
  * temp stores and prints one STORECON line per store with rows, stored
  * bytes, bytes per doc, bytes per corpus token (text stores), and
  * build wall seconds. Footer-derived row counts
  * ([[ManifestLog.rowCount]]) — no estimates.
  *
  *   - `fingerprint`   one md5 row per distinct doc ([[FingerprintIndex]])
  *   - `neardup_post`  LSH band postings kind ([[NearDupIndex]])
  *   - `neardup_docs`  normalized-text docs kind (the confirm leg's side)
  *   - `grams`         winnowed gram rows — the O(corpus tokens) store
  *   - `cell_vectors`  IVF float table ([[CellIndex]], learned quantizer)
  *   - `cell_codes`    PQ codes — the m-bytes-per-vector serving table
  *   - `sketch_hll`    per-source HLL registers — state ∝ groups, not corpus
  *
  * Scaling rows: pass `<dir>@<mult>` to measure against
  * [[ScaleGen.build]]'s disjoint-replica corpus (e.g.
  * `/root/testdata/sf0.1@8` for the ×8 point) — constants that stay
  * flat across sf0.01 → sf0.1 → ×8 are the evidence the 100 TB
  * extrapolation stands on.
  *
  * Usage: runMain graft.tools.StoreEconomics [<dir>[@mult] ...]
  */
object StoreEconomics {
  def main(args: Array[String]): Unit = {
    val specs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = Obs.session("graft-storeeconomics")
    val collector = Obs.collector(spark)

    for (spec <- specs) {
      val dir = spec.split("@") match {
        case Array(d) => d
        case Array(d, m) => ScaleGen.build(spark, d, m.toInt)
      }
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("source"))
      val nDocs = docs.count()
      val tokens = docs
        .select(size(split(col("text"), "\\s+")).as("n"))
        .agg(sum(col("n"))).first().getLong(0)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nVecs = emb.count()

      def tmp(tag: String) = java.nio.file.Files
        .createTempDirectory(s"graft-storecon-$tag-").toString

      def line(store: String, units: Long, rows: Long, bytes: Long,
          sec: Double): Unit =
        println(f"STORECON dir=$spec store=$store docs=$nDocs " +
          f"tokens=$tokens units=$units rows=$rows bytes=$bytes " +
          f"bytes_per_doc=${bytes.toDouble / math.max(units, 1)}%.1f " +
          f"bytes_per_token=${bytes.toDouble / math.max(tokens, 1)}%.2f " +
          f"build_sec=$sec%.1f")

      def timed(body: => Unit): Double =
        collector.measure(())(_ => body).wallSec

      // SPARK_GRAFT_STORECON_ONLY=fingerprint,grams,… restricts the
      // run to named families — the ×64 sweeps run the slow seeds
      // (neardup's banded backfill) in their own process so the cheap
      // rows don't wait behind them
      val only = sys.env.get("SPARK_GRAFT_STORECON_ONLY")
        .map(_.split(",").map(_.trim).toSet)
      def wanted(name: String): Boolean = only.forall(_.contains(name))

      // fingerprint: one row per distinct document
      if (wanted("fingerprint")) {
        val p = tmp("fp")
        val idx = new FingerprintIndex(spark, p, buckets = 256)
        val sec = timed(idx.ingest(docs.select("doc_id", "text")))
        val log = new ManifestLog(spark, p)
        line("fingerprint", nDocs, log.rowCount(), idx.stats().bytes, sec)
      }

      // near-dup: postings and docs kinds measured separately — the
      // postings side is what every probe exchanges, the docs side is
      // what the confirm leg scans
      if (wanted("neardup")) {
        val p = tmp("nd")
        val idx = new NearDupIndex(spark, p, buckets = 256)
        val sec = timed(idx.ingest(docs.select("doc_id", "text")))
        val log = new ManifestLog(spark, p)
        line("neardup_post", nDocs, log.rowCount("kind=postings"),
          log.storeStats("kind=postings").bytes, sec)
        line("neardup_docs", nDocs, log.rowCount("kind=docs"),
          log.storeStats("kind=docs").bytes, 0.0)
      }

      // grams: the honest O(corpus tokens) store
      if (wanted("grams")) {
        val p = tmp("gm")
        val idx = new GramIndex(spark, p, w = 8, buckets = 256)
        val sec = timed(idx.ingest(docs.select("doc_id", "text")))
        val log = new ManifestLog(spark, p)
        line("grams", nDocs, log.rowCount(), idx.stats().bytes, sec)
      }

      // semantic index: float table + PQ codes, per VECTOR
      if (wanted("cell")) {
        val idx = new CellIndex(spark, tmp("cell"))
        val sec = timed {
          idx.buildLearned(emb, k = 16)
          idx.buildPq(m = 4, k = 4)
        }
        val s = idx.stats()
        println(f"STORECON dir=$spec store=cell_vectors docs=$nDocs " +
          f"tokens=$tokens units=$nVecs rows=$nVecs bytes=${s.vectorBytes} " +
          f"bytes_per_doc=${s.vectorBytes.toDouble / math.max(nVecs, 1)}%.1f " +
          f"bytes_per_token=${s.vectorBytes.toDouble / math.max(tokens, 1)}%.2f " +
          f"build_sec=$sec%.1f")
        println(f"STORECON dir=$spec store=cell_codes docs=$nDocs " +
          f"tokens=$tokens units=$nVecs rows=$nVecs bytes=${s.codeBytes} " +
          f"bytes_per_doc=${s.codeBytes.toDouble / math.max(nVecs, 1)}%.1f " +
          f"bytes_per_token=${s.codeBytes.toDouble / math.max(tokens, 1)}%.2f " +
          f"build_sec=0.0")
      }

      // sketches: state proportional to GROUPS × sketch size, never the
      // corpus — the line that shows a store whose bytes/doc FALLS as
      // the corpus grows
      if (wanted("sketch")) {
        val p = tmp("hll")
        val store = new SketchStore(spark, p, SketchStore.HllKind)
        val cells = graft.operators.Hll
          .registers(docs, Seq("source"), "text")
          .withColumnRenamed("source", "group")
        val sec = timed(store.ingest(cells, "storecon-batch"))
        val log = new ManifestLog(spark, p)
        line("sketch_hll", nDocs, log.rowCount(), store.stats().bytes, sec)
      }
    }
    spark.stop()
  }
}
