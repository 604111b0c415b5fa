package graft.tools

import graft.obs.Obs
import org.apache.spark.sql.functions._

/** Reliable-checkpoint RETENTION soak (VERDICT r14 #8): the last open
  * question on the library-wide durability seam was whether a
  * long-running reliable-mode process (a streaming ingester doing one
  * barrier-heavy build per batch) accumulates checkpoint files without
  * bound. The seam's scaladoc points at
  * `spark.cleaner.referenceTracking.cleanCheckpoints`; this main
  * MEASURES that the combination actually bounds the directory:
  *
  *   - session configured with the reliable dir + the cleaner flag
  *     (the flag must be set at context creation — it is read when each
  *     checkpoint registers for cleanup, so the shared-session test JVM
  *     cannot exercise it; hence a forked main, not a spec);
  *   - N batches, each running the most barrier-hungry library build
  *     (jaccardSelfJoin: words pin + prefix pin + result pin per call)
  *     over a fresh sample, releasing the result like a real caller;
  *   - after each batch: drop the frame reference, System.gc(), give
  *     the ContextCleaner's async delete a moment, then count rdd-*
  *     checkpoint dirs under the checkpoint root.
  *
  * PASS = the count at batch N is bounded by a small constant (the
  * in-flight batch's own pins), not ~3N. The measured numbers live in
  * SCALE.md ("Durability" note).
  *
  * Two shapes (VERDICT r15 #8): the default driver LOOP (above), and
  * `stream` — the same barrier-heavy build run from inside a Structured
  * Streaming `foreachBatch` sink over a file-arrival source
  * (maxFilesPerTrigger=1, Trigger.AvailableNow), i.e. the EXACT
  * execution shape the production history-backed curation stages use
  * ([[graft.streaming.StreamOps]] — every history-backed stage there is
  * a foreachBatch loop). The foreachBatch thread, the streaming
  * checkpoint machinery, and the microbatch planner are all in the
  * measured path, so the bound is evidenced in the claimed production
  * shape rather than inferred from a driver-loop proxy. */
object SeamRetention {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val batches = sys.env.getOrElse("SPARK_GRAFT_SEAM_BATCHES", "8").toInt
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-seam-retention-").toString
    val spark = Obs.session("graft-seamretention",
      "spark.graft.checkpoint.dir" -> ckDir,
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

    def rddDirs(): Int = {
      def walk(f: java.io.File): Int =
        if (f.getName.startsWith("rdd-")) 1
        else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      walk(new java.io.File(ckDir))
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // one batch's build + release + count — identical in both shapes, so
    // a loop-vs-stream delta can only come from the execution shape
    def oneBatch(tag: String, b: Long,
        batch: org.apache.spark.sql.DataFrame): Int = {
      val base = graft.queries.TextQueries.jaccardBase(batch)
      val pairs = graft.operators.Dedup.jaccardSelfJoin(
        base, "doc_id", "words", Seq("lang", "size_bucket"), 1, 4)
      val n = pairs.count()
      // release like a real caller: the result pin is done with
      Obs.release(spark)
      // let the ContextCleaner see the dead references and delete
      System.gc()
      Thread.sleep(2000)
      val files = rddDirs()
      println(s"SEAM-RETENTION$tag batch=$b pairs=$n rdd_dirs=$files")
      files
    }

    val stream = args.contains("stream")
    val counts: Seq[Int] =
      if (!stream) (1 to batches).map { b =>
        // a fresh deterministic sample per batch — each build runs the
        // full words/prefix/result barrier chain in reliable mode
        oneBatch("", b.toLong,
          docs.filter(col("doc_id") % batches === (b - 1) % batches))
      }
      else {
        // the production shape: materialize the corpus as `batches`
        // files, then let a file-arrival stream deliver one file per
        // microbatch into a foreachBatch sink that runs the same build
        val inDir = java.nio.file.Files
          .createTempDirectory("graft-seam-in-").toString
        docs.repartition(batches).write.mode("overwrite").parquet(inDir)
        val schema = spark.read.parquet(inDir).schema
        val seen =
          new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
          .writeStream
          .option("checkpointLocation", java.nio.file.Files
            .createTempDirectory("graft-seam-stream-ckpt-").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch {
            (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              seen.add(batchId -> oneBatch("-STREAM", batchId, batch))
              ()
          }
          .start()
        q.awaitTermination()
        import scala.jdk.CollectionConverters._
        seen.asScala.toSeq.sortBy(_._1).map(_._2)
      }
    val bounded = counts.last <= counts.take(3).max + 3
    val metric = if (stream) "seam_retention_stream" else "seam_retention"
    println(s"""{"metric":"$metric","batches":${counts.size},""" +
      s""""rdd_dirs":${counts.mkString("[", ",", "]")},""" +
      s""""bounded":$bounded,"dir":"$ckDir"}""")
    spark.stop()
    // the soak's own checkpoint root is disposable
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(ckDir))
  }
}
