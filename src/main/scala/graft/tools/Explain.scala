package graft.tools

import graft.{Bench, SparkEntry}
import graft.obs.{Obs, Scope}
import java.nio.file.{Files, Paths}

/** Where a battery query's time goes. For each query: one warm pass and
  * one measured pass through the bench's noop sink, then every job of the
  * measured pass (the operator that fired it, or its call site; seconds;
  * stages), the final executed plan and the collector's JSON.
  *
  * With no query names it runs all of [[SparkEntry.queries]] and writes
  * `LEDGER_<sf>.json`: per query the jobs, stages, exchanges, scans and
  * shuffle bytes written — counters that do not depend on contention, so
  * two revisions can be diffed — stamped with cores and host. A subset run
  * only prints.
  *
  * Reliable checkpoints: add
  * `JAVA_TOOL_OPTIONS=-Dspark.graft.checkpoint.dir=<dir>` and compare.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(args.nonEmpty, "usage: Explain <sfDir> [query...]")
    val sfDir = args(0)
    val full = args.length == 1
    val names = if (full) SparkEntry.queries.keys.toSeq.sorted else args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = Obs.session("graft-explain")
    val collector = Obs.collector(spark)

    // only the ledger row outlives a pass: a kept plan would pin its
    // broadcasts and checkpoint blocks
    val rows = names.map { name =>
      def pass(): Scope =
        try collector.measure(SparkEntry.queries(name)(spark, sfDir))(
          _.write.mode("overwrite").format("noop").save())
        finally Obs.release(spark)
      pass()
      val s = pass()
      println(s"=== $name: ${s.jobs.size} jobs ===")
      s.jobs.zipWithIndex.foreach { case (j, i) =>
        println(f"  job#$i%-3d ${j.seconds}%7.3f s ${j.stages}%3d stages  ${j.op}")
      }
      s.finalPlan.foreach(println)
      println(s"[explain] $name ${s.json}")
      s"""  "$name": {"jobs": ${s.jobs.size}, "stages": ${s.stages}, """ +
        s""""exchanges": ${s.exchanges}, "scans": ${s.scans}, """ +
        s""""shuffle_bytes": ${s.shuffleWriteBytes}}"""
    }
    spark.stop()

    if (full) {
      val tag = Bench.sfTag(sfDir)
      val ledger = s"""{"sf": "$tag", "cpus": ${Obs.cpus}, """ +
        s""""host": "${Bench.hostName()}",\n"queries": {\n""" +
        rows.mkString(",\n") + "\n}}\n"
      Files.writeString(Paths.get(s"LEDGER_$tag.json"), ledger)
      println(s"[explain] wrote LEDGER_$tag.json (${rows.size} queries)")
    }
  }
}
