package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names: dump only those (local iteration);
    // oracle_sql.json is filtered to match so tools/compare.py sees a
    // consistent pair. The driver passes exactly two args → full battery.
    val only: Set[String] = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        "a typo here would emit an empty (vacuously green) battery")
    // run-quality stamp (VERDICT r12 polish #6): Verify runs the same
    // queries the bench does, so carrying the steal counter here makes a
    // slow-but-green correctness run distinguishable from a hung one —
    // and a contaminated box visible in the driver's verify log too.
    val steal0 = Bench.stealTicks()
    val wall0 = System.nanoTime()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a failure must stay LOUD end to end: the old per-query catch
    // swallowed the error with exit code 0 and left no output dir, which
    // a compare that iterates existing dirs silently skips — a runtime
    // regression would make the battery vacuously green (the same class
    // the unknown-name guard above exists for). Keep draining the other
    // queries (one regression must not hide the rest of the battery),
    // but record every failure and exit nonzero at the end.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // the Bench.timeOne discipline (ADVICE r17): the eager pins some
        // queries ride (keepAboveQuantile, the banding candidate pins)
        // are localCheckpoint blocks that catalog.clearCache does NOT
        // free — without the unpersist-all they accumulate across the
        // 123-query battery until GC, pure memory pressure at scale
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val stealSec = (for (a <- steal0; b <- Bench.stealTicks())
      yield (b - a) / Bench.userHz).getOrElse(-1.0)
    System.err.println(f"[verify] wall ${(System.nanoTime() - wall0) / 1e9}%.1f s, " +
      f"steal $stealSec%.1f s (nonzero steal = external contention, not a " +
      "slow battery)")
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} " +
          s"FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
