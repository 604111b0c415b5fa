package graft.tools

import java.nio.file.{Files, Paths}

import graft.obs.Obs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one synthetic-scale generator: a K× replica of an sf dir, so a
  * query can be measured where DATA outweighs per-job overhead — sf0.1's
  * documents table is 5,000 rows (~2.5 MB of text).
  *
  * Replication is WORK-HONEST for the similarity self-join family:
  * replica k > 0 gets every word prefixed `r<k>q` (disjoint vocabulary
  * per replica) and ids offset by k·[[Stride]], so cross-replica pairs are
  * impossible by construction and total join work scales LINEARLY in K —
  * the shape a K×-bigger crawl has (more blocks, not hotter blocks).
  * Plain row replication instead would pair identical texts ACROSS
  * replicas and grow candidate sets quadratically in K. embeddings,
  * lineitem and events get plain id offsets (events keep their
  * timestamps); the six small tables are symlinked.
  *
  * NOT an oracle dir: point `SPARK_GRAFT_SF_DIR` at it for subset
  * benches.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <outDir> <K>
  */
object ScaleGen {
  /** Replica k's ids are the original ids + k·Stride. */
  val Stride = 1000000000000L

  private val Linked = Seq("region", "nation", "customer", "supplier", "part",
    "orders")

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcDir> <outDir> <K>")
    val Array(src, out, kStr) = args
    val spark = Obs.session("graft-scalegen")
    write(spark, src, out, kStr.toInt)
    spark.stop()
  }

  /** The K× replica of `src` in a dir under `java.io.tmpdir`, built on
    * first use and reused while its `_READY` marker stands. */
  def build(spark: SparkSession, src: String, k: Int): String = {
    val tag = src.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = Paths.get(sys.props("java.io.tmpdir"), s"graft-scale-$tag-x$k")
    val ready = dir.resolve("_READY")
    if (!Files.exists(ready)) {
      write(spark, src, dir.toString, k)
      Files.createFile(ready)
    }
    dir.toString
  }

  private def write(spark: SparkSession, src: String, out: String,
      k: Int): Unit = {
    require(k >= 1, s"K must be >= 1, got $k")
    // events ships ns-precision timestamps in some generations
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def replicate(name: String, idCol: String,
        perReplica: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until k).map { r =>
        perReplica(base, r).withColumn(idCol, col(idCol) + lit(r * Stride))
      }.reduce(_.unionByName(_))
        // a handful of real row groups so scans split without the
        // Tables.read repartition probe firing
        .repartition(32).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$k -> $out/$name.parquet")
    }

    // documents: disjoint vocabulary per replica (word prefix r<k>q);
    // n_chars kept consistent with the rewritten text
    replicate("documents", "doc_id", (df, r) =>
      if (r == 0) df
      else df.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"r${r}q$$1"))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", "vec_id", (df, _) => df)
    replicate("lineitem", "l_orderkey", (df, _) => df)
    replicate("events", "event_id", (df, _) => df)

    for (t <- Linked) {
      val link = Paths.get(out, s"$t.parquet")
      if (!Files.exists(link))
        // absolute target: a relative src would resolve against the
        // LINK's directory and dangle
        Files.createSymbolicLink(link,
          Paths.get(src, s"$t.parquet").toAbsolutePath)
    }
  }
}
