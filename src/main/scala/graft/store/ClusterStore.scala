package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifested store for dedup cluster assignments: (doc_id, cluster_id)
  * published as whole-table SNAPSHOTS through the versioned manifest
  * log, so the many consumers of a clustering (canonical selection,
  * cluster stats, dedup filters) read a consistent committed table —
  * never the half-overwritten parquet dir a plain `mode("overwrite")`
  * exposes while a re-cluster is in flight.
  *
  * Each [[write]] lands an immutable bucket-partitioned data dir and
  * commits a manifest referencing ONLY it (replace semantics — the
  * opposite of [[FingerprintIndex]]'s appends, because a clustering
  * supersedes its predecessor wholesale). Readers resolve the manifest
  * once per operation: a reader that resolved before a re-cluster keeps
  * reading the superseded dirs — retained for `keepVersions` manifest
  * versions — and one that resolves after sees the new snapshot; no
  * interleaving is observable because the swap is one manifest-file CAS
  * ([[ManifestLog.commitRetry]], which also vacuums the versions past
  * `keepVersions`).
  *
  * Staleness is DETECTABLE, not silent: every snapshot records the
  * `sourceId` the clustering was derived from (a source-table snapshot
  * id, content hash, or path+version string — caller's choice of
  * granularity). Consumers compare [[sourceId]] against the current
  * source before trusting the assignments and re-cluster on mismatch.
  *
  * Scale shape: assignments are two BIGINTs per document (the whole
  * point of materializing the clustering once — see
  * [[graft.operators.Dedup.clusterTable]]); a snapshot of a
  * billions-of-docs corpus is tens of GB, and the bucketed layout lets
  * cluster-targeted reads prune partitions.
  */
final class ClusterStore(spark: SparkSession, path: String,
    buckets: Int = 16,
    keepVersions: Int = 3,
    committer: Option[ManifestCommitter] = None) extends ManifestedStore {

  require(buckets >= 1, s"buckets must be >= 1, got $buckets")

  protected val log = new ManifestLog(spark, path, keepVersions, committer)

  /** Publish `assignments` (doc_id, cluster_id — extra columns are
    * dropped) as the next snapshot, recording `sourceId` alongside.
    * Returns the committed manifest version. */
  def write(assignments: DataFrame, sourceId: String): Long = {
    val dirName = log.freshDir(tag = "snap")
    assignments
      .select(col("doc_id").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("cluster_id"))
      .withColumn("bucket",
        pmod(xxhash64(col("cluster_id")), lit(buckets)).cast("int"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(log.dataPath(dirName).toString)
    // the source marker lives INSIDE the immutable data dir, written
    // before the commit — it becomes visible exactly when the snapshot
    // does, and can never describe a different snapshot's data
    val out = log.f.create(new Path(log.dataPath(dirName), "source.txt"), true)
    try out.write(sourceId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val found = log.listCells(dirName, ClusterStore.LevelPrefixes)
    // an EMPTY snapshot is still a snapshot: materialize one empty
    // leaf so the manifest references the dir — otherwise the dir
    // (and the source.txt inside it) would be orphaned and sourceId
    // would return None, defeating the staleness-detection contract
    val cells =
      if (found.nonEmpty) found
      else {
        log.emptyDf(org.apache.spark.sql.types.StructType(
          ClusterStore.schema.filterNot(_.name == "bucket")))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .parquet(new Path(log.dataPath(dirName), "bucket=0").toString)
        Seq("bucket=0")
      }
    // replace, not append: the new manifest references only this dir
    log.commitRetry(_ => cells.map(_ -> Seq(dirName)).toMap)
  }

  /** The committed snapshot: (doc_id, cluster_id, bucket). Lineage is
    * pinned to the resolved dirs — recomputing the frame after a later
    * [[write]] still reads THIS snapshot (until vacuum retires it). */
  def read(): DataFrame = log.resolve() match {
    case None => log.emptyDf(ClusterStore.schema)
    case Some((_, entries)) => log.readEntries(entries, ClusterStore.schema)
  }

  /** The `sourceId` recorded with the current snapshot — compare to the
    * live source before trusting the assignments. */
  def sourceId: Option[String] =
    log.resolve().flatMap { case (_, entries) =>
      entries.values.flatten.toSeq.distinct.sorted.headOption.map { dir =>
        val in = log.f.open(new Path(log.dataPath(dir), "source.txt"))
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      }
    }

  private[store] def currentVersion: Option[Long] = log.currentVersion
}

object ClusterStore {
  val LevelPrefixes: Seq[String] = Seq("bucket=")
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("cluster_id", LongType),
    StructField("bucket", IntegerType)))
}
