package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Compacted latest table replacing the reference's 1-row-per-
  * `what:where` DynamoDB table (`storage.py:78-137`), stored as a
  * versioned-manifest table (see [[ManifestLog]] for the layout and
  * commit protocol) so readers are never exposed to a partial rewrite
  * and upserts rewrite only the key buckets a batch touches.
  *
  * A manifest maps each key bucket (`kp = pmod(xxhash64(what, where),
  * nBuckets)`) to the data version holding its current rows. The commit
  * CAS goes through the [[ManifestCommitter]] seam — rename-as-commit
  * by default, a [[ConditionalPutCommitter]] (the reference's DynamoDB
  * conditional-put shape) on object stores without fail-if-exists
  * rename.
  *
  * Incremental maintenance: an upsert merges ONLY the buckets present in
  * the batch — one key touches one bucket, so the rewrite is O(batch
  * keys / nBuckets of the table), not O(table). Untouched buckets keep
  * their old manifest entries. Superseded versions beyond `keepVersions`
  * are vacuumed after commit; `keepVersions >= 2` leaves a window for
  * in-flight readers on the previous snapshot.
  */
final class LatestStore(spark: SparkSession, path: String,
    nBuckets: Int = 16, keepVersions: Int = 3,
    committer: Option[ManifestCommitter] = None) {
  import spark.implicits._

  private val log = new ManifestLog(spark, path, keepVersions, committer)
  private lazy val f = Fs.fs(spark, path)

  /** true once any version has been committed. */
  def exists: Boolean = log.hasAny

  /** bucket -> data-version dir name; manifests store one dir per kp. */
  private def asBuckets(entries: Map[String, Seq[String]]): Map[Int, String] =
    entries.collect { case (k, dirs) if dirs.nonEmpty => k.toInt -> dirs.head }

  private def bucketLeaf(dataVersion: String, kp: Int): String =
    new Path(log.dataPath(dataVersion), s"kp=$kp").toString

  /** `strict = false` (current-snapshot reads) tolerates a leaf
    * vanishing between resolve and scan — the benign race against a
    * concurrent vacuum, where re-resolving would just pick the newer
    * manifest anyway. `strict = true` (pinned time-travel reads) does
    * NOT exist-filter: a pinned snapshot that lost dirs to vacuum must
    * FAIL, never silently return a partial table. */
  private def readBuckets(entries: Map[Int, String], buckets: Iterable[Int],
      strict: Boolean = false): DataFrame = {
    val all = buckets.toSeq.sorted
      .flatMap(b => entries.get(b).map(bucketLeaf(_, b)))
    val leaves = if (strict) all else all.filter(p => f.exists(new Path(p)))
    if (leaves.isEmpty) log.emptyDf(RecordStore.schema)
    else spark.read.schema(RecordStore.schema).parquet(leaves: _*)
  }

  /** Current snapshot: all buckets of the current manifest. */
  def latest: DataFrame = log.resolve() match {
    case None => log.emptyDf(RecordStore.schema)
    case Some((_, raw)) =>
      val entries = asBuckets(raw)
      readBuckets(entries, entries.keys)
  }

  /** The row of (`what`, `where`), if any, read from the one kp bucket
    * [[upsert]] writes that key to. The bucket is computed on the driver
    * from one manifest resolve, so nothing else is listed or scanned. */
  def lookup(what: String, where: String): DataFrame = {
    val table = log.resolve() match {
      case None => log.emptyDf(RecordStore.schema)
      case Some((_, raw)) =>
        readBuckets(asBuckets(raw),
          Seq(LatestStore.bucketOf(what, where, modulus)))
    }
    table.filter(col("what") === what && col("where") === where)
  }

  // the modulus the table's upserts stamped (write-once, so read once);
  // this opener's until a stamp exists
  @volatile private var stamped: Option[Int] = None
  private def modulus: Int = stamped.getOrElse {
    val m = Fs.readMarker(f, new Path(path, "_buckets")).map(_.toInt)
    stamped = m
    m.getOrElse(nBuckets)
  }

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("kp",
      pmod(xxhash64(col("what"), col("where")), lit(nBuckets)).cast("int"))

  /** Persist-or-validate `nBuckets` (the [[FingerprintIndex]] marker
    * discipline): an upsert under a different modulus would read the
    * wrong bucket for existing keys and leave TWO live rows for one
    * (what, where) — the invariant the whole table exists to hold. */
  private def ensureBuckets(): Unit = {
    val stored = Fs.ensureMarker(f, new Path(path, "_buckets"),
      nBuckets.toString)
    require(stored.toInt == nBuckets,
      s"latest table at $path was created with $stored buckets; opened " +
        s"with $nBuckets — merges would miss existing keys and break " +
        "the one-row-per-(what, where) invariant")
  }

  /** Monotone upsert: newest (metadata.start, create_time) per (what,
    * where) wins; replay-safe (applying the same batch twice is a no-op).
    * Only buckets containing batch keys are re-merged and rewritten.
    *
    * The batch is collected once (a local frame fires no job); its
    * per-key winners ([[LatestStore.winners]]) and their kp buckets are
    * computed on the driver. The merge with the touched buckets' existing
    * rows stays one Spark write: those rows grow with the table and are
    * never collected, so driver memory is bounded by the batch. */
  def upsert(batch: DataFrame): Unit = {
    ensureBuckets()
    val cols = RecordStore.schema.fieldNames.map(col).toSeq
    val selected = batch.select(cols: _*)
    val winners = LatestStore.winners(selected.collect().toSeq)
    val touched = winners.map(r =>
      LatestStore.bucketOf(r.getString(LatestStore.WhatAt),
        r.getString(LatestStore.WhereAt), modulus)).distinct.sorted
    if (touched.isEmpty) return
    val batchWinners =
      withBucket(spark.createDataFrame(winners.asJava, selected.schema))
    // kp is a function of (what, where), so a window partitioned by it
    // too runs on the merge's kp repartition without a shuffle of its own
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"kp", $"what", $"where")
      .orderBy($"metadata.start".desc, $"create_time".desc, $"metadata.id".desc)

    var attempts = 0
    var committed = false
    while (!committed) {
      attempts += 1
      if (attempts > 10)
        throw new java.io.IOException(s"upsert lost $attempts commit races under $path")
      val (baseV, entries) = log.resolve()
        .map { case (v, raw) => (v, asBuckets(raw)) }
        .getOrElse((0L, Map.empty[Int, String]))
      // STRICT read for a merge: this path READS existing rows to
      // REWRITE them, so a missing referenced leaf must fail the
      // attempt — the non-strict exist-filter (benign for reads,
      // where re-resolving picks the newer manifest) would here
      // commit a table missing every key of the vanished bucket.
      // A leaf of the CURRENT manifest cannot be vacuumed, so this
      // only fires on external deletion or a flaky filesystem —
      // exactly when losing loudly beats losing silently.
      val existing = withBucket(readBuckets(entries, touched, strict = true))
      val newV = baseV + 1
      // the data dir carries a writer nonce (see ManifestLog.newDataDirName):
      // two racing writers may both target manifest version N, and their
      // Spark write jobs must not collide on one directory
      val newDataVersion = log.newDataDirName(newV)
      // one shuffle partition per touched bucket -> one file per kp dir
      existing.unionByName(batchWinners)
        .repartition(touched.size, col("kp"))
        .withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn")
        .write.mode(SaveMode.Overwrite).partitionBy("kp")
        .parquet(log.dataPath(newDataVersion).toString)
      val newEntries = entries ++ touched.map(_ -> newDataVersion)
      committed = log.tryCommit(newV,
        newEntries.map { case (k, d) => k.toString -> Seq(d) })
      if (!committed)
        // lost the race: another writer committed baseV+1 first; drop our
        // orphaned data version and re-merge against the new state
        f.delete(log.dataPath(newDataVersion), true)
    }
    log.vacuum()
  }

  /** Offline reclamation of data dirs left by writers that crashed
    * between data-write and manifest-commit (never referenced, so never
    * swept by the regular vacuum). See [[ManifestLog.vacuumOrphans]]. */
  def vacuumOrphans(olderThanMs: Long): Seq[String] =
    log.vacuumOrphans(olderThanMs)

  /** Resolvable snapshot versions, oldest first (retention =
    * `keepVersions` commits). */
  def versions: Seq[Long] = log.versions

  /** Time travel: the latest table exactly as committed at `version`
    * (complete immutable snapshot; vacuumed versions throw — reading
    * the manifest or any reclaimed leaf fails loudly rather than
    * returning a silently partial snapshot). */
  def latestAt(version: Long): DataFrame = {
    val entries = asBuckets(log.readManifest(version))
    readBuckets(entries, entries.keys, strict = true)
  }
}

object LatestStore {
  private[store] val WhatAt = RecordStore.schema.fieldIndex("what")
  private[store] val WhereAt = RecordStore.schema.fieldIndex("where")
  private val CreateAt = RecordStore.schema.fieldIndex("create_time")
  private val MetaAt = RecordStore.schema.fieldIndex("metadata")
  private val StartAt = RecordStore.metadataSchema.fieldIndex("start")
  private val IdAt = RecordStore.metadataSchema.fieldIndex("id")

  /** Ids compare as Spark compares strings: binary UTF-8, which differs
    * from Java's UTF-16 `compareTo` on supplementary characters. */
  private implicit val utf8Order: Ordering[UTF8String] =
    Ordering.fromLessThan(_.compareTo(_) < 0)

  private val rank: Ordering[Row] = Ordering.by { (r: Row) =>
    val m = r.getStruct(MetaAt)
    (m.getLong(StartAt), r.getLong(CreateAt),
      UTF8String.fromString(m.getString(IdAt)))
  }

  /** The row per (what, where) that `upsert`'s merge window ranks first
    * — newest metadata.start, then create_time, then metadata.id — over
    * rows in [[RecordStore.schema]] column order. */
  private[store] def winners(rows: Seq[Row]): Seq[Row] =
    rows.groupBy(r => (r.getString(WhatAt), r.getString(WhereAt)))
      .values.map(_.max(rank)).toSeq

  /** The kp bucket [[LatestStore.upsert]] writes (`what`, `where`) to:
    * the same `pmod(xxhash64(what, where), nBuckets)`, evaluated on the
    * driver without a Spark job. */
  def bucketOf(what: String, where: String, nBuckets: Int): Int = {
    val h = new XxHash64(Seq(Literal(what), Literal(where))).eval()
    java.lang.Math.floorMod(h.asInstanceOf[Long], nBuckets.toLong).toInt
  }
}
