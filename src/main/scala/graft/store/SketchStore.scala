package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Durable incremental sketch maintenance: per-load sketch cells
  * ([[graft.operators.Hll]] registers, [[graft.operators.Cms]] counters,
  * or [[graft.operators.Kmv]] minima) appended through the versioned
  * manifest log, merged on read by each family's merge law. This turns
  * the sketch docs' "disjoint loads union for free" claim into a stored
  * artifact: a continuously-ingesting pipeline keeps live distinct
  * counts / frequencies / pairwise-overlap estimates over ALL history
  * by appending a few hundred tiny rows per batch — the corpus itself
  * is scanned exactly once, by the batch that loaded it.
  *
  * Replay semantics are where the three families genuinely differ, so
  * the store makes them explicit instead of papering over them:
  *   - HLL (register max) and KMV (k-min of union) merges are
  *     IDEMPOTENT — re-merging a batch's cells is algebraically
  *     harmless;
  *   - CMS (counter sum) is NOT — a re-merged batch double-counts.
  * [[ingest]] therefore tracks committed `batchId`s (encoded in the
  * immutable data-dir names, and carried through [[compact]] in a
  * `batches.txt` marker) and makes a replayed ingest a no-op for ALL
  * kinds — exactly-once effect under at-least-once delivery, the
  * [[FingerprintIndex]] discipline. Batch ids are the caller's load
  * identifiers (foreachBatch epoch ids, file manifests) and are
  * assumed unique per logical load; two RACING writers of the same id
  * degrade to a rare double-merge for CMS only (the same race window
  * every sum-based store has without a global lock).
  *
  * Scale shape: a batch appends ≤ groups × cells rows (64 / d·w / k per
  * group); [[read]] opens one file per cell per live data dir — run
  * [[compact]] periodically to fold history into one merged dir so read
  * cost stays bounded as batches accumulate.
  */
final class SketchStore(spark: SparkSession, path: String,
    kind: SketchStore.Kind,
    k: Int = graft.operators.Kmv.DefaultK,
    keepVersions: Int = 3,
    committer: Option[ManifestCommitter] = None) extends ManifestedStore {

  import SketchStore._

  protected val log = new ManifestLog(spark, path, keepVersions, committer)

  /** Batch ids already merged into the store (dir-name tags plus the
    * ids a compaction folded in via its `batches.txt` marker). Ids are
    * in [[SketchStore.tag]] form — compare tags, not raw ids. */
  def committedBatches: Set[String] = log.resolve() match {
    case None => Set.empty
    case Some((_, entries)) => batchesIn(entries)
  }

  /** Throws on a tag not of the [[SketchStore.tag]] shape: a store
    * written before that form would not recognise its own batch ids, so
    * a replay would merge them twice. */
  private def batchesIn(entries: Map[String, Seq[String]]): Set[String] = {
      val dirs = entries.values.flatten.toSet
      val tags = dirs.flatMap { dir =>
        val parts = dir.split("-")
        val fromTag =
          if (parts.length == 3 && parts(1) != CompactTag) Set(parts(1))
          else Set.empty[String]
        val marker = new Path(log.dataPath(dir), "batches.txt")
        val fromMarker =
          if (log.f.exists(marker)) {
            val in = log.f.open(marker)
            try scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().filter(_.nonEmpty).toSet
            finally in.close()
          } else Set.empty[String]
        fromTag ++ fromMarker
      }
      tags.find(!TagShape.matches(_)).foreach { t =>
        throw new IllegalStateException(
          s"sketch store at $path holds batch tag '$t', not of the " +
            "<sanitized>_<8 hex> form: a pre-upgrade tag, which this " +
            "store no longer reads; re-ingest its loads into a fresh path")
      }
      tags
  }

  /** Normalize an operator-shaped frame to stored cells. */
  private def toCells(cells: DataFrame): DataFrame = kind match {
    case HllKind => cells.select(col("group").cast("string").as("group"),
      col("bucket").cast("int").as("a"), lit(0).as("b"),
      col("register").cast("long").as("v"))
    case CmsKind => cells.select(col("group").cast("string").as("group"),
      col("row").cast("int").as("a"), col("col").cast("int").as("b"),
      col("counter").cast("long").as("v"))
    case KmvKind => cells.select(col("group").cast("string").as("group"),
      posexplode(col("kmv")).as(Seq("a", "v")))
      .select(col("group"), col("a").cast("int").as("a"), lit(0).as("b"),
        col("v").cast("long").as("v"))
  }

  /** Append one load's sketch cells under `batchId`. The frame must be
    * the operator's shape with its group column renamed to `group`:
    * HLL (group, bucket, register), CMS (group, row, col, counter),
    * KMV (group, kmv). Returns false (and commits nothing) when
    * `batchId` was already merged — the replay-safe path that keeps
    * CMS sums exact under at-least-once delivery. */
  def ingest(cells: DataFrame, batchId: String): Boolean = {
    val tag = SketchStore.tag(batchId)
    if (committedBatches.contains(tag)) return false
    // re-checked at every commit attempt: a racing writer of the SAME
    // batch id that committed first turns this commit into a no-op.
    // Full batchesIn (dir-name tags AND compaction batches.txt
    // markers), not just name tags: the racer's dir may ALREADY have
    // been folded by a compaction between its commit and ours, in
    // which case only the marker still carries its batch id
    log.append(tag, skip = batchesIn(_).contains(tag)) { dir =>
      toCells(cells)
        .withColumn("bucket", pmod(xxhash64(col("group")), lit(Buckets))
          .cast("int"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(log.dataPath(dir).toString)
      log.listCells(dir, LevelPrefixes)
    }
  }

  /** The live merged sketch, operator-shaped: HLL (group, bucket,
    * register) by register max; CMS (group, row, col, counter) by sum;
    * KMV (group, kmv) by k-min of union (the native aggregate re-runs
    * its own merge law over the stored minima). */
  def read(): DataFrame = merged(log.resolve() match {
    case None => log.emptyDf(schema)
    case Some((_, entries)) => log.readEntries(entries, schema)
  })

  private def merged(cells: DataFrame): DataFrame = {
    kind match {
      case HllKind => cells.groupBy(col("group"), col("a").as("bucket"))
        .agg(max(col("v")).cast("int").as("register"))
        .select(col("group"), col("bucket"), col("register"))
      case CmsKind => cells
        .groupBy(col("group"), col("a").as("row"), col("b").as("col"))
        .agg(sum(col("v")).as("counter"))
        .select(col("group"), col("row"), col("col"), col("counter"))
      case KmvKind => cells.groupBy(col("group"))
        .agg(graft.functions.functions.kmvSketch(col("v"), k).as("kmv"))
    }
  }

  /** Fold every live dir into ONE merged dir (read cost back to one
    * scan), carrying the folded batch ids in a `batches.txt` marker so
    * replayed old batches stay no-ops after the fold. Returns the
    * number of dirs folded (0 = nothing to do, or a racing compaction
    * fully superseded this one).
    *
    * Race-safe via [[ManifestLog.commitCompaction]]: the fold reads and
    * replaces only the PINNED pre-compact snapshot's dirs — an ingest
    * that commits while the fold runs keeps its dirs referenced (its
    * cells and dir-name batch tag both survive), and a cell already
    * superseded by a racing compaction is yielded rather than
    * double-folded. A blanket manifest replacement here would silently
    * drop such a concurrent ingest's data AND its replay guard. */
  def compact(): Int = {
    val resolved = log.resolve()
    if (resolved.isEmpty) return 0
    val (_, snapshot) = resolved.get
    val dirs = snapshot.values.flatten.toSet
    if (dirs.size <= 1) return 0
    val folded = batchesIn(snapshot)
    val newDir = log.freshDir(tag = CompactTag)
    // merge-on-read result (pinned to the snapshot) re-normalized to
    // cell rows — the merged sketch IS valid cell input (max/sum/k-min
    // are associative)
    toCells(merged(log.readEntries(snapshot, schema)))
      .withColumn("bucket", pmod(xxhash64(col("group")), lit(Buckets))
        .cast("int"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(log.dataPath(newDir).toString)
    val out = log.f.create(new Path(log.dataPath(newDir), "batches.txt"), true)
    try out.write(folded.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val leaves = log.listCells(newDir, LevelPrefixes).toSet
    // only cells the fold actually rewrote may point at newDir
    val foldable = snapshot.keySet.intersect(leaves)
    val yielded = log.commitCompaction(snapshot, foldable, newDir)
    if (yielded.size == foldable.size) 0
    else {
      // a PARTIAL yield (a racing compaction took some cells first)
      // leaves the yielded cells' old dirs live — report only what this
      // call actually folded, or a maintenance scheduler gating on the
      // return value concludes the store collapsed when it didn't
      val stillLive = yielded.flatMap(snapshot.getOrElse(_, Nil))
      (dirs -- stillLive).size
    }
  }

  /** Store economics from filesystem metadata only — see
    * [[ManifestLog.storeStats]]. */
  def stats(): ManifestLog.StoreStats = log.storeStats()

  /** [[compact]] on the [[ManifestLog.compactIfNeeded]] schedule. */
  def compactIfNeeded(maxLiveDirs: Int = 8): Int =
    log.compactIfNeeded(maxLiveDirs)(compact())
}

object SketchStore {
  sealed abstract class Kind(val name: String)
  case object HllKind extends Kind("hll")
  case object CmsKind extends Kind("cms")
  case object KmvKind extends Kind("kmv")

  private[store] val CompactTag = "compactfold"
  private[store] val Buckets = 16

  /** Filesystem-safe replay-guard tag for a raw batch id: sanitized
    * prefix (ASCII letters and digits; anything else, which a JVM whose
    * file names encode as ASCII cannot write, becomes `_`) + an md5
    * suffix, so DISTINCT raw ids that differ only in punctuation or
    * script ("load-1" vs "load.1" vs "load_1") never collide to one tag
    * — a collision would silently refuse the second load as a replay.
    * Deterministic: a true replay of the SAME raw id maps to its tag. */
  def tag(batchId: String): String = {
    require(batchId.nonEmpty, "batchId must be non-empty")
    val s = batchId.map(c => if (c < 128 && c.isLetterOrDigit) c else '_')
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(batchId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s.take(48) + "_" + md.take(4).map("%02x".format(_)).mkString
  }

  /** The shape every [[tag]] has. */
  private[store] val TagShape = """[A-Za-z0-9_]{1,48}_[0-9a-f]{8}""".r

  val LevelPrefixes: Seq[String] = Seq("bucket=")
  val schema: StructType = StructType(Seq(
    StructField("group", StringType),
    StructField("a", IntegerType),
    StructField("b", IntegerType),
    StructField("v", LongType),
    StructField("bucket", IntegerType)))
}
