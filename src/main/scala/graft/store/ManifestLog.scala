package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  PartitionDirectory, PartitioningUtils}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** Versioned manifest log behind every versioned store: the one place
  * that knows the commit protocol, so each store keeps only its format
  * (schema, bucketing, the rewrite it runs). Its users:
  *   - appending stores ([[RecordStore]], [[WorkIdIndex]],
  *     [[FingerprintIndex]], [[GramIndex]], [[NearDupIndex]],
  *     [[SketchStore]]) commit through [[append]] and compact through
  *     [[compact]] (or, for a store that picks its own cells,
  *     [[commitCompaction]]), scheduled by [[compactIfNeeded]];
  *   - [[LatestStore]] merges against the base version it read, so it
  *     runs its own [[tryCommit]] loop;
  *   - replace-style stores ([[ClusterStore]], and
  *     [[graft.operators.CellIndex]], whose one cell points at the
  *     current generation dir) publish whole snapshots through
  *     [[commitRetry]].
  *
  * Layout under a table `path`:
  * {{{
  * <path>/manifests/v0000000001.txt     # committed via the CAS seam
  * <path>/data/v0000000001-ab12cd34/…   # immutable data dirs
  * }}}
  *
  * A manifest maps each CELL (a table-defined partition unit — a kp
  * bucket for the latest table, a `time_bucket=…/what=…` leaf for the
  * record table, a `work_id_prefix=…` dir for the work-id index) to the
  * ordered list of data dirs currently holding its rows. Commit
  * protocol: write data dirs first, then publish manifest N+1 through
  * [[ManifestCommitter.putIfAbsent]] — a reader resolves either the old
  * manifest or the new one, never a half-written table, and a racing
  * writer loses the CAS, re-reads, and retries its merge (the same
  * optimistic loop the reference runs against DynamoDB,
  * `storage.py:78-137`, and the same manifest-log shape Delta/Iceberg
  * use on object stores where directory operations are not atomic:
  * once committed, data files are only ever read and later
  * garbage-collected, never renamed). Every commit vacuums the versions
  * past `keepVersions` and the data dirs only they referenced.
  *
  * File format: one `cell=dir1,dir2` line per cell, cells URL-encoded
  * (values never need encoding — dir names are self-assigned).
  */
final class ManifestLog(spark: SparkSession, path: String,
    keepVersions: Int = 3,
    committerOverride: Option[ManifestCommitter] = None) {

  require(keepVersions >= 1, "keepVersions must be >= 1")

  private[store] val root = new Path(path)
  private[store] val manifestsDir = new Path(root, "manifests")
  private[store] val dataRoot = new Path(root, "data")
  // lazy val, not def: each Fs.fs call clones the full Hadoop
  // Configuration (hundreds of entries) just to hit the FileSystem
  // cache — per-cell metadata loops were paying O(cells) conf clones
  private[store] lazy val f = Fs.fs(spark, path)
  private val committer = committerOverride.getOrElse(
    new RenameCommitter(spark, path))

  private val ManifestName = """v(\d{10})\.txt""".r

  /** All currently resolvable committed versions, oldest first —
    * bounded by `keepVersions` (vacuum drops older manifests and the
    * data only they referenced). Each is a complete, immutable
    * snapshot: the basis for time-travel reads. The SINGLE listing of
    * the manifests dir — currentVersion/vacuum/vacuumOrphans all go
    * through here so the name-pattern invariant lives in one place.
    * With no version it also refuses a table root that holds data
    * written before the manifest log (see [[refusePreManifest]]), so
    * every read, `exists` and commit fails on such a table before
    * writing anything. */
  def versions: Seq[Long] = {
    val vs =
      if (!f.exists(manifestsDir)) Nil
      else f.listStatus(manifestsDir).toSeq
        .flatMap(st => st.getPath.getName match {
          case ManifestName(n) => Some(n.toLong)
          case _ => None
        }).sorted
    if (vs.isEmpty) refusePreManifest()
    vs
  }

  /** Throws when the table root holds a `*.parquet` file or a `k=v`
    * partition directory: the flat or partitioned layout written before
    * the manifest log, which is no longer read. Reading it as an empty
    * table would hide its rows. `manifests/`, `data/` and hidden `_`/`.`
    * names (markers, a crashed first writer's dir) are the manifested
    * layout's own and pass. */
  private def refusePreManifest(): Unit =
    if (f.exists(root)) {
      val stray = f.listStatus(root).map(_.getPath.getName).filter { n =>
        n != "manifests" && n != "data" && !n.startsWith("_") &&
          !n.startsWith(".") && (n.endsWith(".parquet") || n.contains('='))
      }
      if (stray.nonEmpty)
        throw new IllegalStateException(
          s"$path holds a pre-manifest table layout (${stray.sorted.take(3)
            .mkString(", ")}) and no manifests/: this layout is no longer " +
            "read; convert it by reading it with spark.read.parquet and " +
            "appending the rows into a fresh path")
    }

  def currentVersion: Option[Long] = versions.lastOption

  /** true once any version has been committed. */
  def hasAny: Boolean = currentVersion.isDefined

  def manifestPath(v: Long): Path = new Path(manifestsDir, f"v$v%010d.txt")

  /** cell -> ordered data dir names for version `v`. */
  def readManifest(v: Long): Map[String, Seq[String]] = {
    val in = f.open(manifestPath(v))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.contains('='))
      .map { l =>
        val Array(k, d) = l.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          d.split(",").toSeq.filter(_.nonEmpty)
      }
      .toMap
    finally in.close()
  }

  /** Resolve the current (version, entries), retrying if a concurrent
    * vacuum removed the manifest between list and open. */
  def resolve(): Option[(Long, Map[String, Seq[String]])] = {
    var attempts = 0
    while (attempts < 5) {
      currentVersion match {
        case None => return None
        case Some(v) =>
          try return Some((v, readManifest(v)))
          catch { case _: java.io.IOException => attempts += 1 }
      }
    }
    throw new java.io.IOException(s"cannot resolve current manifest under $path")
  }

  /** Table economics from filesystem METADATA only (no data scan):
    * live data dirs, referenced cells, parquet file count, total stored
    * bytes. Every manifested store exposes this as `stats()` — the
    * gauge behind its `compactIfNeeded` live-dirs policy (each commit
    * adds one dir and one file per touched cell; a snapshot read lists
    * and opens every one of them) and behind
    * size-derived heuristics like [[graft.store.GramIndex]]'s
    * bloom-prefilter ratio gate. */
  def storeStats(): ManifestLog.StoreStats = storeStats("")

  /** [[storeStats]] restricted to cells whose relative path starts with
    * `cellPrefix` — multi-kind tables (e.g. [[NearDupIndex]]'s
    * `kind=postings/...` vs `kind=docs/...`) gauge one kind's bytes
    * without scanning data. */
  def storeStats(cellPrefix: String): ManifestLog.StoreStats = resolve() match {
    case None => ManifestLog.StoreStats(0, 0, 0L, 0L)
    case Some((_, allEntries)) =>
      val entries = allEntries.filter(_._1.startsWith(cellPrefix))
      val dirCells = entries.toSeq
        .flatMap { case (cell, dirs) => dirs.map(_ -> cell) }.distinct
      var files = 0L
      var bytes = 0L
      dirCells.foreach { case (dir, cell) =>
        leafFiles(dir, cell).foreach { st =>
          files += 1
          bytes += st.getLen
        }
      }
      ManifestLog.StoreStats(
        dirCells.map(_._1).distinct.size, entries.size, files, bytes)
  }

  /** Committed row count for cells under `cellPrefix`, from parquet
    * FOOTERS only (no data scan). Data dirs are immutable once
    * committed — compaction writes NEW dirs, never rewrites old ones —
    * so per-(dir, cell) counts are cached JVM-wide: a steady-state
    * micro-batch pays footer reads only for the one dir its own commit
    * just added. This is what lets size-derived heuristics (the bloom
    * ratio gates) use REAL committed rows instead of a bytes-per-row
    * literal that drifts with schema or compression changes. Throws if
    * a footer is unreadable; callers that only need an estimate catch
    * and fall back to a bytes-based one. */
  def rowCount(cellPrefix: String = ""): Long =
    rowCountBudgeted(cellPrefix, Long.MaxValue)

  /** [[rowCount]] with a cap on UNCACHED footer reads per call — the
    * scale guard for first contact with a large pre-existing store,
    * where an unbounded walk is one driver-side open per file (100k
    * files = 100k object-store GETs mid-batch). Leaves within budget
    * are read exactly and cached; the remainder is EXTRAPOLATED from
    * the measured bytes/row of every leaf cached so far (one store =
    * one schema + codec, so the ratio transfers across its dirs) — a
    * constant derived from the store's own footers, never a literal.
    * Successive calls convert budget into cache, so the estimate
    * converges to exact; `warm()` pays the whole walk up front by
    * calling the unbudgeted form. Throws when the budget leaves
    * NOTHING measured to extrapolate from. */
  def rowCountBudgeted(cellPrefix: String, maxFooterReads: Long): Long =
    resolve() match {
      case None => 0L
      case Some((_, allEntries)) =>
        val conf = spark.sparkContext.hadoopConfiguration
        val dirCells = allEntries.filter(_._1.startsWith(cellPrefix)).toSeq
          .flatMap { case (cell, dirs) => dirs.map(_ -> cell) }.distinct
        // Cache bounding is the LRU's job (see rowCache): access-order
        // eviction means a store touching its own entries keeps them
        // fresh, so no store self-evicts what this very call is about
        // to use. (The previous policy — drop the CURRENT path's
        // entries whenever the global cache was over 100k — made any
        // single store with >100k leaves purge its own cache at the
        // start of every call and permanently thrash.) An eviction is
        // a re-read, never a correctness risk: exactRows accumulates
        // as the walk goes, and callRows/callBytes are scalars.
        var budget = maxFooterReads
        var exactRows = 0L
        var unreadBytes = 0L
        // leaves measured by THIS call — the freshest (and eviction-
        // proof) extrapolation base; all are under cellPrefix by
        // construction of dirCells
        var callRows = 0L
        var callBytes = 0L
        var skippedFiles = 0L
        dirCells.foreach { case (dir, cell) =>
          val key = (path, dir, cell)
          val cached = ManifestLog.rowCache.get(key)
          if (cached != null) exactRows += cached._1
          else {
            val parts = leafFiles(dir, cell)
            if (parts.length <= budget) {
              budget -= parts.length
              val (rows, bytes) = Fs.footerRows(conf, parts)
              ManifestLog.rowCache.put(key, (rows, bytes))
              exactRows += rows
              callRows += rows; callBytes += bytes
            } else {
              unreadBytes += parts.map(_.getLen).sum
              skippedFiles += parts.length
            }
          }
        }
        // Fragmentation guard (VERDICT r10 #8): a first call against a
        // never-compacted million-file store extrapolates from a sliver
        // of its leaves — legal (the estimate converges over calls) but
        // a signal the store wants compaction far more than a better
        // estimate. One warn per (store, magnitude), not per call.
        // divide, don't multiply: 4 * an unbudgeted Long.MaxValue call
        // overflows negative and would warn on every healthy walk
        if (skippedFiles / 4 > math.max(1L, maxFooterReads)) {
          val mag = java.lang.Long.numberOfLeadingZeros(skippedFiles)
          if (ManifestLog.fragWarned.add((path, mag)))
            System.err.println(
              s"[manifest] $path: $skippedFiles parquet files skipped " +
                s"by the footer budget ($maxFooterReads) — heavily " +
                "fragmented store; run compactIfNeeded (see stats()) " +
                "so row counts stop extrapolating")
        }
        if (unreadBytes == 0L) exactRows
        else {
          // bytes/row preference order: leaves measured this call
          // (always the right kind), then THIS STORE's cached leaves
          // under the same prefix — a multi-kind table's kinds have
          // different schemas (posting rows ~3x smaller than doc
          // rows), so a cross-kind ratio would skew — then the whole
          // store as a last resort
          def measured(p: String): (Long, Long) = {
            var mRows = 0L; var mBytes = 0L
            ManifestLog.rowCache.forEach { (k, v) =>
              if (k._1 == path && k._3.startsWith(p)) {
                mRows += v._1; mBytes += v._2
              }
            }
            (mRows, mBytes)
          }
          val (mRows, mBytes) =
            if (callRows > 0 && callBytes > 0) (callRows, callBytes)
            else measured(cellPrefix) match {
              case (r, b) if r > 0 && b > 0 => (r, b)
              case _ => measured("")
            }
          if (mBytes == 0L || mRows == 0L)
            throw new java.io.IOException(
              s"rowCountBudgeted($cellPrefix, $maxFooterReads) under $path: " +
                "budget exhausted before any leaf was measured")
          exactRows + (unreadBytes.toDouble * mRows / mBytes).toLong
        }
    }

  /** Writer-unique data dir name for a commit targeting version `v`.
    * The version prefix is advisory (ordering comes from manifest
    * numbers alone); the nonce keeps two racing writers' files — and
    * the hidden in-progress files they rename into place — in disjoint
    * directories. `tag` marks the dir's ORIGIN (e.g.
    * "rebuild") so commit logic can recognize a racing writer of the
    * same kind by name where a set-diff cannot (two full rebuilds from
    * an empty snapshot look like plain appends to each other). */
  def newDataDirName(v: Long, tag: String = ""): String =
    f"v$v%010d-" + (if (tag.isEmpty) "" else tag + "-") +
      java.util.UUID.randomUUID().toString.take(8)

  /** [[newDataDirName]] for the version after the current one. */
  def freshDir(tag: String = ""): String =
    newDataDirName(currentVersion.getOrElse(0L) + 1, tag)

  def dataPath(dirName: String): Path = new Path(dataRoot, dirName)

  /** The data files of one (dir, cell) leaf; none when the leaf does
    * not exist. */
  def leafFiles(dir: String, cell: String): Array[FileStatus] = {
    val leaf = new Path(dataPath(dir), cell)
    if (!f.exists(leaf)) Array.empty
    else f.listStatus(leaf).filter(st => ManifestLog.isDataFile(st.getPath.getName))
  }

  /** Relative partition-leaf paths under `dir`, walking one directory
    * level per prefix (e.g. Seq("time_bucket=", "what=")), exactly as
    * the partitioned write escaped them — cell keys never need parsing,
    * only joining back onto a base path. */
  def listCells(dir: String, levelPrefixes: Seq[String]): Seq[String] = {
    def walk(p: Path, prefixes: Seq[String]): Seq[String] = prefixes match {
      case Seq() => Seq("")
      case pref +: rest =>
        f.listStatus(p).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(pref))
          .flatMap(st => walk(st.getPath, rest)
            .map(tail => if (tail.isEmpty) st.getPath.getName
              else st.getPath.getName + "/" + tail))
    }
    val base = dataPath(dir)
    if (!f.exists(base)) Nil else walk(base, levelPrefixes)
  }

  /** Snapshot read of exactly the cells in `entries` as ONE relation
    * over a fixed file list, [[listLeaves]]: a dir's superseded leaves
    * are never read, and no read fires a listing job whatever its leaf
    * count. Small files from every dir pack into the same scan tasks,
    * so a read's cost no longer grows with the number of live dirs. The
    * planner's partition filters prune leaves inside the index, and a
    * keyed read prunes `entries` to the cells its keys reach before that
    * (see [[RecordStore.recordsIn]]). Columns: `schema`'s data columns in
    * their order, then the cells' partition columns in path order (every
    * cell of one read must name the same columns); an empty `entries`
    * reads as an empty frame of `schema`. A batch-bounded read that ends
    * on the driver reads the same listing with [[DriverRead]] instead. */
  def readEntries(entries: Map[String, Seq[String]], schema: StructType)
      : DataFrame = {
    val index = listLeaves(entries, schema)
    val dataSchema = StructType(
      schema.filterNot(fld => index.partitionSchema.fieldNames.contains(fld.name)))
    Bridge.parquetScan(spark, index, dataSchema)
  }

  /** The file list of the cells in `entries`: each (dir, cell) leaf is
    * listed once on the driver (one `listStatus`, so a referenced leaf
    * that has vanished fails here, loudly) and becomes one partition
    * directory whose `k=v` values come from the cell name, typed from
    * `schema`. */
  private[store] def listLeaves(entries: Map[String, Seq[String]],
      schema: StructType): ManifestFileIndex = {
    val dirCells = entries.toSeq
      .flatMap { case (cell, dirs) => dirs.map(_ -> cell) }
      .distinct.sorted
    // "k1=v1/k2=v2" -> (k1, v1), (k2, v2): names unescaped, values as
    // written (the cast below unescapes them)
    def pairs(cell: String): Seq[(String, String)] =
      cell.split('/').toSeq.map { kv =>
        val (k, v) = kv.splitAt(kv.indexOf('='))
        ExternalCatalogUtils.unescapePathName(k) -> v.drop(1)
      }
    val partCols = dirCells.map(dc => pairs(dc._2).map(_._1)).distinct
    require(partCols.size <= 1,
      s"cells under $path name different partition columns: $partCols")
    val partitionSchema = StructType(partCols.flatten.map { c =>
      schema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"partition column $c is not in $schema")).copy(nullable = true)
    })
    val zone =
      java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val leaves = dirCells.map { case (dir, cell) =>
      val leaf = new Path(dataPath(dir), cell)
      val values = pairs(cell).zip(partitionSchema).map { case ((_, v), fld) =>
        PartitioningUtils.castPartValueToDesiredType(fld.dataType, v, zone)
      }
      ManifestFileIndex.Leaf(leaf, InternalRow.fromSeq(values),
        f.listStatus(leaf).filter(st => ManifestLog.isDataFile(st.getPath.getName)))
    }
    new ManifestFileIndex(leaves, partitionSchema)
  }

  def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Publish version `v` through the CAS seam; false = lost the race. */
  def tryCommit(v: Long, entries: Map[String, Seq[String]]): Boolean = {
    f.mkdirs(manifestsDir)
    val bytes = entries.toSeq.sortBy(_._1)
      .map { case (c, dirs) =>
        java.net.URLEncoder.encode(c, "UTF-8") + "=" + dirs.mkString(",")
      }
      .mkString("", "\n", "\n").getBytes("UTF-8")
    committer.putIfAbsent(manifestPath(v), bytes)
  }

  /** Resolve-mutate-commit with retry: applies `mutate` to the freshly
    * resolved entries each attempt (missing table = version 0, empty
    * entries) and commits the result as the next version. Use when the
    * DATA being committed does not depend on the base version (appends,
    * supersede-style compactions) — only the manifest is recomputed on
    * a lost race, never the data files. Returns the committed version.
    */
  def commitRetry(
      mutate: Map[String, Seq[String]] => Map[String, Seq[String]]): Long = {
    var attempts = 0
    while (attempts < 10) {
      attempts += 1
      val (v, entries) = resolve().getOrElse((0L, Map.empty[String, Seq[String]]))
      val next = mutate(entries)
      // no-op short-circuit: a mutate that yields everything (replay
      // race lost, fully-yielded compact, rebuild yield) returns its
      // input unchanged — publishing it anyway would burn a retention
      // slot and vacuum a REAL old snapshot out from under a pinned
      // time-travel reader, all for a byte-identical manifest
      if ((next eq entries) || next == entries) return v
      if (tryCommit(v + 1, next)) {
        vacuum()
        return v + 1
      }
    }
    throw new java.io.IOException(s"lost $attempts commit races under $path")
  }

  /** The append commit: name a fresh data dir (tagged `tag`), let
    * `write` fill it and return the cells it wrote, then drop the dir if
    * it wrote none, else add it to each of those cells' lists through
    * [[commitRetry]] ([[ManifestLog.appendMutate]]). An append's content
    * never depends on the base version, so a lost race recomputes only
    * the manifest. `skip` sees the entries at every commit attempt; when
    * it holds (a racing writer already committed the same content) the
    * dir is dropped and nothing is committed, and only then is the
    * result false. */
  def append(tag: String = "",
      skip: Map[String, Seq[String]] => Boolean = _ => false)(
      write: String => Seq[String]): Boolean = {
    val dir = freshDir(tag)
    val cells = write(dir)
    if (cells.isEmpty) {
      f.delete(dataPath(dir), true)
      return true
    }
    @volatile var skipped = false
    commitRetry { current =>
      skipped = skip(current)
      if (skipped) current else ManifestLog.appendMutate(cells, dir)(current)
    }
    if (skipped) f.delete(dataPath(dir), true)
    !skipped
  }

  /** Compact fragmented cells (OPTIMIZE on Delta/Iceberg): the current
    * snapshot's cells holding more than `filesPerCell` data files are
    * handed to `rewrite` with a fresh `compact` data dir to write them
    * into, which [[commitCompaction]] then commits. Readers concurrent
    * with it keep resolving complete snapshots (old manifests and their
    * dirs survive `keepVersions` commits). Cost follows fragmented
    * cells, not table size. Returns the number of cells this call
    * rewrote: 0 when nothing is fragmented or a racing compaction took
    * every cell first. */
  def compact(filesPerCell: Int)(
      rewrite: (Map[String, Seq[String]], String) => Unit): Int = {
    require(filesPerCell >= 1, "filesPerPartition must be >= 1")
    val snapshot = resolve() match {
      case Some((_, entries)) => entries
      case None => return 0
    }
    val fragmented = snapshot.filter { case (cell, dirs) =>
      dirs.map(leafFiles(_, cell).length).sum > filesPerCell
    }
    if (fragmented.isEmpty) return 0
    val dir = freshDir("compact")
    rewrite(fragmented, dir)
    fragmented.size - commitCompaction(snapshot, fragmented.keySet, dir).size
  }

  /** The compaction commit: `cells`, as listed in `snapshot`, now point
    * at `dir` ([[ManifestLog.compactMutate]]: a cell a racing compaction
    * already superseded yields, appends that landed since are kept), and
    * `dir` is deleted when every cell yielded. Returns the yielded
    * cells. */
  def commitCompaction(snapshot: Map[String, Seq[String]],
      cells: Set[String], dir: String): Set[String] = {
    @volatile var yielded = Set.empty[String]
    commitRetry { current =>
      val (entries, y) = ManifestLog.compactMutate(snapshot, cells, dir)(current)
      yielded = y
      entries
    }
    if (yielded.size == cells.size) f.delete(dataPath(dir), true)
    yielded
  }

  /** The shared compaction schedule: run `compact` only once live data
    * dirs exceed `maxLiveDirs` (each commit adds one, and a snapshot
    * read lists and opens one file per cell per live dir). Cheap to call
    * after every commit; returns what `compact` returns, else 0. */
  def compactIfNeeded(maxLiveDirs: Int)(compact: => Int): Int = {
    require(maxLiveDirs >= 1, "maxLiveDirs must be >= 1")
    if (storeStats().liveDirs > maxLiveDirs) compact else 0
  }

  /** Drop manifests beyond the `keepVersions` most recent, then the
    * data dirs ONLY those expired manifests referenced (minus any still
    * referenced by a retained manifest). Deleting by expired-manifest
    * reference — instead of sweeping every dir no retained manifest
    * names — is what makes concurrent writers safe: an in-flight
    * writer's freshly-written dir is referenced by NO manifest yet, and
    * a delete-the-unreferenced sweep from a racing writer would delete
    * its files before its commit lands (caught by the racing-writers
    * spec). The cost: a dir whose writer
    * crashed before committing is never referenced and so never swept —
    * bounded by crash count; [[vacuumOrphans]] reclaims them offline. */
  def vacuum(): Unit = {
    val vs = versions
    val retained = vs.takeRight(keepVersions)
    val expired = vs.dropRight(keepVersions)
    if (expired.nonEmpty) {
      // a retained manifest that cannot be read ABORTS the vacuum: its
      // data dirs belong to the live 'alive' set, and silently treating
      // a transient read failure as "references nothing" would let the
      // expired-set sweep delete data the current snapshot still needs.
      // NonFatal, not just IOException: a corrupt line also throws
      // NumberFormatException, and any unreadable RETAINED manifest
      // must abort the vacuum, never fail the already-landed commit
      val alive =
        try retained.flatMap(readManifest(_).values.flatten).toSet
        catch { case scala.util.control.NonFatal(_) => return }
      // an unreadable EXPIRED manifest is merely skipped: its dirs and
      // its file stay for the next vacuum, which is safe (never deletes
      // too much) and self-healing (retried every commit)
      val expiredRefs = expired.map(v =>
        v -> scala.util.Try(readManifest(v)).toOption)
      val dead = expiredRefs.flatMap(_._2).flatMap(_.values.flatten)
        .toSet -- alive -- ManifestLog.Protected
      // data before manifests: a crash in between re-runs idempotently
      dead.foreach(d => f.delete(dataPath(d), true))
      expiredRefs.collect { case (v, Some(_)) => v }
        .foreach(v => f.delete(manifestPath(v), false))
    }
  }

  /** Offline reclamation of crashed-writer leftovers: delete data dirs
    * under `data/` that (a) no EXISTING manifest references and (b) were
    * last modified more than `olderThanMs` ago. The age guard is what
    * keeps an in-flight writer safe — its dir is unreferenced by design
    * until its commit lands, but it is also FRESH (a directory's mtime
    * updates as its writer creates and renames its files), so
    * any threshold comfortably above a write's duration (hours) never
    * touches it. Run from a maintenance job, not concurrently with a
    * backlogged writer whose single write outlives the threshold.
    * Returns the reclaimed dir names. */
  def vacuumOrphans(olderThanMs: Long): Seq[String] = {
    if (!f.exists(dataRoot)) return Nil
    // ANY unreadable manifest aborts the sweep: treating a transient
    // read failure as "references nothing" would make the LIVE
    // snapshot's dirs look orphaned — and the age guard cannot save
    // them, because committed dirs are old by construction
    val referenced =
      try versions.flatMap(readManifest(_).values.flatten).toSet
      catch { case scala.util.control.NonFatal(_) => return Nil }
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = f.listStatus(dataRoot).toSeq
      .filter(st => st.isDirectory &&
        !referenced.contains(st.getPath.getName))
      .filter { st =>
        // object stores report SYNTHETIC directory mtimes (S3A: often
        // 0), so the dir entry alone cannot prove age — take the newest
        // timestamp across the dir AND every file under it (an
        // in-flight writer's files have fresh mtimes everywhere).
        // An age that still reads 0 is UNKNOWN, not old: never delete
        // on unknown age.
        val newest = newestMtimeUnder(st)
        newest > 0L && newest < cutoff
      }
      .map(_.getPath.getName)
    orphans.foreach(d => f.delete(dataPath(d), true))
    orphans
  }

  /** Newest modification time of a dir and everything under it; 0 when
    * nothing carries a real timestamp, Long.MaxValue (= "fresh, skip")
    * when the listing fails mid-walk — a dir vanishing under the lister
    * is being touched by SOMEONE and must not be swept. */
  private def newestMtimeUnder(
      st: org.apache.hadoop.fs.FileStatus): Long =
    try {
      var newest = st.getModificationTime
      val it = f.listFiles(st.getPath, true)
      while (it.hasNext)
        newest = math.max(newest, it.next().getModificationTime)
      newest
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
}

/** What every store on a [[ManifestLog]] passes through from it
  * unchanged. */
trait ManifestedStore {
  protected def log: ManifestLog

  /** true once any version has been committed. */
  def exists: Boolean = log.hasAny

  /** Offline reclamation of data dirs left by writers that crashed
    * between data write and manifest commit; see
    * [[ManifestLog.vacuumOrphans]]. */
  def vacuumOrphans(olderThanMs: Long): Seq[String] =
    log.vacuumOrphans(olderThanMs)
}

/** The fixed file list behind [[ManifestLog.readEntries]] and
  * [[DriverRead]]: one partition directory per (data dir, cell) leaf,
  * listed when the read is built. Committed data dirs are write-once,
  * so the list never goes stale and [[refresh]] has nothing to do.
  * Partition filters are applied here:
  * the planner does not re-apply partition-only filters above the scan. */
private[store] final class ManifestFileIndex(
    val leaves: Seq[ManifestFileIndex.Leaf],
    override val partitionSchema: StructType) extends FileIndex {

  override val rootPaths: Seq[Path] = leaves.map(_.path)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep = partitionFilters.reduceOption(And).map { cond =>
      Predicate.createInterpreted(cond.transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
    }
    leaves.filter(l => keep.forall(_.eval(l.values)))
      .map(l => PartitionDirectory(l.values, l.files))
  }

  override def inputFiles: Array[String] =
    leaves.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = leaves.map(_.files.map(_.getLen).sum).sum

  // the same leaves hold the same files: equal indexes let the planner
  // reuse an exchange or a cached plan across two reads of one snapshot
  private lazy val rootSet = rootPaths.toSet

  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => rootSet == m.rootSet
    case _ => false
  }

  override def hashCode(): Int = rootSet.hashCode()
}

private[store] object ManifestFileIndex {
  final case class Leaf(path: Path, values: InternalRow,
      files: Array[FileStatus])
}

object ManifestLog {
  /** Dir names vacuum must never delete as a unit: `dataPath("")` is
    * the whole `data/` root. */
  private[store] val Protected: Set[String] = Set("")

  /** Commit transform for an append that wrote `cells` into `dirName`:
    * the new dir joins each touched cell's list; everything else rides
    * along. */
  private[store] def appendMutate(cells: Seq[String], dirName: String)(
      entries: Map[String, Seq[String]]): Map[String, Seq[String]] =
    entries ++ cells.map(c =>
      c -> (entries.getOrElse(c, Seq.empty) :+ dirName))

  /** Commit transform for a compaction that rewrote `fragmented` cells
    * (their dir lists as of `snapshot`) into `newDir`. A cell some of
    * whose snapshot dirs are no longer referenced was superseded by a
    * RACING compaction — superseding it again would double its rows
    * (both rewrites contain them), so that cell YIELDS to the current
    * state and our rewrite of it goes unreferenced. Dirs added to a
    * cell after the snapshot are concurrent appends: their rows are not
    * in our rewrite, so they are preserved alongside it. Returns (new
    * entries, yielded cells). Pure — unit-tested directly against
    * crafted race states. */
  private[store] def compactMutate(
      snapshot: Map[String, Seq[String]],
      fragmented: Set[String],
      newDir: String)(current: Map[String, Seq[String]])
      : (Map[String, Seq[String]], Set[String]) = {
    val yielded = fragmented.filter(c =>
      snapshot.getOrElse(c, Seq.empty)
        .diff(current.getOrElse(c, Seq.empty)).nonEmpty)
    val updates = (fragmented -- yielded).map { c =>
      c -> (newDir +: current.getOrElse(c, Seq.empty)
        .diff(snapshot.getOrElse(c, Seq.empty)))
    }
    (current ++ updates, yielded)
  }

  /** Whether a leaf's file named `name` is data: a `.parquet` name that
    * is not hidden. Names starting with `_` or `.` are skipped, as
    * Spark's own file listing skips them, so a writer's in-progress
    * file ([[DriverWrite]]) is never read or counted. */
  private[graft] def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** Filesystem-level table economics; see [[ManifestLog.storeStats]]. */
  final case class StoreStats(liveDirs: Int, cells: Int, files: Long,
      bytes: Long)

  /** Default per-call footer-read budget for heuristic callers (the
    * bloom ratio gates): plenty for a healthy compacted store (a
    * steady-state micro-batch reads ~1 new dir), bounding only the
    * pathological first contact with a heavily fragmented one. A
    * work-bound knob like `bloomMaxKeys`, not a data constant. */
  val DefaultFooterBudget: Long = 4096L

  /** (store path, skip-count magnitude) pairs already warned about —
    * dedups the fragmentation hint so a hot ratio-gate loop doesn't
    * spam one line per call; a store that keeps fragmenting re-warns
    * at each magnitude step. */
  private val fragWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  private val RowCacheMax = 150000

  /** (table path, dir, cell) -> (footer row sum, parquet bytes). Safe
    * to share JVM-wide because committed data dirs are write-once.
    * Bounded as an ACCESS-ORDER LRU (~100 B/entry ⇒ ~15 MB cap): the
    * eldest entry across ALL stores goes first, so a store re-touching
    * its own entries keeps them, and two stores that together overflow
    * the cap churn only the overflow margin — never their whole
    * working sets. All access paths (get/put/forEach) go through the
    * synchronized wrapper, which serializes LinkedHashMap's
    * access-order mutation on get. */
  private val rowCache: java.util.Map[(String, String, String), (Long, Long)] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, String, String), (Long, Long)](
          1 << 12, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, String, String), (Long, Long)])
            : Boolean = size() > RowCacheMax
      })
}
