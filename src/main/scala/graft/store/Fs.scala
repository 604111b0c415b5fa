package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import java.nio.file.attribute.PosixFilePermission

/** Hadoop-FileSystem helpers for the store layer: every table mutation
  * goes through the FS API so the same code runs on `file://`, HDFS,
  * and object-store connectors — `java.io.File` only works on a local
  * disk and its `renameTo` fails silently.
  *
  * Durability now comes from the manifest-commit protocol
  * ([[ManifestLog]] + [[ManifestCommitter]]): data dirs are immutable
  * once committed (garbage-collected later, never renamed); the only
  * renames are a file's, from its hidden in-progress name inside its
  * writer's own uncommitted dir ([[DriverWrite]]), and the manifest's
  * own rename-as-commit — the layout that stays correct even on object
  * stores without atomic directory operations.
  *
  * `file:` is bound to [[NioLocalFileSystem]] in every conf this object
  * hands out ([[hadoopConf]]). Without the native libhadoop, Hadoop's
  * own local filesystem sets the mode of every file, `.crc` sidecar and
  * dir it creates by starting a `chmod` process (about 7.5 ms each on a
  * 4-core Linux VM, some 45 per ingest batch); the binding sets the same
  * bits in-process and changes nothing else. Spark's own writes resolve
  * `file:` through its cached instance and are not covered.
  */
private[graft] object Fs {

  /** The session's Hadoop conf with `file:` bound to
    * [[NioLocalFileSystem]]. The FileSystem cache is keyed by scheme,
    * authority and user, not by implementation, so the binding's cache
    * is switched off: a cached lookup would return whichever `file:`
    * instance Spark created first. */
  def hadoopConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(hadoopConf(spark))

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Persist-or-validate a store's layout parameters: `want` is stored
    * in `marker` by the first writer, and a store opened with any other
    * value fails with `mismatch(stored)` — the stored layout is only
    * consultable with the parameters it was written under.
    * `createIfMissing = false` is the read-only caller's form: a probe
    * of a virgin store must not pin ITS parameters as the store's
    * identity (that would lock out the tuned writer that arrives later)
    * and must work on a read-only filesystem. */
  def requireMarker(f: FileSystem, marker: Path, want: String,
      createIfMissing: Boolean = true)(mismatch: String => String): Unit = {
    val stored =
      if (createIfMissing) ensureMarker(f, marker, want)
      else readMarker(f, marker).getOrElse(want)
    require(stored == want, mismatch(stored))
  }

  /** Read-or-create a small exclusive marker, returning the stored
    * content (existing, or `want` if this caller created it). Two racing
    * creators resolve through the exclusive create (the loser re-reads
    * the winner's value). */
  def ensureMarker(f: FileSystem, marker: Path, want: String): String =
    markerLoop(f, marker, Some(want)).get

  /** Read an existing marker WITHOUT creating it; None when it does not
    * exist. */
  def readMarker(f: FileSystem, marker: Path): Option[String] =
    markerLoop(f, marker, None)

  /** The one read-with-retry loop behind [[ensureMarker]] (`create` set)
    * and [[readMarker]]. An empty read is a concurrent creator's
    * create→write window (create() makes the path visible before the
    * bytes land), not a value, so it is retried; a marker that is STILL
    * empty after 5 looks is corrupt, and a PERSISTENT create failure
    * (read-only filesystem, permissions) surfaces after as many
    * attempts, both as an IOException. */
  private def markerLoop(f: FileSystem, marker: Path,
      create: Option[String]): Option[String] = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      if (f.exists(marker)) {
        val in = f.open(marker)
        val stored = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim
        finally in.close()
        if (stored.nonEmpty) return Some(stored)
        // 50/100/150/200/250 ms: ~750 ms of total patience for the
        // concurrent creator — a loaded box can delay its write thread
        // well past the first retry, and giving up early turns a benign
        // race into a spurious open failure
        Thread.sleep(50L * attempts)
      } else create match {
        case None => return None
        case Some(want) =>
          try {
            val out = f.create(marker, false)
            try out.write(want.getBytes("UTF-8")) finally out.close()
            return Some(want)
          } catch { case e: java.io.IOException => if (attempts >= 5) throw e }
      }
    }
    throw new java.io.IOException(
      s"cannot read or create marker $marker (empty or unwritable after 5 attempts)")
  }

  /** Sum of parquet footer record counts + file bytes for `parts`,
    * read driver-side on the common pool — footer opens are IO-bound
    * round trips (~ms each), so the walk is ~cores× parallel. The one
    * footer-reading loop in the codebase ([[ManifestLog.rowCount]] and
    * [[graft.operators.CellIndex]]'s `warm` both ride it). */
  def footerRows(conf: org.apache.hadoop.conf.Configuration,
      parts: Array[org.apache.hadoop.fs.FileStatus]): (Long, Long) = {
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    java.util.Arrays.stream(parts).parallel().forEach { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try rows.addAndGet(r.getRecordCount) finally r.close()
      bytes.addAndGet(st.getLen)
    }
    (rows.get(), bytes.get())
  }
}

/** Hadoop's checksummed local filesystem (the `file:` default, `.crc`
  * sidecars and all) over [[NioRawLocalFileSystem]]. */
private[graft] final class NioLocalFileSystem
    extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local filesystem with one change: `setPermission` sets
  * the mode through `java.nio` instead of a `chmod` process (Hadoop's
  * path whenever the native libhadoop is not loaded). The bits are the
  * ones Hadoop would pass to `chmod`. Anything beyond the nine rwx bits
  * (the sticky bit) has no `java.nio` form and no store path asks for
  * it, so it is refused rather than dropped. */
private[graft] final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0)
      throw new UnsupportedOperationException(
        f"cannot set mode $mode%04o on $p: only the rwx bits are supported")
    // PosixFilePermission's order, OWNER_READ to OTHERS_EXECUTE, is the
    // mode's bit order from 0400 down to 0001
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) bits.add(b)
    }
    java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
  }
}
