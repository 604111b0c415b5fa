package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit CAS seam: atomically publish `bytes` at `target` iff no
  * file with that name exists yet, returning whether THIS caller won.
  *
  * Every [[ManifestLog]] (so every versioned store) funnels its
  * manifest commit through this trait, so
  * the concurrency story lives in exactly one place. The reference gets
  * the same guarantee from a DynamoDB conditional put
  * (`storage.py:78-137`: `put_item` with an attribute-not-exists
  * condition); Delta/Iceberg get it from a LogStore / catalog swap.
  *
  * Contract (exercised by CommitterContractSpec for every impl):
  *   - at most one of N concurrent `putIfAbsent` calls for the same
  *     target returns true;
  *   - after a winning call, the target holds exactly the winner's bytes;
  *   - a losing call leaves no partial or temp file behind that a
  *     manifest listing would pick up.
  */
trait ManifestCommitter {
  def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean
}

object ManifestCommitter {
  /** Write `bytes` to a writer-unique dot-temp beside `target` and return
    * it. The nonce keeps racing writers from overwriting each other's
    * staged bytes; the leading dot keeps the temp out of every listing
    * that matches manifest names. */
  private[store] def stage(f: FileSystem, target: Path,
      bytes: Array[Byte]): Path = {
    val tmp = new Path(target.getParent,
      "." + target.getName + "." +
        java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    tmp
  }
}

/** Default committer: write to a writer-unique dot-temp, then, under a
  * JVM-wide per-table lock, publish it with
  * `!exists(target) && rename(tmp, target)`.
  *
  * Two hazards this closes (one found by review, one by the racing-
  * writers spec):
  *   - the temp name must carry a nonce: a shared `.vN.txt.tmp` lets
  *     racing writers overwrite each other's staged content, so the
  *     winner could publish the LOSER's entries;
  *   - `FileSystem.rename` on the local filesystem is POSIX rename(2),
  *     which silently REPLACES an existing destination. The lock makes
  *     the exists check and the rename one step for every writer in
  *     this JVM, which is what local tests and single-driver
  *     deployments race through.
  *
  * What the publish guarantees across processes depends on the
  * filesystem:
  *   - HDFS: `rename` refuses an existing destination file atomically,
  *     so the publish is a true CAS;
  *   - `file:`: check-then-act, so two driver JVMs can both win. No
  *     local API does better: Hadoop's fail-if-exists rename
  *     (`Rename.NONE`) on `file:` is the same status probes followed by
  *     rename(2), and starts `readlink` processes besides;
  *   - object stores (s3a): check-then-act over a copy. Such
  *     deployments should wire a [[ConditionalPutCommitter]] instead,
  *     which is exactly why this seam exists.
  */
final class RenameCommitter(spark: SparkSession, tablePath: String)
    extends ManifestCommitter {

  private lazy val f = Fs.fs(spark, tablePath)

  def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = ManifestCommitter.stage(f, target, bytes)
    // delete the staged temp on EVERY non-success path, including a
    // rename that throws (a transient IOException used to propagate
    // past the cleanup, leaving one orphaned .tmp per retried attempt
    // that nothing ever sweeps — the trait contract says no temp file
    // may be left behind)
    val ok =
      try RenameCommitter.tableLock(tablePath).synchronized {
        !f.exists(target) && f.rename(tmp, target)
      } catch {
        case e: Throwable =>
          try f.delete(tmp, false)
          catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    if (!ok) f.delete(tmp, false)
    ok
  }
}

object RenameCommitter {
  /** JVM-wide per-table commit locks: serialize in-process writers so
    * the commit CAS holds even on filesystems whose rename silently
    * overwrites (local, object stores). */
  private val tableLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  private[store] def tableLock(path: String): Object =
    tableLocks.getOrElseUpdate(path, new Object)
}

/** External conditional-put arbiter — the pluggable mirror of the
  * reference's DynamoDB conditional put (`storage.py:78-137`). A real
  * deployment backs this with any store offering put-if-absent
  * (DynamoDB, etcd, a SQL row with a unique key); the table code never
  * needs to know which.
  */
trait ConditionalPut {
  /** Record (`key`, `value`) iff `key` absent; true when THIS caller
    * created it. */
  def putIfAbsent(key: String, value: String): Boolean

  /** The value recorded for `key`, if any. Lets a committer COMPLETE a
    * commit whose winner crashed between winning the CAS and publishing
    * the manifest file — without this, a claimed-but-unpublished version
    * would wedge the table forever (every later writer targets the same
    * version, loses the CAS, and finds nothing to resolve past). */
  def get(key: String): Option[String]
}

/** Process-local arbiter for tests and the two-simulated-processes
  * contract suite: a ConcurrentHashMap's putIfAbsent is a true CAS, so
  * this behaves exactly like the DynamoDB table it stands in for —
  * including across simulated "processes" that share nothing else. */
final class InMemoryConditionalPut extends ConditionalPut {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def putIfAbsent(key: String, value: String): Boolean =
    entries.putIfAbsent(key, value) == null
  def get(key: String): Option[String] = Option(entries.get(key))
  def contains(key: String): Boolean = entries.containsKey(key)
}

/** Object-store committer: the external CAS decides the winner BEFORE
  * any file appears at the target name, so it is safe on stores with no
  * atomic or fail-if-exists rename at all (plain S3). The CAS entry
  * carries the manifest CONTENT (like the reference's DynamoDB item,
  * where the conditional put IS the publish, `storage.py:78-137`): the
  * winner publishes the file afterwards, and if it crashes in between,
  * the next loser that finds the version claimed-but-unpublished
  * completes the publish from the CAS value — the table can never wedge
  * on a half-landed commit. Losers never write their OWN bytes to the
  * target, so readers can never observe a losing manifest. The CAS key
  * is the fully-qualified target name: one key per manifest version per
  * table. */
final class ConditionalPutCommitter(
    spark: SparkSession, tablePath: String, cas: ConditionalPut)
    extends ManifestCommitter {

  private lazy val f = Fs.fs(spark, tablePath)

  def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean = {
    val encoded = java.util.Base64.getEncoder.encodeToString(bytes)
    if (cas.putIfAbsent(target.toString, encoded)) {
      publish(target, bytes)
      true
    } else {
      // lost the CAS — but if the winner crashed before publishing,
      // complete its commit from the recorded value (idempotent: every
      // completer writes the same bytes). Best-effort: a failed
      // recovery must not turn a routine lost race into an error —
      // every future loser retries it until one lands, which is what
      // un-wedges the table
      if (!f.exists(target))
        cas.get(target.toString).foreach { v =>
          scala.util.Try(
            publish(target, java.util.Base64.getDecoder.decode(v)))
            .failed.foreach(e =>
              // surfaced, not thrown: the commit loop keeps retrying
              // recovery, but a persistent publish failure must be
              // diagnosable — without this line it only ever shows as
              // "lost N commit races"
              System.err.println(
                s"[graft] crashed-winner recovery of $target failed: $e"))
        }
      false
    }
  }

  /** Stage to a writer-unique dot-temp and promote with a plain rename:
    * on filesystems with progressive visibility (local, HDFS) a direct
    * create+write would let a reader list a half-written manifest; on
    * object stores the PUT itself is all-or-nothing. A failed rename is
    * fine iff the target exists (a concurrent completer landed the same
    * bytes first). */
  private def publish(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = ManifestCommitter.stage(f, target, bytes)
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      if (!f.exists(target))
        throw new java.io.IOException(
          s"own the commit CAS for $target but cannot publish it")
    }
  }
}
