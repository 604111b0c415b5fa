package graft.store

import graft.{ProcessStarts, SparkSuite}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** [[Fs.ensureMarker]] race behavior (ADVICE r10): a concurrent opener can
  * observe a marker created-but-not-yet-written; reading "" must be
  * treated as the race it is, not returned for callers to parse. */
class FsSpec extends SparkSuite {

  private def p(name: String) = new Path(tmpDir("fs-" + name), "_marker")

  test("ensureMarker returns existing content, creates when absent") {
    val f = Fs.fs(spark, tmpDir("fs-basic"))
    val m = p("basic")
    assert(Fs.ensureMarker(f, m, "42") === "42")
    // second caller with a different want gets the stored value back
    assert(Fs.ensureMarker(f, m, "99") === "42")
  }

  test("an empty marker mid-create is retried, not returned as \"\"") {
    val f = Fs.fs(spark, tmpDir("fs-race"))
    val m = p("race")
    // simulate the concurrent creator's create→write window: the file
    // exists and is empty now; the "writer" lands the bytes shortly
    f.create(m, false).close()
    // short delay: the retry budget (~750 ms of sleeps) must dwarf the
    // writer's latency even on a fully loaded box — this test flaked
    // once at 60 ms under a parallel full-suite run
    val writer = new Thread(() => {
      Thread.sleep(10)
      val out = f.create(m, true)
      try out.write("7".getBytes("UTF-8")) finally out.close()
    })
    writer.start()
    try assert(Fs.ensureMarker(f, m, "13") === "7",
      "the late-written value must be read; \"\" would have failed " +
        "callers' toInt")
    finally writer.join()
  }

  test("a marker that stays empty fails loudly after the attempt budget") {
    val f = Fs.fs(spark, tmpDir("fs-empty"))
    val m = p("empty")
    f.create(m, false).close() // never written: corrupt, not racing
    val e = intercept[java.io.IOException] { Fs.ensureMarker(f, m, "1") }
    assert(e.getMessage.contains("marker"))
  }

  test("the file: binding sets Hadoop's mode bits without starting a " +
    "process, refuses the sticky bit, and leaves Spark's instance alone") {
    val dir = tmpDir("fs-mode")
    // Spark's own lookup, cached first, is Hadoop's stock class
    val sparkFs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val f = Fs.fs(spark, dir)
    assert(f.isInstanceOf[NioLocalFileSystem], f.getClass)
    assert(!sparkFs.isInstanceOf[NioLocalFileSystem], sparkFs.getClass)
    assert(!new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem])

    val p = new Path(dir, "sub/x")
    def mode(rel: String): String = PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(dir, rel)))
    val (_, starts) = ProcessStarts.on {
      f.create(p, false).close()
      // Hadoop's defaults under its 022 umask, on the file, its checksum
      // sidecar and the dir the create made
      assert(mode("sub/x") === "rw-r--r--")
      assert(mode("sub/.x.crc") === "rw-r--r--")
      assert(mode("sub") === "rwxr-xr-x")
      Seq("640" -> "rw-r-----", "0" -> "---------", "777" -> "rwxrwxrwx",
        "421" -> "r---w---x").foreach { case (octal, want) =>
        f.setPermission(p, new FsPermission(Integer.parseInt(octal, 8).toShort))
        assert(mode("sub/x") === want, octal)
      }
    }
    assert(starts === Nil)
    val sticky = new FsPermission(FsAction.ALL, FsAction.ALL, FsAction.ALL, true)
    val e = intercept[UnsupportedOperationException](f.setPermission(p, sticky))
    assert(e.getMessage.contains("1777"), e.getMessage)
    assert(mode("sub/x") === "r---w---x")
  }
}
