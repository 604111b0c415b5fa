package graft.store

import graft.SparkSuite
import org.apache.hadoop.fs.Path

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
}
