package graft.tools

import graft.SparkSuite
import graft.store.LatestStore

/** `Cli push` ingests synchronously into the record table AND the latest
  * table; `Cli latest` then serves the pushed file from the latest
  * table's top-1 lookup. */
class CliPushSpec extends SparkSuite {

  test("push through the CLI path, then read it back through latest") {
    val root = tmpDir("graft-cli-push")
    val file = java.nio.file.Files.createTempFile("graft-cli-push", ".log")
    java.nio.file.Files.writeString(file, "GET /index.html 200\n")
    val url = Cli.push(spark, root, file.toString,
      Map("what" -> "weblog", "where" -> "web01"))
    val table = new LatestStore(spark, s"$root/latest")
    assert(table.exists, "push must maintain the latest table")
    assert(table.latest.count() === 1L)
    val hit = Cli.latest(spark, root, "weblog", "web01", lookback = 14)
    assert(hit.map(_.url) === Some(url))
    assert(hit.map(_.metadata.where) === Some("web01"))
    assert(Cli.latest(spark, root, "weblog", "web02", lookback = 14) === None)
  }
}
