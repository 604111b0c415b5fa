package graft.obs

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite
import graft.operators.{Checkpoints, GraphOps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The collector's attribution, its neutrality (no job of its own) and its
  * output shape, on the shared test session. */
class ObsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val collector = Obs.collector(spark)
  private def sc = spark.sparkContext

  /** Source file names of the repo: a call site naming one is ours. */
  private lazy val sources: Set[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
    try walk.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".scala")).toSet
    finally walk.close()
  }
  private val Site = """.* at (\w+\.scala):\d+""".r
  private val Operator = """[A-Z]\w*\.\w+""".r

  test("every job of a pageRank run in a scope names an operator or a " +
    "graft call site") {
    val nodes = (1L to 40L).toDF("id")
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val s = collector.measure(GraphOps.pageRank(nodes, edges, iters = 2))(
      _.collect())
    assert(s.jobs.nonEmpty)
    s.jobs.foreach { j =>
      assert(j.op.nonEmpty)
      val named = j.op match {
        case Operator() => true
        case Site(file) => sources(file)
        case _ => false
      }
      assert(named, s"job names neither an operator nor a graft call site: ${j.op}")
    }
    assert(s.jobs.exists(_.op.contains("GraphOps.scala:")),
      "pageRank's own count runs inside the scope")
    Obs.release(spark)
  }

  test("a pin inside a tagged block restores the outer tag; an action " +
    "after a pin carries none") {
    val s = collector.measure(()) { _ =>
      Obs.tagged(sc, "Outer.op") {
        val p = Checkpoints.pin(spark.range(0, 100, 1, 2).toDF("id"))
        assert(sc.getLocalProperty(Obs.OpKey) === "Outer.op")
        p.collect()
      }
      assert(sc.getLocalProperty(Obs.OpKey) === null)
      Checkpoints.pin(spark.range(0, 10, 1, 2).toDF("id"))
      spark.range(0, 10, 1, 2).collect()
    }
    val ops = s.jobs.map(_.op)
    assert(ops.size === 4, ops)
    assert(ops(0).startsWith("ObsSpec."), "the pin names its caller")
    assert(ops(1) === "Outer.op", "the outer tag is back after the pin")
    assert(ops(2).startsWith("ObsSpec."))
    ops(3) match {
      case Site(file) => assert(file === "ObsSpec.scala")
      case other => fail(s"untagged job should name its call site: $other")
    }
    Obs.release(spark)
  }

  test("a plain listener counts the same jobs with and without the " +
    "collector measuring the query") {
    val nodes = (1L to 60L).toDF("id")
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    def frame() = GraphOps.pageRank(nodes, edges, iters = 2)
      .groupBy(($"rank_micro" % 3).as("k")).count()
    def run(): Unit = frame().write.mode("overwrite").format("noop").save()
    val jobs = new AtomicInteger
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def settled(): Int = { collector.drain(); jobs.get }
    sc.addSparkListener(plain)
    try {
      run() // warm: one-time caches
      Obs.release(spark)
      val before = settled()
      run()
      Obs.release(spark)
      val alone = settled() - before
      val s = collector.measure(frame())(
        _.write.mode("overwrite").format("noop").save())
      Obs.release(spark)
      val measured = settled() - before - alone
      assert(alone > 0)
      assert(measured === alone, "the collector fired or hid a job")
      assert(s.jobs.size === alone)
    } finally sc.removeSparkListener(plain)
  }

  test("the scope JSON parses and has the fixed key set") {
    import org.json4s._
    val s = collector.measure(spark.range(0, 1000, 1, 4).toDF("id")
      .groupBy(($"id" % 7).as("k")).count())(_.collect())
    val v = org.json4s.jackson.JsonMethods.parse(s.json)
    val keys = v match {
      case JObject(kvs) => kvs.map(_._1).toSet
      case other => fail(s"not an object: $other")
    }
    assert(keys === Set("construct_ms", "plan_ms", "exec_ms", "jobs",
      "stages", "task_ms", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes", "exchanges", "scans", "residual_blocks", "per_job"))
    assert(v \ "jobs" === JInt(s.jobs.size))
    assert(s.exchanges >= 1, "the aggregate's shuffle is in the final plan")
    assert(s.shuffleWriteBytes > 0 && s.shuffleReadBytes > 0)
    assert(s.planMs > 0)
    v \ "per_job" match {
      case JArray(js) =>
        assert(js.size === s.jobs.size)
        js.foreach(j => assert((j \ "op").isInstanceOf[JString]))
      case other => fail(s"per_job is not an array: $other")
    }
  }

  test("residual blocks count an unreleased pin and read 0 after release") {
    Obs.release(spark)
    val s = collector.measure(
      Checkpoints.pin(spark.range(0, 1000, 1, 4).toDF("id")))(_ => ())
    assert(s.residualBlocks === 4, "one block per pinned partition")
    Obs.release(spark)
    assert(collector.residualBlocks() === 0)
  }
}
