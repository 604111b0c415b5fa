package graft.perfbench

import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.collection.mutable
import scala.util.Random

/** A seeded `documents` table with the columns and value shapes of the
  * battery's test table: documents of 8 to 90 words drawn from a small
  * vocabulary (so word overlaps between documents are common), some with
  * a passage copied verbatim from an earlier one, a language and a source
  * label. */
object BatteryGen {
  private val Vocab = IndexedSeq("alpha", "bravo", "cargo", "delta", "echo",
    "field", "grain", "harbor", "index", "joint", "kernel", "ledger",
    "matrix", "node", "offset", "packet", "query", "record", "shard", "token",
    "union", "vector", "window", "xor", "yield", "zone", "a", "the", "of",
    "and", "to", "in", "is", "it", "for", "on", "batch", "stream", "merge",
    "split")
  private val Langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")

  def write(spark: SparkSession, seed: Long, dir: String, docs: Int): Unit = {
    import spark.implicits._
    val rng = new Random(seed)
    val words = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val ds = (0 until docs).map { i =>
      val own = IndexedSeq.fill(8 + rng.nextInt(83))(Vocab(rng.nextInt(Vocab.size)))
      // every sixth document (after the first 20) carries a verbatim
      // passage of 12 to 24 words copied from an earlier one
      val ws =
        if (i < 20 || i % 6 != 0) own
        else {
          val src = words(rng.nextInt(i))
          val len = math.min(src.size, 12 + rng.nextInt(13))
          val from = rng.nextInt(src.size - len + 1)
          val at = rng.nextInt(own.size + 1)
          own.take(at) ++ src.slice(from, from + len) ++ own.drop(at)
        }
      words += ws
      val text = ws.mkString(" ")
      (i.toLong, text, Langs(rng.nextInt(Langs.size)), s"src${rng.nextInt(20)}", text.length.toLong)
    }
    ds.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }
}

/** `battery`: sequential passes over a subset of `SparkEntry.queries`
  * (the graph, near-dup, span and winnowing operators, and the near-dup
  * and gram history stores) on a table generated in set-up, each query constructed, planned and executed
  * through the noop sink. One pass warms up untimed; the timed segment
  * runs whole passes, as many as fit in its time and at least one. An
  * operation is one query. */
final class Battery(ctx: Ctx) extends Workload {
  import Battery._

  private val spark = ctx.spark
  private var dir: String = _
  private var passNo = 0
  /** (query, pass tag, construct ms, plan ms, exec ms) of the last segment. */
  private var last = Seq.empty[(String, String, Double, Double, Double)]

  def setup(): Unit = {
    dir = s"${ctx.work}/tables"
    BatteryGen.write(spark, ctx.seed, dir, Docs)
    graft.functions.functions.register(spark)
    Main.log("tables written")
    // the warm-up pass writes each result out for the oracle check
    pass(new Tracer(false), Some(s"${ctx.work}/battery-results")).foreach { case (q, _, c, p, e) =>
      Main.log(f"warm-up $q: construct $c%.0f ms, plan $p%.0f ms, exec $e%.0f ms")
    }
  }

  /** One pass over the queries: per query (name, tag, construct, plan,
    * exec ms), every Spark job it fires tagged with its pass tag. Each
    * result goes to the noop sink, or to `<results>/<query>` as parquet. */
  private def pass(tr: Tracer, results: Option[String] = None)
      : Seq[(String, String, Double, Double, Double)] = {
    passNo += 1
    Queries.map { q =>
      val tag = s"$q-$passNo"
      tr.withGroup(tag)(JobStats.tagged(spark.sparkContext, tag) {
        val t0 = System.nanoTime()
        val df = tr.span("queries", "construct")(graft.SparkEntry.queries(q)(spark, dir))
        val t1 = System.nanoTime()
        tr.span("queries", "plan")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val w = df.write.mode(SaveMode.Overwrite)
        tr.span("queries", "exec")(results match {
          case Some(dir) => w.parquet(s"$dir/$q")
          case None => w.format("noop").save()
        })
        val t3 = System.nanoTime()
        (q, tag, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
      })
    }
  }

  def measure(seconds: Double, tr: Tracer): Measured = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val runs = mutable.ArrayBuffer.empty[(String, String, Double, Double, Double)]
    // another pass starts while one as long as the last still fits
    var lastNs = 0L
    while (runs.isEmpty || System.nanoTime() + lastNs < deadline) {
      val p0 = System.nanoTime()
      runs ++= pass(tr)
      lastNs = System.nanoTime() - p0
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val h = new Hist
    runs.foreach(r => h.add(r._3 + r._4 + r._5))
    last = runs.toSeq
    val passes = runs.size / Queries.size
    Measured(runs.size, 0, h, runs.size / wall,
      Map("passes" -> passes.toString, "pass_s" -> f"${wall / passes}%.3f"), Nil)
  }

  def layers(tr: Tracer): Map[String, Double] = {
    ctx.jobs.settle()
    val passes = math.max(1, last.size / Queries.size).toDouble
    val ws = last.map(r => r._1 -> ctx.jobs.byTag(r._2))
    val out = mutable.Map.empty[String, Double]
    out("battery.construct_s") = last.map(_._3).sum / 1e3 / passes
    out("battery.plan_s") = last.map(_._4).sum / 1e3 / passes
    out("battery.exec_s") = last.map(_._5).sum / 1e3 / passes
    out("battery.jobs") = ws.map(_._2.jobs).sum / passes
    out("battery.stages") = ws.map(_._2.stages).sum / passes
    out("battery.task_s") = ws.map(_._2.taskMs).sum / 1e3 / passes
    out("battery.shuffle_bytes") = ws.map(_._2.shuffleBytes.toDouble).sum / passes
    // the history stores the probes read, seeded once per session in
    // the system temp dir by the queries themselves
    historyStores().foreach { case (name, st) =>
      out(s"store.$name.live_dirs") = st.liveDirs
      out(s"store.$name.files") = st.files.toDouble
      out(s"store.$name.bytes") = st.bytes.toDouble
    }
    Queries.foreach { q =>
      val mine = last.filter(_._1 == q)
      val n = math.max(1, mine.size).toDouble
      out(s"battery.$q.exec_s") = mine.map(_._5).sum / 1e3 / n
      out(s"battery.$q.jobs") = ws.filter(_._1 == q).map(_._2.jobs).sum / n
    }
    out.toMap
  }

  private def historyStores(): Seq[(String, graft.store.ManifestLog.StoreStats)] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName).flatMap { d =>
      val n = d.getName
      if (n.startsWith("graft-neardup-probe-"))
        Some("neardup" -> new graft.store.NearDupIndex(spark, d.getPath).stats())
      else if (n.startsWith("graft-gramindex-")) {
        val g = new graft.store.GramIndex(spark, d.getPath, w = 8, buckets = 64).stats()
        Some("grams" -> graft.store.ManifestLog.StoreStats(g.liveDirs, g.cells, g.files, g.bytes))
      } else None
    }
  }

  /** The queries' DuckDB oracle SQL beside their results (written by
    * the warm-up pass), for the check `run.py` makes against the same
    * table after this process ends. */
  override def finalChecks(): Seq[String] = {
    val out = s"${ctx.work}/battery-results"
    val sql = Queries.map(q => s"${Main.str(q)}: ${Main.str(graft.SparkEntry.oracleSql(q))}")
    val w = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try w.println(sql.mkString("{", ",\n", "}")) finally w.close()
    Nil
  }
}

object Battery {
  /** Graph, near-dup probe against a seeded history store, verbatim
    * spans against a gram history store and winnowing pairs. */
  val Queries: Seq[String] = Seq("q_pagerank", "q_neardup_probe", "q_dup_spans_history",
    "q_winnow_pairs")
  val Docs = 200
}
