package graft.tools

import graft.SparkSuite
import graft.streaming.GateConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The curation front door end-to-end (VERDICT r10 #6): bootstrap from
  * the input dir, drain-once, uniform batch= output layouts, and a
  * second drain that reuses every committed store as history. */
class CurateSpec extends SparkSuite {

  private val textA =
    "the small red fox walks over the quiet green hill today"
  private val textB =
    "many people like to read good books about real history now"
  private val textNovel =
    "bright stars shine above the calm sea and cold wind moves"

  /** Stage a DataFrame as ONE flat parquet file in `destDir` — the file
    * stream source watches a flat directory, not writer subdirs. */
  private def dropFile(df: DataFrame, destDir: String, name: String): Unit = {
    val stage = tmpDir("curate-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage + "/d")
    val part = new java.io.File(stage + "/d").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(destDir, name))
    ()
  }

  test("flag parsing: --k=v and bare --k forms, defaults, loud typos") {
    val cfg = Curate.parseConfig(Array("/in", "--once", "--root=/r",
      "--min-words=3", "--threshold-micro=900000", "--no-gate"))
    assert(cfg.inputDir === "/in" && cfg.once && cfg.root === "/r")
    assert(cfg.gate === None, "--no-gate wins over gate thresholds")
    assert(cfg.thresholdMicro === 900000L)
    assert(cfg.out === "/r/curate/out", "out defaults under root")
    val gated = Curate.parseConfig(Array("/in", "--min-words=3"))
    assert(gated.gate.map(_.minWords) === Some(3L))
    assert(gated.gate.map(_.maxWords) === Some(100000L))
    // a typo'd flag must fail, not silently run with the default
    val e = intercept[IllegalArgumentException] {
      Curate.parseConfig(Array("/in", "--treshold-micro=5"))
    }
    assert(e.getMessage.contains("treshold-micro"))
    intercept[IllegalArgumentException] { Curate.parseConfig(Array.empty) }
  }

  test("--help: the flag table covers every flag the parser knows — " +
    "the table and the parser cannot drift apart") {
    val help = Curate.helpText.mkString("\n")
    // the parser's own `known` set, restated: a flag added there
    // without a help row (or vice versa) fails here
    val parserFlags = Seq("root", "out", "once", "no-gate", "min-words",
      "max-words", "min-stopwords", "maintenance-every",
      "min-kept-tokens", "threshold-micro", "nprobe", "boilerplate")
    for (f <- parserFlags :+ "stats" :+ "help")
      assert(help.contains(s"--$f"), s"--$f missing from --help")
    // defaults in the table come FROM GateConfig, not a re-hardcode
    val d = graft.streaming.GateConfig()
    assert(help.contains(s"default ${d.minWords}"))
    assert(help.contains(s"default ${d.maxWords}"))
    // and an unknown flag in helpText would mean the parser lost one:
    // every --flag token in the table parses as a known flag name
    val tableFlags = """--[a-z-]+""".r.findAllIn(help).toSeq.distinct
      .map(_.stripPrefix("--"))
    assert(tableFlags.toSet.subsetOf(
      (parserFlags :+ "stats" :+ "help").toSet),
      s"helpText names flags the parser does not know: $tableFlags")
  }

  test("stats on a fresh root: four zero rows, no exception — the ops " +
    "readout must work before the first drain") {
    val lines = Curate.stats(spark, tmpDir("curate-empty"))
    assert(lines.size === 4)
    assert(lines.forall(_.contains("files=0")), s"expected zeros: $lines")
    assert(lines.forall(!_.contains("fragmented")))
  }

  test("front door: bootstrap + drain, batch= layouts, history reuse") {
    import spark.implicits._
    val in = tmpDir("curate-in")
    val root = tmpDir("curate-root")
    val out = root + "/curate/out"
    val cfg = Curate.Config(
      inputDir = in, root = root, out = out, once = true,
      gate = Some(GateConfig(
        minWords = 3L, maxWords = 1000L, minStopwords = 0)),
      maintenanceEvery = 1, minKeptTokens = 3,
      thresholdMicro = 900000L)

    dropFile(Seq(
      (1L, textA, Array(1f, 0f, 0f, 0f), "s1"),
      (2L, textB, Array(0f, 1f, 0f, 0f), "s1"))
      .toDF("doc_id", "text", "embedding", "source"), in, "seed.parquet")

    val q1 = Curate.run(spark, cfg)
    q1.awaitTermination(180000)
    val kept1 = spark.read.parquet(s"$out/kept")
    assert(kept1.select($"doc_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L),
      "the first batch's survivors must be kept — the lazy quantizer " +
        "bootstrap trains on them and their ingest is a pure replay")

    // second drain, fresh run() against the same root: stores are
    // committed history now, the quantizer bootstrap is skipped
    dropFile(Seq(
      (10L, textA, Array(1f, 0f, 0f, 0f), "s2"), // byte-exact repeat
      (11L, textNovel, Array(0f, 0f, 1f, 0f), "s2"), // genuinely new
      (12L, "tiny doc", Array(0f, 0f, 0f, 1f), "s2")) // gate bait
      .toDF("doc_id", "text", "embedding", "source"), in, "victim.parquet")
    val q2 = Curate.run(spark, cfg)
    q2.awaitTermination(180000)

    val kept = spark.read.parquet(s"$out/kept")
    assert(kept.select($"doc_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 11L),
      "the exact repeat and the gate-dropped doc must not reach the sink")
    // survivors carry the scrub columns and the original metadata
    assert(kept.columns.toSet.intersect(
      Set("n_kept", "scrubbed_text", "source", "embedding")).size === 4)

    val rejected = spark.read.parquet(s"$out/rejected")
    val rej = rejected.select($"doc_id", $"reasons").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rej.map(_._1).toSeq === Seq(12L))
    assert(rej.head._2.contains("too_few_words"))

    // one report row per (batch, source): uniform batch= layout, one
    // read for the whole tree
    val reports = spark.read.parquet(s"$out/reports")
    assert(reports.count() === 2)
    val r2 = reports.filter($"source" === "s2").collect().head
    assert(r2.getAs[Long]("docs_total") === 3L)
    assert(r2.getAs[Long]("docs_kept") === 2L)
    // the semantic store bootstrapped exactly once: both drains share
    // one committed quantizer and all four stores carry both batches
    val cells = new graft.operators.CellIndex(
      spark, s"$root/curate/stores/cells")
    assert(cells.exists)
    assert(cells.vectors.select($"vec_id").collect().map(_.getLong(0))
      .sorted === Array(1L, 2L, 11L))

    // the ops readout covers all four families against the same root,
    // with no fragmentation hint on a freshly maintained pair of drains
    val lines = Curate.stats(spark, root)
    assert(lines.size === 4)
    assert(lines.map(_.split("\\s+").head).toSet ===
      Set("exact", "neardup", "grams", "semantic"))
    assert(lines.forall(l => l.contains("bytes=") &&
      !l.contains("fragmented")), s"unexpected stats: $lines")
  }

  test("leak gate: a full front-door drain (bootstrap, both gate sinks, " +
    "maintenance sweep, second-generation resume) leaves no persisted " +
    "non-checkpoint frames") {
    // VERDICT r13 #6: StreamOpsSpec gates the four pipeline ENTRY
    // POINTS; this drives the assembled tools/Curate front door — the
    // wiring (gateSink report/rejected writers, warm start, epoch
    // sinks, maintenanceEvery sweeps) could pin frames the bare
    // pipeline does not. Contract as in LeakFreeBatterySpec: after the
    // drains, getPersistentRDDs may hold only locally-checkpointed
    // blocks; a bare .persist() surviving here lives until the
    // streaming driver dies.
    import spark.implicits._
    def cleanSlate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }
    cleanSlate()
    val in = tmpDir("curate-leak-in")
    val root = tmpDir("curate-leak-root")
    val cfg = Curate.Config(
      inputDir = in, root = root, out = root + "/curate/out", once = true,
      gate = Some(GateConfig(
        minWords = 3L, maxWords = 1000L, minStopwords = 0)),
      maintenanceEvery = 1, minKeptTokens = 3, thresholdMicro = 900000L)
    dropFile(Seq(
      (1L, textA, Array(1f, 0f, 0f, 0f), "s1"),
      (2L, textB, Array(0f, 1f, 0f, 0f), "s1"))
      .toDF("doc_id", "text", "embedding", "source"), in, "seed.parquet")
    Curate.run(spark, cfg).awaitTermination(180000)
    // second drain resumes the checkpoint: warm start + history reads
    // + the maintenance sweep all run again over committed stores
    dropFile(Seq(
      (10L, textA, Array(1f, 0f, 0f, 0f), "s2"),
      (11L, textNovel, Array(0f, 0f, 1f, 0f), "s2"))
      .toDF("doc_id", "text", "embedding", "source"), in, "victim.parquet")
    Curate.run(spark, cfg).awaitTermination(180000)
    val leaked = spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed)
    assert(leaked.isEmpty, s"front-door drain leaked ${leaked.size} " +
      s"persisted non-checkpoint RDD(s): ${leaked.map(_.name).mkString(", ")}")
    cleanSlate()
  }

  test("exactly-once output: a crash between the sink write and the " +
    "checkpoint commit re-drains into the SAME batch dir — rewritten, " +
    "never duplicated (VERDICT r11 #2)") {
    import spark.implicits._
    val in = tmpDir("curate-kill-in")
    val root = tmpDir("curate-kill-root")
    val out = root + "/curate/out"
    val cfg = Curate.Config(
      inputDir = in, root = root, out = out, once = true,
      gate = Some(GateConfig(
        minWords = 3L, maxWords = 1000L, minStopwords = 0)),
      maintenanceEvery = 0, minKeptTokens = 3,
      thresholdMicro = 900000L)
    dropFile(Seq(
      (1L, textA, Array(1f, 0f, 0f, 0f), "s1"),
      (2L, textB, Array(0f, 1f, 0f, 0f), "s1"),
      (3L, "tiny doc", Array(0f, 0f, 0f, 1f), "s1")) // gate bait
      .toDF("doc_id", "text", "embedding", "source"), in, "seed.parquet")

    // first drain dies AFTER all three sinks wrote batch=0, BEFORE the
    // stream could commit the offset — the replay-duplication window
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[Exception] {
      Curate.run(spark, cfg, onStage = s =>
        if (s == "sink" && crashed.compareAndSet(false, true))
          throw new RuntimeException(
            "injected crash between sink write and checkpoint commit"))
    }
    assert(crashed.get(), s"the sink kill point never fired: $e")
    def batchDirs(kind: String): Seq[String] =
      Option(new java.io.File(s"$out/$kind").listFiles())
        .getOrElse(Array.empty).map(_.getName)
        .filter(_.startsWith("batch=")).sorted.toSeq
    // the crashed attempt's output is on disk — that is the hazard
    assert(batchDirs("kept") === Seq("batch=0"))

    // the re-drain replays epoch 0 and REWRITES batch=0 in place: one
    // dir per tree, one row per document — no second copy anywhere
    Curate.run(spark, cfg).awaitTermination(180000)
    for (kind <- Seq("kept", "reports", "rejected"))
      assert(batchDirs(kind) === Seq("batch=0"),
        s"$kind must hold exactly the replayed epoch's dir")
    val kept = spark.read.parquet(s"$out/kept")
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 2L),
      s"replay duplicated or lost kept rows: ${kept.toSeq}")
    val rej = spark.read.parquet(s"$out/rejected")
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(rej === Array(3L),
      s"replay duplicated or lost rejected rows: ${rej.toSeq}")
    assert(spark.read.parquet(s"$out/reports").count() === 1,
      "one report row per (batch, source) — the replay must overwrite")
  }

  test("fresh-generation guard: a NEW stream (no checkpoint offsets) " +
    "refuses to start over existing numbered batch output — epoch ids " +
    "restart at 0 and the Overwrite sinks would silently clobber it") {
    import spark.implicits._
    val in = tmpDir("curate-gen-in")
    val root = tmpDir("curate-gen-root")
    val out = root + "/curate/out"
    val cfg = Curate.Config(
      inputDir = in, root = root, out = out, once = true,
      gate = Some(GateConfig(
        minWords = 3L, maxWords = 1000L, minStopwords = 0)),
      maintenanceEvery = 0, minKeptTokens = 3,
      thresholdMicro = 900000L)
    dropFile(Seq((1L, textA, Array(1f, 0f, 0f, 0f), "s1"))
      .toDF("doc_id", "text", "embedding", "source"), in, "seed.parquet")
    Curate.run(spark, cfg).awaitTermination(180000)
    assert(new java.io.File(s"$out/kept/batch=0").isDirectory)

    // checkpoint reset (user deletes it, or points a new --root at the
    // same --out): the next run is a NEW generation — refuse, not clobber
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(s"$root/curate/checkpoint"))
    val e = intercept[IllegalArgumentException] { Curate.run(spark, cfg) }
    assert(e.getMessage.contains("fresh --out"),
      s"wrong guard message: ${e.getMessage}")
    // the refused start wrote nothing: the original batch survived intact
    assert(spark.read.parquet(s"$out/kept").select($"doc_id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))

    // pre-epoch batch=<uuid> dirs carry no numeric id and can never
    // collide — a new generation over ONLY those must start fine
    for (kind <- Seq("kept", "reports", "rejected")) {
      val tree = new java.io.File(s"$out/$kind")
      Option(tree.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("batch=\\d+")).foreach { d =>
          java.nio.file.Files.move(d.toPath,
            new java.io.File(tree, "batch=aaaa-legacy-uuid").toPath)
        }
    }
    Curate.run(spark, cfg).awaitTermination(180000)
    val dirs = new java.io.File(s"$out/kept").listFiles()
      .map(_.getName).sorted.toSeq
    assert(dirs === Seq("batch=0", "batch=aaaa-legacy-uuid"),
      s"the uuid-era output must survive the new generation: $dirs")
  }

  test("--maintenance-every=-1 is refused before the stream writes its " +
    "checkpoint: the help text says 0 disables, a negative is no value") {
    val in = tmpDir("curate-neg-in")
    val root = tmpDir("curate-neg-root")
    val cfg = Curate.parseConfig(Array(in, "--once", s"--root=$root",
      "--maintenance-every=-1"))
    assert(cfg.maintenanceEvery === -1)
    val e = intercept[IllegalArgumentException] { Curate.run(spark, cfg) }
    assert(e.getMessage.contains("maintenanceEvery"), e.getMessage)
    assert(!new java.io.File(s"$root/curate/checkpoint").exists,
      "a refused start must leave no checkpoint behind")
  }
}
