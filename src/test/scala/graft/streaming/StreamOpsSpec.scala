package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamOpsSpec extends SparkSuite {

  test("Hll.registers on a stream: 64-rows-per-group state converges to " +
    "exactly the batch sketch of everything seen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("source", "word")
    val q = graft.operators.Hll.registers(df, Seq("source"), "word")
      .writeStream.outputMode("update")
      .format("memory").queryName("hll_out").start()
    val batch1 = (0 until 500).map(i => ("web", s"w$i")) ++
      (0 until 200).map(i => ("books", s"b$i"))
    // batch 2 overlaps batch 1 (duplicates must not move the sketch)
    val batch2 = (300 until 900).map(i => ("web", s"w$i")) ++
      (0 until 200).map(i => ("books", s"b$i"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    // the live register table: latest value per key — registers only
    // grow, so max over the update sink's emissions is the current state
    val streamed = spark.table("hll_out")
      .groupBy($"source", $"bucket").agg(max($"register").as("register"))
    val expected = graft.operators.Hll
      .registers((batch1 ++ batch2).toDF("source", "word"),
        Seq("source"), "word")
    assert(
      streamed.orderBy($"source", $"bucket").collect().toSeq ===
        expected.orderBy($"source", $"bucket").collect().toSeq)
    // state never exceeds 64 rows per group
    assert(streamed.groupBy($"source").count()
      .filter($"count" > 64).isEmpty)
    // and the running estimate reads straight off the live table
    val est = graft.operators.Hll.indicator(streamed, Seq("source"))
      .select($"source",
        graft.operators.Hll.estimateMicro($"hll_indicator").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1) / 1e6).toMap
    q.stop()
    assert(math.abs(est("web") - 900.0) / 900.0 < 0.4, est.toString)
    assert(math.abs(est("books") - 200.0) / 200.0 < 0.4, est.toString)
  }

  test("Cms.registers on a stream: d*w-cells state converges to exactly " +
    "the batch sketch of everything seen; live point estimates read off it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("g", "term")
    val q = graft.operators.Cms.registers(df, Seq("g"), "term")
      .writeStream.outputMode("update")
      .format("memory").queryName("cms_out").start()
    val batch1 = Seq.fill(300)(("web", "hot")) ++
      (0 until 100).map(i => ("web", s"t$i"))
    val batch2 = Seq.fill(200)(("web", "hot")) ++
      (50 until 150).map(i => ("web", s"t$i"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    // counters only grow, so the latest emission per cell is its max
    val streamed = spark.table("cms_out")
      .groupBy($"g", $"row", $"col").agg(max($"counter").as("counter"))
    val expected = graft.operators.Cms
      .registers((batch1 ++ batch2).toDF("g", "term"), Seq("g"), "term")
    assert(
      streamed.orderBy($"row", $"col").collect().toSeq ===
        expected.orderBy($"row", $"col").collect().toSeq)
    assert(streamed.count() <=
      graft.operators.Cms.Depth * graft.operators.Cms.Width)
    // live heavy-hitter estimate: "hot" appeared 500 times total
    val est = graft.operators.Cms.estimate(
      streamed.drop("g"), Seq("hot").toDF("term"), "term")
      .collect().head.getLong(1)
    q.stop()
    assert(est >= 500L && est <= 700L, s"hot estimate $est")
  }

  test("Kmv.sketch on a stream: k-longs-per-group state converges to " +
    "exactly the batch sketch of everything seen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val df = input.toDF().toDF("g", "term")
    val latest =
      scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    val q = graft.operators.Kmv.sketch(df, Seq("g"), "term", k = 16)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          latest(r.getString(0)) = r.getSeq[Long](1))
      }.start()
    val batch1 = (0 until 300).map(i => ("a", s"t$i")) ++
      (0 until 50).map(i => ("b", s"u$i"))
    val batch2 = (200 until 600).map(i => ("a", s"t$i")) ++
      (0 until 300).map(i => ("b", s"u$i"))
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val expected = graft.operators.Kmv
      .sketch((batch1 ++ batch2).toDF("g", "term"), Seq("g"), "term", k = 16)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(latest("a") === expected("a"))
    assert(latest("b") === expected("b"))
    assert(latest.values.forall(_.size <= 16), "state bounded at k")
  }

  // ---- curateAllWithHistory: gate + four history granularities -------

  private val CurateBase = "the quick brown fox jumps over the lazy dog " +
    "while seventeen sleepy penguins waddle across the frozen antarctic " +
    "shelf carrying small wooden crates of pickled herring toward the " +
    "waiting ship anchored beyond the ridge"
  // run tokens are 4+ chars so docs quoting the run still clear the
  // gate's mean-word-length floor (3 chars/word)
  private val CurateRun = (1 to 8).map(i => s"run$i").mkString(" ")
  private val CurateDoc2 = s"opening words here $CurateRun closing words"
  // spec gate: word-count floor low enough for the short test docs,
  // stopword rule off (several intentionally stopword-free docs must
  // reach the store legs); the fixed Gopher ratio rules stay live
  private val CurateGate = GateConfig(
    minWords = 2L, maxWords = 500L, minStopwords = 0)

  private case class CurateStores(
      exact: graft.store.FingerprintIndex,
      near: graft.store.NearDupIndex,
      grams: graft.store.GramIndex,
      cell: graft.operators.CellIndex)

  private def freshCurateStores(): CurateStores = {
    import spark.implicits._
    val st = unbuiltCurateStores()
    // training vectors sit ~45° from every test embedding (cos 0.707,
    // far under the 0.9 threshold) so they never flag test docs
    st.cell.buildLearned(Seq(
      900L -> Array(0.7f, 0.7f, 0f, 0f),
      901L -> Array(0f, 0f, 0.7f, 0.7f)).toDF("vec_id", "embedding"),
      k = 2, iters = 1)
    st
  }

  /** Stores with an UNBUILT semantic index — the lazy-bootstrap path
    * (the quantizer trains inside the first batch). */
  private def unbuiltCurateStores(): CurateStores = {
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    CurateStores(
      new graft.store.FingerprintIndex(spark, tmp("cah-fp"), buckets = 8),
      new graft.store.NearDupIndex(spark, tmp("cah-nd"), buckets = 8),
      new graft.store.GramIndex(spark, tmp("cah-gr"), w = 8, buckets = 8),
      new graft.operators.CellIndex(spark, tmp("cah-cell")))
  }

  private def curateSeed = Seq(
    (1L, CurateBase, Array(1f, 0f, 0f, 0f)),
    (2L, CurateDoc2, Array(0f, 0f, 1f, 0f)))

  // the victim batch exercises every suppression granularity:
  //  10 = byte-exact copy of doc 1        -> dropped at the exact leg
  //  11 = lightly-edited copy of doc 1    -> dropped at the near-dup leg
  //  12 = novel head + doc 2's verbatim 8-run -> region excised, emitted
  //  13 = novel text, paraphrase embedding of doc 2 -> dropped semantic
  //  14 = fully novel                     -> emitted untouched
  //  15 = one-word junk                   -> dropped at the GATE
  //       (never reaches any index — no fingerprint/band/gram/vector)
  private def curateVictim = Seq(
    (10L, CurateBase, Array(0.9f, 0.1f, 0f, 0f)),
    (11L, CurateBase.replace("fox", "zesty"), Array(0.9f, 0f, 0.1f, 0f)),
    (12L, s"nov1 nov2 nov3 nov4 $CurateRun", Array(0f, 1f, 0f, 0f)),
    (13L, "entirely different prose about orbital transfer windows",
      Array(0.01f, 0f, 1f, 0f)),
    (14L, "mason turbine valley copper lantern meadow drift harbor " +
      "stone petal", Array(0f, 0f, 0f, 1f)),
    (15L, "tiny", Array(0.3f, 0.3f, 0.3f, 0.3f)))

  private def curateProcess(st: CurateStores, rows: Seq[(Long, String,
      Array[Float])], kill: Option[String],
      gateDrops: scala.collection.mutable.ArrayBuffer[(Long, String)] =
        scala.collection.mutable.ArrayBuffer.empty,
      boilerplate: Seq[String] = Seq.empty)
      : Seq[(Long, Long, String)] = {
    import spark.implicits._
    val out =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    StreamOps.curateAllBatch(
      rows.toDF("doc_id", "text", "embedding"),
      st.exact, st.near, st.grams, st.cell,
      boilerplate = boilerplate, minKeptTokens = 3,
      thresholdMicro = 900000L, nprobe = 1,
      gate = Some(CurateGate),
      gateSink = (gd, _) => gateDrops ++= gd.filter($"keep" === 0)
        .select($"doc_id", $"reasons").collect()
        .map(r => (r.getLong(0), r.getString(1))),
      onStage = s => if (kill.contains(s))
        throw new RuntimeException(s"injected crash after $s commit"),
      batchId = 0L) {
      (df, _) =>
        out ++= df.select($"doc_id", $"n_kept", $"scrubbed_text")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    }
    out.sortBy(_._1).toSeq
  }

  private def curateState(st: CurateStores) = {
    import spark.implicits._
    (st.exact.fingerprints.collect().map(_.toString).sorted.toSeq,
      st.near.assignments.select($"doc_id", $"canonical_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      st.grams.grams.select($"k", $"doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq,
      st.cell.vectors.select($"vec_id")
        .collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("curateAllWithHistory: one stream, five stages — gate, exact, " +
    "edited, quoted-region, paraphrase") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val st = freshCurateStores()
    val input = MemoryStream[(Long, String, Array[Float])]
    val df = input.toDF().toDF("doc_id", "text", "embedding")
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val gateRows =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("cah-ckpt")
    val q = StreamOps.curateAllWithHistory(df, st.exact, st.near,
      st.grams, st.cell, boilerplate = Seq.empty,
      checkpointDir = ckpt.toString, minKeptTokens = 3,
      thresholdMicro = 900000L, gate = Some(CurateGate),
      gateSink = (gd, _) => gateRows ++= gd
        .select($"doc_id", $"keep", $"reasons").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))) { (out, _) =>
      emitted ++= out.select($"doc_id", $"n_kept", $"scrubbed_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    }
    input.addData(curateSeed: _*)
    q.processAllAvailable()
    assert(emitted.map(_._1).sorted.toSeq === Seq(1L, 2L))
    emitted.clear(); gateRows.clear()
    input.addData(curateVictim: _*)
    q.processAllAvailable()
    q.stop()
    assert(emitted.map(_._1).sorted.toSeq === Seq(12L, 14L),
      s"wrong survivors: $emitted")
    val doc12 = emitted.find(_._1 == 12L).get
    assert(doc12._2 === 4L && doc12._3 === "nov1 nov2 nov3 nov4",
      "doc 2's quoted region must be excised from doc 12")
    // the gate saw the whole batch (keeps AND drops) with reasons —
    // the frame a per-batch curationReport aggregates
    assert(gateRows.sortBy(_._1).toSeq === Seq(
      (10L, 1, ""), (11L, 1, ""), (12L, 1, ""), (13L, 1, ""),
      (14L, 1, ""), (15L, 0, "too_few_words")),
      s"gate frame wrong: $gateRows")
    // the gate-dropped doc reached NO index: no fingerprint, no band
    // assignment, no grams, no vector
    assert(st.exact.fingerprints.filter($"doc_id" === 15L).count() === 0)
    assert(st.near.assignments.filter($"doc_id" === 15L).count() === 0)
    assert(st.grams.grams.filter($"doc_id" === 15L).count() === 0)
    assert(st.cell.vectors.filter($"vec_id" === 15L).count() === 0)
    // each index registered its own granularity's verdicts
    assert(st.near.assignments.filter($"doc_id" === 11L)
      .select($"canonical_id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(st.cell.vectors.filter($"vec_id" === 13L).count() === 0)
  }

  test("curateAllBatch scrub head: blocklisted line, markup and " +
    "decomposed Unicode are gone before the exact stage") {
    val st = freshCurateStores()
    // decomposed é (e + U+0301) wrapped in markup, plus a boilerplate line
    val decomposed = "<p>the nice cafe\u0301 on the corner serves " +
      "breakfast</p>\nSUBSCRIBE to our newsletter"
    // the same text, composed (U+00E9), different markup: after strip +
    // NFC the bytes are identical, so the fingerprint must collapse them
    val composed = "<div>the nice caf\u00e9 on the corner serves " +
      "breakfast</div>"
    val block = Seq("SUBSCRIBE to our newsletter")
    val first = curateProcess(st,
      Seq((1L, decomposed, Array(1f, 0f, 0f, 0f))), None,
      boilerplate = block)
    assert(first === Seq(
      (1L, 8L, "the nice caf\u00e9 on the corner serves breakfast")))
    // a later batch: the composed spelling is a byte-exact repeat
    val later = curateProcess(st,
      Seq((2L, composed, Array(0f, 1f, 0f, 0f))), None,
      boilerplate = block)
    assert(later.isEmpty, s"composed spelling must dedup: $later")
    assert(st.exact.fingerprints.count() === 1)
  }

  test("curateAllWithHistory refuses a negative maintenanceEvery before " +
    "it writes a checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val st = freshCurateStores()
    val input = MemoryStream[(Long, String, Array[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("cah-neg")
      .resolve("checkpoint")
    val e = intercept[IllegalArgumentException] {
      StreamOps.curateAllWithHistory(
        input.toDF().toDF("doc_id", "text", "embedding"),
        st.exact, st.near, st.grams, st.cell, boilerplate = Seq.empty,
        checkpointDir = ckpt.toString,
        maintenanceEvery = -1) { (_, _) => () }.stop()
    }
    assert(e.getMessage.contains("maintenanceEvery"))
    assert(!java.nio.file.Files.exists(ckpt),
      "nothing may be written for a refused configuration")
  }

  test("curateAllWithHistory kill-point matrix: a crash between ANY two " +
    "stage commits replays to identical store states and emissions") {
    // baseline: no crash
    val base = freshCurateStores()
    curateProcess(base, curateSeed, None)
    val dropsBase =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val emitBase = curateProcess(base, curateVictim, None, dropsBase)
    val stateBase = curateState(base)
    assert(emitBase.map(_._1) === Seq(12L, 14L))
    assert(dropsBase.toSeq === Seq((15L, "too_few_words")),
      "the gate must book exactly the one-word junk doc")

    // "sink" = the crash lands AFTER the sink write, BEFORE the
    // checkpoint commit — the output-idempotence kill point the
    // epoch-id plumbing exists for (CurateSpec proves the file-level
    // rewrite; here the matrix proves emission/store convergence)
    for (kill <- Seq("gate", "exact", "neardup", "spans", "semantic",
        "sink")) {
      val st = freshCurateStores()
      curateProcess(st, curateSeed, None)
      val e = intercept[RuntimeException] {
        curateProcess(st, curateVictim, Some(kill))
      }
      assert(e.getMessage.contains(kill))
      // the retry: same batch, stages up to `kill` already effected
      // (the gate commits nothing — its replay case is re-derivation)
      val drops = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      val emitReplay = curateProcess(st, curateVictim, None, drops)
      assert(emitReplay === emitBase,
        s"kill@$kill: replay emission diverged")
      assert(drops.toSeq === dropsBase.toSeq,
        s"kill@$kill: replay gate drops diverged")
      assert(curateState(st) === stateBase,
        s"kill@$kill: store states diverged")
      // and a SECOND full replay (crash after sink, before the offset
      // commit) is also a clean no-op emission-wise
      assert(curateProcess(st, curateVictim, None) === emitBase,
        s"kill@$kill: post-recovery replay diverged")
    }
  }

  test("lazy quantizer bootstrap: trains on SURVIVORS only (no phantom " +
    "vectors for gate-dropped docs) and converges under crashes on " +
    "either side of the first build") {
    import spark.implicits._
    // doc 3 is gate-dropped junk whose embedding is FAR from the
    // survivors' — if the bootstrap registered it, doc 20 below (whose
    // embedding is nearly doc 3's but unlike any survivor's) would be
    // suppressed by a vector no kept document owns
    val batch = curateSeed :+ ((3L, "tiny", Array(0f, 0.7f, 0.7f, 0f)))
    val later = Seq((20L, "completely fresh prose about tidal harbor " +
      "lanterns and copper fittings", Array(0f, 0.72f, 0.69f, 0f)))

    val base = unbuiltCurateStores()
    val baseOut = curateProcess(base, batch, None)
    assert(baseOut.map(_._1) === Seq(1L, 2L))
    assert(base.cell.exists, "first batch must have built the quantizer")
    assert(base.cell.vectors.select($"vec_id").collect().map(_.getLong(0))
      .sorted === Array(1L, 2L),
      "only post-upstream survivors may register — a phantom vector " +
        "for the gate-dropped doc would suppress future near-matches")
    assert(curateProcess(base, later, None).map(_._1) === Seq(20L),
      "doc 20 shares no survivor's embedding and must be kept")

    // crash BEFORE the build (after the spans commit): no generation
    // exists yet; the replay trains once and converges to the baseline
    val st1 = unbuiltCurateStores()
    intercept[RuntimeException] { curateProcess(st1, batch, Some("spans")) }
    assert(!st1.cell.exists, "crash before the semantic leg: no build")
    assert(curateProcess(st1, batch, None) === baseOut)
    // crash AFTER the semantic commit: build + ingest landed; the
    // replay skips the build (exists) and is a pure vec_id replay
    val st2 = unbuiltCurateStores()
    intercept[RuntimeException] {
      curateProcess(st2, batch, Some("semantic"))
    }
    assert(st2.cell.exists, "crash after the semantic commit: built")
    assert(curateProcess(st2, batch, None) === baseOut)
    assert(st2.cell.stats().generations === 1,
      "a replay must never retrain a committed quantizer")
    // both crash paths land on the baseline's exact store state
    for (st <- Seq(st1, st2)) {
      curateProcess(st, later, None)
      assert(curateState(st) === curateState(base))
    }
  }

  test("maintenanceEvery: the live maintenance loop compacts every " +
    "store between batches and changes nothing but the layout") {
    import spark.implicits._
    val third = Seq(
      (20L, "granite harbor mill stone beacon orchard valley bridge " +
        "copper meadow", Array(0f, 0f, 0f, 0.9f)),
      (21L, CurateBase, Array(0.9f, 0f, 0f, 0.1f))) // exact dup of doc 1
    // single-bucket text stores: every commit lands in the ONE cell, so
    // each sweep deterministically finds it fragmented and compacts
    // (with the default 8/256 buckets a toy corpus may never collide
    // two commits in one cell, leaving compaction a legitimate no-op)
    def oneBucketStores(): CurateStores = {
      import spark.implicits._
      def tmp(p: String) =
        java.nio.file.Files.createTempDirectory(p).toString
      val cell = new graft.operators.CellIndex(spark, tmp("mnt-cell"))
      cell.buildLearned(Seq(
        900L -> Array(0.7f, 0.7f, 0f, 0f),
        901L -> Array(0f, 0f, 0.7f, 0.7f)).toDF("vec_id", "embedding"),
        k = 2, iters = 1)
      CurateStores(
        new graft.store.FingerprintIndex(spark, tmp("mnt-fp"), buckets = 1),
        new graft.store.NearDupIndex(spark, tmp("mnt-nd"), buckets = 1),
        new graft.store.GramIndex(spark, tmp("mnt-gr"), w = 8, buckets = 1),
        cell)
    }
    // baseline: three batches, nobody maintains
    val base = oneBucketStores()
    val emitBase = Seq(curateSeed, curateVictim, third)
      .map(b => curateProcess(base, b, None))
    // maintained: same batches, a full sweep after every one — the
    // curateAllWithHistory maintenanceEvery=1 schedule, with
    // maxLiveDirs=1 so compaction actually fires from batch 2 on
    val st = oneBucketStores()
    val emitMaint = Seq(curateSeed, curateVictim, third).map { b =>
      val e = curateProcess(st, b, None)
      StreamOps.maintainAll(st.exact, st.near, st.grams, st.cell,
        maxLiveDirs = 1)
      e
    }
    assert(emitMaint === emitBase,
      "maintenance between batches must not change any emission")
    assert(curateState(st) === curateState(base),
      "maintenance must not change any store's logical content")
    // and it really did rewrite the layout down to the bound, where
    // the unmaintained twin accumulated one live dir per commit
    assert(base.exact.stats().liveDirs > 1)
    assert(st.exact.stats().liveDirs === 1)
    assert(st.grams.stats().liveDirs === 1)
    assert(st.near.stats().liveDirs === 1)
    assert(st.cell.stats().maxFilesPerCell === 1)
    // generation pruning: each CellIndex compaction publishes a FULL
    // rewritten copy of the index — without the sweep's vacuum, the
    // loop leaks one copy per compaction, unbounded
    assert(st.cell.stats().generations <= 3,
      s"maintainAll must prune expired generations: ${st.cell.stats()}")
  }

  test("curateAllWithHistory maintenanceEvery fires through the " +
    "streaming entry; 'maintain' lands on onStage") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val st = freshCurateStores()
    val input = MemoryStream[(Long, String, Array[Float])]
    val df = input.toDF().toDF("doc_id", "text", "embedding")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("cah-maint-ckpt")
    val q = StreamOps.curateAllWithHistory(df, st.exact, st.near,
      st.grams, st.cell, boilerplate = Seq.empty,
      checkpointDir = ckpt.toString, minKeptTokens = 3,
      thresholdMicro = 900000L, gate = Some(CurateGate),
      onStage = stages += _, maintenanceEvery = 1) { (out, _) =>
      emitted ++= out.select($"doc_id").collect().map(_.getLong(0))
    }
    input.addData(curateSeed: _*)
    q.processAllAvailable()
    input.addData(curateVictim: _*)
    q.processAllAvailable()
    q.stop()
    assert(emitted.sorted.toSeq === Seq(1L, 2L, 12L, 14L))
    assert(stages.count(_ == "maintain") === 2,
      s"one sweep per batch expected: $stages")
    assert(stages.takeRight(1) === Seq("maintain"),
      "maintenance runs AFTER the sink")
  }

  test("streaming leak gate: gate/exact/near-dup/span/semantic drains " +
    "leave no persisted non-checkpoint frames") {
    // VERDICT r12 #4: LeakFreeBatterySpec covers the 121 BATCH queries,
    // but the r12 leak find (winnowPairs' corpus-order checkpoint) was
    // in operator code reached via STREAMING. Drain the five-stage
    // curation loop, then assert the LeakFreeBatterySpec contract: after
    // stop(), getPersistentRDDs may hold only locally-checkpointed blocks
    // (the sanctioned frame-freezing tool, reclaimed by the ContextCleaner);
    // a bare .persist() surviving a drain is a leak that lives until
    // the streaming driver dies — days, at 1000-executor scale.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def cleanSlate(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }
    def assertNoLeak(label: String): Unit = {
      val leaked = spark.sparkContext.getPersistentRDDs.values
        .filterNot(_.isCheckpointed)
      assert(leaked.isEmpty, s"$label drain leaked ${leaked.size} " +
        s"persisted non-checkpoint RDD(s): " +
        leaked.map(_.name).mkString(", "))
    }
    def ckpt(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString

    cleanSlate()
    locally { // the full five-stage pipeline, with the between-batch
      // maintenance sweep — compaction must not pin either
      val st = freshCurateStores()
      val input = MemoryStream[(Long, String, Array[Float])]
      val q = StreamOps.curateAllWithHistory(
        input.toDF().toDF("doc_id", "text", "embedding"),
        st.exact, st.near, st.grams, st.cell, boilerplate = Seq.empty,
        checkpointDir = ckpt("leak-all-ck"), minKeptTokens = 3,
        thresholdMicro = 900000L, gate = Some(CurateGate),
        maintenanceEvery = 1) { (out, _) => out.count(); () }
      input.addData(curateSeed: _*)
      q.processAllAvailable()
      input.addData(curateVictim: _*)
      q.processAllAvailable()
      q.stop()
      assertNoLeak("five-stage")
    }
    cleanSlate()
  }
}
