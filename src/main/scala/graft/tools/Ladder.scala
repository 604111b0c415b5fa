package graft.tools

import org.apache.spark.sql.SparkSession

/** Three-rung scaling ladder for the pair/join battery family
  * (VERDICT r12 #3): two points (sf0.01 vs sf0.1) fit a straight line
  * through ANY polynomial — a quadratic candidate generator reads as
  * "ratio 2.3, fine" on one step and only shows its curve on the next.
  * This main measures each query at sf0.01 (500 docs), sf0.1 (5 000),
  * and a synthetic ×`SPARK_GRAFT_LADDER_MULT` (default 10 → 50 000
  * docs, [[graft.Profile.buildSynthetic]]'s construction: duplication
  * density constant, volume scaled), then fits a per-leg scaling
  * exponent p = ln(t₂/t₁) / ln(n₂/n₁) against the DRIVING table's real
  * row counts (documents vs embeddings — they scale differently across
  * the driver's dirs). A query whose top-leg exponent exceeds
  * [[SuperLinear]] is named with its term in the output — the empirical
  * tripwire that would have caught the r12 jaccardPairs stopword
  * quadratic (VERDICT r12 finding #1) without a code audit.
  *
  * Small-rung exponents undershoot (fixed overhead dominates 500-doc
  * runs); the TOP leg (5 000 → 50 000+) is the graded signal.
  *
  * Each rung is the best of `SPARK_GRAFT_LADDER_RUNS` (2) samples, and
  * carries the steal accrued during that best sample alone, so a rung
  * taken under contention is visible in its own line.
  * A `q_neardup_probe_fixed` pseudo-query ladders the probe in its PURE
  * probe-independence form: fixed ~50-doc batch against 500/5k/50k
  * histories. Output: one `LADDER` line per (query, rung), one
  * `LADDER-FIT` line per query, and a closing JSON summary (per-rung
  * `steal` included). PROFILE.md holds the analysis. */
object Ladder {

  /** The laddered battery (r14 widens the original pair/join family
    * with the sketch, curation-gate, ANN/index-probe, and archive
    * families — VERDICT r13 #4: "cost independent of corpus by design"
    * was asserted for probes and sketches, not laddered). Each entry
    * names the table whose row count is the scaling denominator.
    *
    * Expected top-leg shapes: pair/join families ≤ ~1.0
    * (candidate/output-proportional); single-scan families ~≤ 1.0
    * (sketch builds, gates, decontamination scan the corpus once);
    * probe families well under (the probed-cell / banded-posting read
    * is bounded by the batch, not the corpus — only the warm pass pays
    * the per-dir index build). */
  private val Family: Seq[(String, String)] = Seq(
    // pair/join family — candidate volume is the hazard
    "q_ngram_jaccard" -> "documents", // prefix-filtered jaccard (r13 fix)
    "q_dedup_clusters" -> "documents", // jaccard edges -> pointer-jumping CC
    "q_canonical_select" -> "documents", // cluster table + argmax join
    "q_simhash_pairs" -> "documents", // banded simhash self-join
    "q_minhash_lsh_pairs" -> "documents", // banded minhash self-join
    "q_winnow_pairs" -> "documents", // winnow fingerprint self-join
    "q_edit_distance" -> "documents", // banded candidates + bounded confirm
    "q_semdedup" -> "embeddings", // cluster-blocked cosine pairs
    "q_cosine_dup_pairs" -> "embeddings", // hot-label-guarded cosine pairs
    "q_pagerank" -> "documents", // broadcast-round rank over jaccard edges
    "q_banding_recall" -> "documents", // sampled-truth recall harness (r13)
    "q_banding_curve" -> "documents", // 3-config tuning sweep (r14)
    // sketch family — one corpus scan in, constant-size state out
    "q_hll_store" -> "documents", // two loads into a SketchStore + union
    "q_hll_union" -> "documents", // register-wise max merge
    "q_cms_merge" -> "documents", // register-wise sum merge
    "q_kmv_estimate" -> "documents", // k-min-values distinct estimate
    // curation-gate family — map-side rules + small aggregates
    "q_quality_gate" -> "documents",
    "q_score_gate" -> "documents", // char-LM scoring, 2 corpus passes
    "q_bloom_decontaminate" -> "documents", // broadcast Bloom prefilter
    // ANN/index-probe family — reads bounded by probes, not corpus
    "q_ann_ivf_topk" -> "embeddings", // full-scan IVF variant (linear)
    "q_ann_cell_topk" -> "embeddings", // partition-pruned probed cells
    "q_ann_pq_rerank_topk" -> "embeddings", // ADC shortlist + exact re-rank
    "q_neardup_probe" -> "documents", // banded postings probe vs history
    // archive family — pushed-filter scans + TakeOrdered pages
    "q_time_interval" -> "events",
    "q_cursor_page" -> "events")

  /** Top-leg exponent above which a query is flagged by name: 1.0 is
    * linear, candidate/pair families legitimately run slightly above
    * map-pass exponents on small corpora, quadratic is 2.0. 1.3 catches
    * a quadratic term long before it dominates while tolerating
    * fixed-overhead noise. */
  val SuperLinear = 1.3

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val mult = sys.env.getOrElse("SPARK_GRAFT_LADDER_MULT", "10").toInt
    val rung2 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rung1 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR_SMALL",
      "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.functions.register(spark)
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warmup

    val rung3 = graft.Profile.buildSynthetic(spark, rung2, mult)
    // quiesce after the synthetic build (see Profile.main: async cleaner
    // work otherwise lands inside the first measured query)
    spark.range(1000000).selectExpr("sum(id)").collect()
    System.gc()
    Thread.sleep(3000)

    val names =
      if (args.nonEmpty) Family.filter(f => args.contains(f._1)) else Family
    val rungs = Seq(rung1, rung2, rung3)
    val rowCount = scala.collection.mutable.Map.empty[(String, String), Long]
    def rowsOf(dir: String, table: String): Long =
      rowCount.getOrElseUpdate((dir, table),
        spark.read.parquet(s"$dir/$table.parquet").count())

    def clearPins(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      spark.catalog.clearCache()
    }

    // one measured sample with the /proc/stat steal accrued during it
    // alone (-1 when unreadable)
    def sample(body: () => Unit): (Double, Double) = {
      val s0 = graft.Bench.stealTicks()
      val t0 = System.nanoTime()
      body()
      val sec = (System.nanoTime() - t0) / 1e9
      val steal = (for (a <- s0; b <- graft.Bench.stealTicks())
        yield (b - a) / graft.Bench.userHz).getOrElse(-1.0)
      clearPins()
      (sec, steal)
    }

    def run(name: String, dir: String): (Double, Double) =
      sample(() => graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save())

    val samples = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_LADDER_RUNS", "2").toInt)
    // best-of-N: contention only inflates, so the min sample is the rung
    def floorOf(one: () => (Double, Double)): (Double, Double) =
      (1 to samples).map(_ => one()).minBy(_._1)

    def fitAndPrint(name: String, times: Seq[(Long, Double, Double)])
        : (String, Seq[(Long, Double, Double)], Seq[Double]) = {
      val legs = times.sliding(2).collect {
        case Seq((n1, t1, _), (n2, t2, _)) if n2 > n1 && t1 > 0 =>
          math.log(t2 / t1) / math.log(n2.toDouble / n1)
      }.toSeq
      val top = legs.lastOption.getOrElse(Double.NaN)
      val flag = if (top > SuperLinear) " SUPERLINEAR" else ""
      println(f"LADDER-FIT q=$name exponents=${
        legs.map(l => f"$l%.2f").mkString(",")} top=$top%.2f$flag")
      (name, times, legs)
    }

    val fits = for ((name, table) <- names) yield {
      val times = for (dir <- rungs) yield {
        // warm pass per (query, dir): plan compilation lands on rung 1,
        // per-dir one-time artifact builds (jaccardEdgesCache,
        // clusterTableCache) land in each rung's warm pass — measured
        // runs see steady state, so the curve is pure data scaling
        run(name, dir)
        val (sec, steal) = floorOf(() => run(name, dir))
        val n = rowsOf(dir, table)
        println(f"LADDER q=$name dir=$dir rows=$n sec=$sec%.2f " +
          f"steal=$steal%.2f")
        (n, sec, steal)
      }
      fitAndPrint(name, times)
    }

    // the PURE probe-independence rung for q_neardup_probe (VERDICT r14
    // #6): the battery query's batch is 10% of each dir's corpus, so its
    // ladder exponent tracks the BATCH, which scales with the rung. Here
    // the batch is pinned to rung 1's 10% sample (~50 docs) while the
    // HISTORY grows 500 → 5 000 → 50 000 — the construction the ANN
    // queries already use — so the fitted exponent is probe cost against
    // history size alone. Expected ≤ ~0.1: the probe reads only the
    // batch's own band-key posting buckets, never the corpus.
    val probeFixed = "q_neardup_probe_fixed"
    val fits2 = if (args.nonEmpty && !args.contains(probeFixed)) fits
    else fits :+ {
      val batch = spark.read.parquet(s"$rung1/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
        .withColumn("doc_id",
          org.apache.spark.sql.functions.col("doc_id") + 2000000000L)
      val times = for (dir <- rungs) yield {
        val root = java.nio.file.Files
          .createTempDirectory("graft-ladder-neardup-").toFile
        val idx = new graft.store.NearDupIndex(spark, root.toString)
        idx.append(spark.read.parquet(s"$dir/documents.parquet"))
        clearPins()
        def probe(): Unit =
          idx.probe(batch).write.mode("overwrite").format("noop").save()
        probe() // warm: plan + postings footer reads
        // drop the warm pass's Checkpoints pins (ADVICE r15 #2): the
        // battery path's warm run() clears pins via sample(), but a bare
        // probe() leaves its pinned frames in the CacheManager, and the
        // first measured sample's semantically-identical plans could hit
        // that cache — publishing a cached-read time as the floor
        clearPins()
        val (sec, steal) = floorOf(() => sample(() => probe()))
        val n = rowsOf(dir, "documents")
        println(f"LADDER q=$probeFixed dir=$dir rows=$n sec=$sec%.2f " +
          f"steal=$steal%.2f")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete()
        }
        rm(root)
        (n, sec, steal)
      }
      fitAndPrint(probeFixed, times)
    }

    val qjson = fits2.map { case (n, times, legs) =>
      s""""$n":{"rungs":${times.map { case (r, t, s) =>
        s"""{"rows":$r,"sec":${f"$t%.3f"},"steal":${f"$s%.2f"}}"""
      }.mkString("[", ",", "]")},""" +
        s""""exponents":${legs.map(l => f"$l%.3f").mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val worst = fits2.flatMap { case (n, _, legs) =>
      legs.lastOption.map(n -> _) }.sortBy(-_._2)
    println(s"""{"metric":"ladder","mult":$mult,"queries":$qjson,""" +
      s""""worst_top_leg":${worst.headOption.map { case (n, e) =>
        s"""{"q":"$n","exponent":${f"$e%.3f"}}""" }.getOrElse("null")}}""")
    spark.stop()
  }
}
