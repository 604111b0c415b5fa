package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.{Fs, ManifestLog, ManifestedStore}

/** IVF index materialized as cell-partitioned storage: vectors live in a
  * parquet table partitioned by cell id, centroids in a small side table.
  * A probe then READS only the probed cells — the scan's PartitionFilters
  * prune every other cell's files — instead of scanning the corpus and
  * discarding non-probed rows in a filter (what [[Similarity.ivfTopK]]
  * does over an unpartitioned table). At 100 TB with, say, 4096 cells and
  * nprobe=8, a query batch touches 0.2% of the data; this layout is the
  * difference between an index and a full scan per batch.
  *
  * The index is VERSIONED: every build lands in a fresh generation dir
  * (`data/<dir>/{vectors,centroids,codes,codebooks}`), made visible by
  * committing a [[ManifestLog]] version whose one cell points at it —
  * the replace-style snapshot [[graft.store.ClusterStore]] publishes,
  * through the same commit CAS and retry loop, which also vacuums the
  * generations past `keepVersions`. Readers resolve the current version
  * once per operation, so a concurrent [[retrain]] is invisible until
  * its generation is complete and published — they see the old index or
  * the new one, never a mix. A build that dies mid-write leaves an
  * unreferenced dir (garbage for [[vacuumOrphans]], never corruption).
  */
final class CellIndex(spark: SparkSession, path: String,
    keepVersions: Int = 3) extends ManifestedStore {

  // ───────────────────────── generation plumbing ─────────────────────────

  protected val log = new ManifestLog(spark, path, keepVersions)

  {
    // the layout before the manifest log: pointer files under gen/ naming
    // gen-XXXX dirs beside them, which this index no longer reads —
    // reading it as an unbuilt index would hide every stored vector
    val f = Fs.fs(spark, path)
    if (f.exists(new Path(path, "gen")) &&
        !f.exists(new Path(path, "manifests")))
      throw new IllegalStateException(
        s"$path holds a CellIndex in the generation-pointer layout (gen/) " +
          "and no manifests/: this layout is no longer read; rebuild the " +
          "index from its vectors into a fresh path")
  }

  /** Root of the CURRENT generation (falls back to `path` itself before
    * the first commit, so a not-yet-built index fails with the usual
    * path-not-found). Resolved ONCE at the start of every operation that
    * reads more than one table, so vectors / centroids / codes /
    * codebooks always come from the same generation even while a retrain
    * publishes another. */
  private def root: String = log.resolve() match {
    case Some((_, entries)) =>
      log.dataPath(entries(CellIndex.GenCell).head).toString
    case None => path
  }

  /** Build into a fresh generation dir, then publish it as the next
    * version — the write-everything-then-swap discipline every build
    * path shares. A racing publisher can slot in first: both generations
    * are complete and self-consistent, and the last committed wins. */
  private def publishGen(body: String => Unit): Unit = {
    val gen = log.freshDir(tag = "gen")
    body(log.dataPath(gen).toString)
    log.commitRetry(_ => Map(CellIndex.GenCell -> Seq(gen)))
  }

  // ─────────────────────────────── builds ───────────────────────────────

  /** Materialize the index: vectors partitioned by cell (one directory
    * per cell — cells are the coarse-quantizer granularity, thousands at
    * most, so directory fan-out stays bounded), plus the per-cell mean
    * vectors. */
  def build(emb: DataFrame, cellCol: String = "label"): Unit =
    publishGen { g =>
      emb
        .withColumn("cell", col(cellCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cell")
        .parquet(g + "/vectors")
      Similarity.centroids(emb, cellCol)
        .write.mode(SaveMode.Overwrite).parquet(g + "/centroids")
    }

  /** Build with LEARNED cells: train a k-means coarse quantizer
    * ([[Similarity.kmeans]] — deterministic seeds, integer-exact
    * updates), assign every vector to its nearest trained centroid, and
    * lay the corpus out by that assignment. This is the from-scratch IVF
    * build — no pre-existing label column required; `k` picks the
    * partition granularity (at 100 TB: thousands of cells so nprobe/k
    * bounds the fraction of data a probe reads). */
  def buildLearned(emb: DataFrame, k: Int, iters: Int = 2): Unit =
    publishGen(buildLearnedInto(_, emb, k, iters))

  private def buildLearnedInto(
      g: String, emb: DataFrame, k: Int, iters: Int): Unit = {
    graft.functions.functions.register(emb.sparkSession)
    // train driver-side: the model is k×dim doubles, and writing it from
    // the collected value (not the kmeans result plan) avoids re-running
    // full-corpus assignment passes just to persist k rows
    val cents = Similarity.kmeansModel(emb, k, iters)
    // assignment is the trainer's own map-side argmin expression — the
    // partitioned write is then the only data movement in the build
    val assigned = emb.withColumn("__a", Similarity.nearestCentroidStruct(
      cents, expr("CAST(embedding AS ARRAY<DOUBLE>)")))
    assigned
      .withColumn("cell", col("__a.cl")).drop("__a")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(g + "/vectors")
    // build-time drift baseline: p95 of the training corpus's assignment
    // distance (micro squared-L2, the same unit DriftStats reports) —
    // the yardstick [[retrainIfDrifted]] compares append batches
    // against. A second pass over `emb`, not a persist: build inputs are
    // stored tables, and caching a 100 TB corpus to save one scan is the
    // wrong trade.
    val bRow = assigned.select(col("__a.d").as("d"))
      .agg(expr("percentile(d, 0.95)")).head()
    writeBaseline(g, if (bRow.isNullAt(0)) 0.0 else bRow.getDouble(0))
    val session = spark
    import session.implicits._
    cents.map { case (cl, cv) => (cl, cv.toVector) }
      .toDF("cell", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(g + "/centroids")
  }

  private def writeBaseline(g: String, p95: Double): Unit = {
    val out = Fs.fs(spark, g).create(new Path(g, "baseline.txt"), true)
    try out.write(p95.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The generation's build-time p95 assignment distance, if recorded
    * (labeled [[build]]s record none — drift is defined against a
    * TRAINED quantizer). */
  private def baselineP95(r: String): Option[Double] = {
    val f = Fs.fs(spark, r)
    val p = new Path(r, "baseline.txt")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toDouble)
      finally in.close()
    }
  }

  /** Materialize the PQ half of the index: train sub-codebooks on the
    * indexed corpus ([[Similarity.pqTrain]] — deterministic, one corpus
    * pass per Lloyd round), encode every vector, and store the CODES
    * partitioned by cell next to the float vectors. The serving read
    * path of [[topKPq]] is then the probed cells' codes only —
    * m bytes/vector where the float table is 4·dim — while the float
    * table stays in place for exact re-ranking and rebuilds. This is
    * the storage layout of a billion-scale IVF-PQ index: IVF prunes
    * which FILES a probe reads, PQ shrinks the BYTES in them.
    *
    * Added to the CURRENT generation in place (it augments the committed
    * index rather than replacing it); codes land fully before the
    * codebooks table appears, and every ADC reader gates on the
    * codebooks, so a concurrent reader sees the PQ half all-or-nothing. */
  def buildPq(m: Int = 4, k: Int = 4, iters: Int = 2): Unit =
    buildPqInto(root, m, k, iters)

  private def buildPqInto(g: String, m: Int, k: Int, iters: Int): Unit = {
    graft.functions.functions.register(spark)
    val emb = spark.read.parquet(g + "/vectors")
    val books = Similarity.pqTrain(emb, m, k, iters)
    Similarity.pqEncode(emb, books, keep = Seq("cell"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(g + "/codes")
    val session = spark
    import session.implicits._
    books.map { case (j, cl, cv) => (j, cl, cv.toVector) }
      .toDF("subspace", "cluster", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(g + "/codebooks")
  }

  // ────────────────────── incremental maintenance ───────────────────────

  /** Incremental maintenance: route a batch of new vectors to their
    * nearest existing cells and append — arriving data lands in the
    * right partitions without rebuilding or re-training (the standard
    * IVF ingest path). Centroids are left as trained: a quantizer that
    * shifts with every batch would silently change probe routing.
    *
    * If the PQ half is materialized ([[buildPq]] has run), the batch is
    * ALSO encoded with the stored codebooks and appended to the codes
    * table in the same operation — encode is map-only, so the ADC probes
    * ([[topKPq]]/[[topKPqRerank]]) never silently exclude appended
    * vectors. Codebooks, like centroids, are left as trained.
    *
    * Returns the batch's assignment-distance statistics (squared-
    * Euclidean micro-distance to the winning trained centroid), the
    * observable that makes the "re-train + rebuild when the corpus
    * drifts" decision measurable: a batch drawn from the trained
    * distribution reports distances in the trained regime, a drifted
    * batch reports a jump in mean/p95. Track these per append and
    * re-train when they trend away from the build-time profile
    * ([[retrainIfDrifted]] automates exactly that policy). Cost: one
    * extra map-side aggregate over the batch (never the corpus). */
  def append(newVectors: DataFrame): CellIndex.DriftStats = {
    graft.functions.functions.register(newVectors.sparkSession)
    val r = root
    // cell ids pass through lit(), so integer AND string-labeled indexes
    // are appendable — whatever type build()/buildLearned() partitioned by
    val cents = spark.read.parquet(r + "/centroids").collect()
      .map(row => row.getAs[Any]("cell") ->
        row.getAs[scala.collection.Seq[Double]]("centroid")).toSeq
    // null/uncastable embeddings have no distance and so no cell —
    // unroutable and unprobeable, they are excluded rather than written
    // into a null partition; persist so the batch is evaluated ONCE for
    // both the write and the stats (and the two can never disagree on a
    // nondeterministic source)
    val assigned = newVectors.withColumn("__a",
      Similarity.nearestCentroidStruct(
        cents, expr("CAST(embedding AS ARRAY<DOUBLE>)")))
      .filter(col("__a.d").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val routed = assigned.withColumn("cell", col("__a.cl")).drop("__a")
      routed
        .write.mode(SaveMode.Append)
        .partitionBy("cell")
        .parquet(r + "/vectors")
      if (Fs.exists(spark, r + "/codebooks"))
        Similarity.pqEncode(routed, codebooksAt(r), keep = Seq("cell"))
          .write.mode(SaveMode.Append)
          .partitionBy("cell")
          .parquet(r + "/codes")
      val stats = assigned
        .select(col("__a.d").as("d"))
        .agg(count(lit(1)).as("n"), avg(col("d")).as("mean"),
          expr("percentile(d, 0.95)").as("p95"), max(col("d")).as("mx"))
        .collect().head
      if (stats.getLong(0) == 0L) CellIndex.DriftStats(0L, 0.0, 0.0, 0L)
      else CellIndex.DriftStats(stats.getLong(0), stats.getDouble(1),
        stats.getDouble(2), stats.getLong(3))
    } finally assigned.unpersist(false)
  }

  /** Append `batch`, then RETRAIN the whole index if the batch's
    * assignment-distance p95 exceeds the build-time baseline by more
    * than `factor` — the drift policy the [[append]] readout exists
    * for, closed into an actual decision. The batch is appended first
    * either way (it must not be lost, and the rebuild corpus should
    * include it); a drifted batch then triggers exactly one [[retrain]],
    * whose fresh generation re-learns the quantizer (and PQ codebooks,
    * if present) on the merged corpus — which also RESETS the baseline,
    * so follow-on batches from the new distribution no longer trigger.
    * Indexes without a recorded baseline (labeled [[build]]s) never
    * retrain here: drift is measured against a TRAINED quantizer. */
  def retrainIfDrifted(
      batch: DataFrame, factor: Double = 4.0,
      iters: Int = 2): CellIndex.AppendOutcome = {
    val stats = append(batch)
    val drifted = stats.n > 0 &&
      baselineP95(root).exists(b => b > 0 && stats.p95MicroDist > b * factor)
    if (drifted) retrain(iters)
    CellIndex.AppendOutcome(stats, retrained = drifted)
  }

  /** Re-train on the CURRENT stored corpus — a learned coarse quantizer
    * at the same cell count, plus PQ codebooks at the same (m, k) when
    * the PQ half exists — into a fresh generation, atomically published
    * as the next version. Readers resolve the version per operation:
    * they see the old generation until the new one is complete, never a
    * mix. (A labeled index retrains into a LEARNED one: retraining is by
    * definition a quantizer fit.) */
  def retrain(iters: Int = 2): Unit = {
    val r = root
    val emb = spark.read.parquet(r + "/vectors").drop("cell")
    val kCoarse = spark.read.parquet(r + "/centroids").count().toInt
    val pqShape =
      if (Fs.exists(spark, r + "/codebooks")) {
        val books = codebooksAt(r)
        Some((books.map(_._1).max + 1, books.count(_._1 == 0)))
      } else None
    publishGen { g =>
      buildLearnedInto(g, emb, kCoarse, iters)
      pqShape.foreach { case (m, kPq) => buildPqInto(g, m, kPq, iters) }
    }
  }

  /** Pre-touch the current generation's filesystem metadata: walk every
    * table dir and read every parquet footer, driver-side, no data
    * scan. A freshly built/appended index pays a one-time cold
    * listing/footer cost on its FIRST probe (the PROFILE round-9c
    * outlier: 26.8 s vs 3.5 s steady state at 64×); a streaming driver
    * that calls warm() at stream start moves that cost out of batch 1.
    * Optional — latency only, NEVER correctness: any listing/footer
    * failure is swallowed (the probe that follows will surface a real
    * problem with real context). Returns the number of files
    * touched. */
  def warm(): Long =
    try {
      val f = Fs.fs(spark, path)
      val conf = spark.sparkContext.hadoopConfiguration
      val r = root
      val parts = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.FileStatus]
      def walk(p: Path): Unit = f.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (ManifestLog.isDataFile(st.getPath.getName)) parts += st
      }
      Seq("vectors", "codes", "centroids", "codebooks").foreach { t =>
        val base = new Path(s"$r/$t")
        if (f.exists(base)) walk(base)
      }
      Fs.footerRows(conf, parts.toArray)
      parts.length.toLong
    } catch { case scala.util.control.NonFatal(_) => 0L }

  // ────────────────────────── store maintenance ─────────────────────────

  /** Index economics from filesystem METADATA only (no data scan):
    * retained generations, the CURRENT generation's cell count,
    * per-table parquet file counts and bytes, and the worst per-cell
    * file fan-out — the gauge [[compactIfNeeded]] consults. Every
    * [[append]] adds one file per touched cell (two with the PQ half),
    * so a long append stream fragments cell dirs exactly like gram
    * buckets. */
  def stats(): CellIndex.Stats = {
    val f = Fs.fs(spark, path)
    val r = root
    def leafStats(table: String): (Int, Long, Long, Int) = {
      val base = new Path(s"$r/$table")
      if (!f.exists(base)) (0, 0L, 0L, 0)
      else {
        val cells = f.listStatus(base).toSeq.filter(st =>
          st.isDirectory && st.getPath.getName.startsWith("cell="))
        var files = 0L; var bytes = 0L; var worst = 0
        cells.foreach { c =>
          val parts = f.listStatus(c.getPath)
            .filter(st => ManifestLog.isDataFile(st.getPath.getName))
          files += parts.length
          bytes += parts.map(_.getLen).sum
          worst = math.max(worst, parts.length)
        }
        (cells.size, files, bytes, worst)
      }
    }
    val (vCells, vFiles, vBytes, vWorst) = leafStats("vectors")
    val (_, cFiles, cBytes, cWorst) = leafStats("codes")
    CellIndex.Stats(log.versions.size, vCells, vFiles, vBytes,
      cFiles, cBytes, math.max(vWorst, cWorst))
  }

  /** Rewrite the current generation's fragmented cell dirs into
    * `filesPerCell` files per cell — vectors and, when materialized,
    * codes — into a FRESH generation published like a build.
    * The trained quantizer, PQ codebooks, and drift baseline are carried
    * over verbatim: compaction is a layout rewrite, never a retrain, so
    * probe routing and ADC answers are bit-identical before and after.
    * Readers are safe at any moment (they resolve the version once per
    * operation and see old or new, never a mix); WRITERS share the
    * single-writer discipline [[append]]/[[retrain]] already require —
    * schedule compaction from the appending driver between batches,
    * because an append landing in the old generation while the rewrite
    * runs would not be copied into the new one.
    * Returns the rewritten cell count (0 = nothing fragmented). */
  def compact(filesPerCell: Int = 1): Int =
    compactWith(stats(), filesPerCell)

  private def compactWith(s: CellIndex.Stats, filesPerCell: Int): Int = {
    require(filesPerCell >= 1, "filesPerCell must be >= 1")
    val f = Fs.fs(spark, path)
    val r = root
    if (!f.exists(new Path(s"$r/vectors"))) return 0
    if (s.maxFilesPerCell <= filesPerCell) return 0
    publishGen { g =>
      def rewrite(table: String): Unit =
        spark.read.parquet(s"$r/$table")
          .withColumn("__salt",
            pmod(xxhash64(col("vec_id").cast("string")), lit(filesPerCell)))
          .repartition(math.max(s.cells * filesPerCell, 1),
            col("cell"), col("__salt"))
          .drop("__salt")
          .write.mode(SaveMode.Overwrite)
          .partitionBy("cell")
          .parquet(s"$g/$table")
      rewrite("vectors")
      spark.read.parquet(s"$r/centroids").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$g/centroids")
      if (Fs.exists(spark, s"$r/codes")) rewrite("codes")
      if (Fs.exists(spark, s"$r/codebooks"))
        spark.read.parquet(s"$r/codebooks").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$g/codebooks")
      baselineP95(r).foreach(writeBaseline(g, _))
    }
    s.cells
  }

  /** Run [[compact]] only once some cell's file fan-out exceeds
    * `maxFilesPerCell` — cheap to call after every [[append]], pays only
    * past the threshold (the [[graft.store.GramIndex.compactIfNeeded]]
    * policy). */
  def compactIfNeeded(maxFilesPerCell: Int = 8,
      filesPerCell: Int = 1): Int = {
    require(maxFilesPerCell >= 1, "maxFilesPerCell must be >= 1")
    // one listing serves both the trigger and the rewrite — stats() is
    // a full recursive walk of every cell dir, not free on an object
    // store
    val s = stats()
    if (s.maxFilesPerCell > maxFilesPerCell) compactWith(s, filesPerCell)
    else 0
  }

  // ─────────────────────────────── reads ────────────────────────────────

  def vectors: DataFrame = spark.read.parquet(root + "/vectors")
  def centroids: DataFrame = spark.read.parquet(root + "/centroids")
  def codes: DataFrame = spark.read.parquet(root + "/codes")

  /** The stored PQ codebooks, driver-side (m×k×(dim/m) doubles). */
  def codebooks: Seq[(Int, Int, Seq[Double])] = codebooksAt(root)

  private def codebooksAt(r: String): Seq[(Int, Int, Seq[Double])] =
    spark.read.parquet(r + "/codebooks").collect()
      .map(row => (row.getInt(0), row.getInt(1),
        row.getSeq[Double](2).toVector: Seq[Double]))
      .toSeq.sortBy(t => (t._1, t._2))

  /** Shared probe routing for the ADC serving legs ([[topKPq]] and
    * [[topKPqRerank]] — ONE copy, so probe semantics cannot drift
    * between them): per-query PQ lookup table + the nprobe nearest
    * cells by centroid cosine, plus the driver-side distinct
    * probed-cell list that partition-prunes the codes scan.
    * Returns (probes(query_id, __lut, cell), probedCells, m). */
  private def pqProbeRouting(r: String, queries: DataFrame, nprobe: Int)
      : (DataFrame, Seq[Any], Int) = {
    graft.functions.functions.register(spark)
    if (queries.sparkSession ne spark)
      graft.functions.functions.register(queries.sparkSession)
    val books = codebooksAt(r)
    val m = books.map(_._1).max + 1
    val sub = books.head._3.length
    val cents = spark.read.parquet(r + "/centroids")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_sim_micro").desc, col("cell"))
    val probes = queries
      .withColumn("__lut", Similarity.pqLutExpr(books, m, sub, "qv"))
      .crossJoin(broadcast(cents))
      .withColumn("cent_sim_micro", expr(
        s"CAST(round(${Similarity.cosineExpr("qv", "centroid")} * 1000000) AS BIGINT)"))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("__lut"), col("cell"))
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.get(0)).toSeq
    (probes, probedCells, m)
  }

  /** IVF-PQ top-k over the MATERIALIZED index: probe cells by centroid
    * cosine exactly as [[topK]], then rank only the probed cells'
    * stored codes by ADC distance through per-query lookup tables —
    * the scan reads the codes table with `PartitionFilters:
    * [cell IN (…)]` and never touches a stored float. Same ranking
    * semantics as [[Similarity.ivfPqTopK]] (shared oracle): the index
    * changes what is READ, not the answer. */
  def topKPq(queries: DataFrame, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val r = root
    val (probes, probedCells, m) = pqProbeRouting(r, queries, nprobe)
    val cands = spark.read.parquet(r + "/codes")
      .filter(col("cell").isInCollection(probedCells))
      .withColumnRenamed("vec_id", "cand_id")
    Similarity.adcRankTopK(cands.join(broadcast(probes), Seq("cell")),
      m, k, extraCols = Seq("cell"))
  }

  /** IVF-PQ probe WITH an exact re-rank leg — the production serving
    * shape: ADC ranks the probed cells' stored codes cheaply (m lookups
    * per candidate, never a stored float), the top `rerank` candidates
    * per query then join back to the STORED float vectors for exact
    * cosine, and the final top-k comes from the exact scores. This caps
    * quantization error at the ranking boundary: ADC only has to get
    * the true top-k somewhere into its top-r (r = `rerank`), not order
    * them.
    *
    * Read shape: the float-table read is candidate-bounded, not a scan —
    * the scan itself is partition-pruned to the probed cells
    * (`PartitionFilters: [cell IN (…)]`), and the tiny candidate set
    * (|queries|·r rows) is BROADCAST against it, so only probed files
    * are opened and only r rows per query survive the join. Cost over
    * [[topKPq]]: one broadcast join + |queries|·r exact distances. */
  def topKPqRerank(
      queries: DataFrame, k: Int = 5, nprobe: Int = 2,
      rerank: Int = 20): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val r = root
    val (probes, probedCells, m) = pqProbeRouting(r, queries, nprobe)
    val cands = spark.read.parquet(r + "/codes")
      .filter(col("cell").isInCollection(probedCells))
      .withColumnRenamed("vec_id", "cand_id")
    // stage 1 — ADC shortlist: top-r per query over the probed codes
    val shortlist = Similarity
      .adcRankTopK(cands.join(broadcast(probes), Seq("cell")),
        m, rerank, extraCols = Seq("cell"))
      .select(col("query_id"), col("cand_id"), col("cell"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))),
        Seq("query_id"))
    // stage 2 — exact re-rank: probed cells' floats (partition-pruned
    // scan), broadcast-joined with the tiny shortlist, exact cosine
    val floats = spark.read.parquet(r + "/vectors")
      .filter(col("cell").isInCollection(probedCells))
      .select(col("vec_id").as("cand_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("cv"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim_micro").desc, col("cand_id"))
    floats.join(broadcast(shortlist), Seq("cand_id"))
      .withColumn("cos_sim_micro", expr(
        s"CAST(round(${Similarity.cosineExpr("qv", "cv")} * 1000000) AS BIGINT)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cell"), col("rank"),
        col("cos_sim_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF top-k over the materialized index. `queries` carries
    * (query_id, qv: Array[Double]); probe cells are assigned by centroid
    * cosine on the driver-collected (small) centroid table, and the
    * candidate scan reads only those cells — check the plan for
    * `PartitionFilters: [cell IN (…)]`. */
  def topK(queries: DataFrame, k: Int = 5, nprobe: Int = 2): DataFrame = {
    // cosineExpr emits vector_dot — the candidate plan is rooted in THIS
    // index's session (vectors/centroids), so that registry is the one
    // that must resolve it; register on the caller's session too in case
    // the query side analyzes separately
    graft.functions.functions.register(spark)
    if (queries.sparkSession ne spark)
      graft.functions.functions.register(queries.sparkSession)
    val r = root
    val cents = spark.read.parquet(r + "/centroids")
    // micro-rounded probe similarity — same integer-exact ranking as
    // Similarity.ivfTopK, so index and full-scan variants share an oracle
    val probes = cosineProbes(queries, cents, nprobe)
    // the probed cell ids are a tiny driver-side list (|queries|×nprobe
    // at most): inlining them as a literal IN-list is what lets the
    // parquet source prune partitions at planning time
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.get(0)).toSeq
    val cands = spark.read.parquet(r + "/vectors")
      .filter(col("cell").isInCollection(probedCells))
      .select(col("vec_id").as("cand_id"), col("cell"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("cv"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim_micro").desc, col("cand_id"))
    cands.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos_sim_micro", expr(
        s"CAST(round(${Similarity.cosineExpr("qv", "cv")} * 1000000) AS BIGINT)"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("cell"), col("rank"),
        col("cos_sim_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The nprobe COSINE-nearest cells per query — the one in-file float
    * probe router [[topK]] and [[semanticNearDups]] share (the PQ twin
    * is [[pqProbeRouting]], with its own spec'd surface): micro-rounded
    * cosine against the broadcast centroid table, ties to the smaller
    * cell. Two inline copies of this ranking drifted apart once before
    * the L2-union fix; one definition keeps probe semantics identical.
    * `queries` must carry (query_id, qv: array<double>). */
  private def cosineProbes(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_sim_micro").desc, col("cell"))
    queries.crossJoin(broadcast(cents))
      .withColumn("cent_sim_micro", expr(
        s"CAST(round(${Similarity.cosineExpr("qv", "centroid")} * 1000000) AS BIGINT)"))
      .withColumn("probe_rank", row_number().over(wProbe))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
  }

  /** Incremental SemDeDup probe: which of `batch`'s vectors (vec_id,
    * embedding) are semantic near-dups of anything ALREADY IN the
    * index? The embedding-space twin of
    * [[graft.store.NearDupIndex]]'s band-posting probe: each batch
    * vector routes to its `nprobe` nearest cells (broadcast centroid
    * table, map-side) and compares cosine ONLY against those cells'
    * stored vectors — the history scan is partition-pruned to the
    * batch's own probed cells, so cost per batch is
    * O(batch × probed-cell population), independent of history size.
    * [[Similarity.semanticDedup]] answers the same question batch-
    * locally; this answers it against 100 TB of history.
    *
    * A history row with the SAME vec_id as a batch row is an exact
    * replay (at-least-once delivery), reported with `is_replay` true
    * rather than as a near-dup, so [[semanticIngest]] can be
    * idempotent without a corpus-wide id anti-join. The probed set is
    * the nprobe COSINE-nearest cells UNION the vector's own
    * squared-L2-ROUTED cell — the cell [[append]] stores it in. The
    * union is what makes the replay guarantee unconditional: storage
    * routes by L2 argmin while probes rank by cosine, and on
    * unnormalized embeddings the two can disagree on the top cell, so
    * a cosine-only probe could miss the stored copy and re-append a
    * replayed vector (breaking exactly-once). On unit-norm embeddings
    * the two metrics agree and the union adds nothing.
    *
    * @return one row per flagged batch vector:
    *         (vec_id, dup_of, cos_sim_micro, is_replay) — `dup_of` the
    *         best history match (highest similarity, then lowest id);
    *         vectors with no match above the threshold emit nothing
    */
  def semanticNearDups(
      batch: DataFrame,
      thresholdMicro: Long = 300000L,
      nprobe: Int = 1): DataFrame = {
    graft.functions.functions.register(spark)
    if (batch.sparkSession ne spark)
      graft.functions.functions.register(batch.sparkSession)
    val r = root
    val cents = spark.read.parquet(r + "/centroids")
    val queries = batch.select(col("vec_id").as("query_id"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("qv"))
    // ... plus the cell the vector ROUTES to (L2 argmin — where append
    // stores it): the unconditional replay guarantee (see scaladoc).
    // Map-side against the same broadcast-sized model; at most one
    // extra cell per query, none when the metrics agree.
    val centSeq = cents.collect().map(row => row.getAs[Any]("cell") ->
      row.getAs[scala.collection.Seq[Double]]("centroid")).toSeq
    val routedProbes = queries
      .withColumn("cell", Similarity.nearestCentroidExpr(centSeq, col("qv")))
      .filter(col("cell").isNotNull)
      .select(col("query_id"), col("qv"), col("cell"))
    val probes = cosineProbes(queries, cents, nprobe)
      .union(routedProbes)
      .dropDuplicates("query_id", "cell")
    val probedCells = probes.select("cell").distinct().collect()
      .map(_.get(0)).toSeq
    val history = spark.read.parquet(r + "/vectors")
      .filter(col("cell").isInCollection(probedCells))
      .select(col("vec_id").as("cand_id"), col("cell"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("cv"))
    val scored = history.join(broadcast(probes), Seq("cell"))
      .withColumn("cos_sim_micro", expr(
        s"CAST(round(${Similarity.cosineExpr("qv", "cv")} * 1000000) AS BIGINT)"))
      .filter(col("cand_id") === col("query_id") ||
        col("cos_sim_micro") > thresholdMicro)
    // replay beats near-dup; then best match = (max sim, min cand_id)
    val wBest = Window.partitionBy(col("query_id")).orderBy(
      (col("cand_id") === col("query_id")).desc,
      col("cos_sim_micro").desc, col("cand_id"))
    scored
      .withColumn("__rk", row_number().over(wBest))
      .filter(col("__rk") === 1)
      .select(col("query_id").as("vec_id"), col("cand_id").as("dup_of"),
        col("cos_sim_micro"),
        (col("cand_id") === col("query_id")).as("is_replay"))
  }

  /** The full incremental-SemDeDup cycle: flag `batch` against history
    * ([[semanticNearDups]]), drop flagged rows AND within-batch
    * near-dups (the [[Similarity.semanticDedup]] min-id rule, blocked
    * on this index's own cells so the pair join stays cell-local),
    * then [[append]] only the survivors — so the index never stores
    * two semantic copies and a replayed batch commits nothing.
    * Both halves are partition-pruned: per-batch cost never depends on
    * history size.
    *
    * @return the appended survivors' (vec_id, reason-free) count plus
    *         per-category drop counts
    */
  def semanticIngest(
      batch: DataFrame,
      thresholdMicro: Long = 300000L,
      nprobe: Int = 1): CellIndex.SemanticIngestStats =
    semanticIngestResolved(batch, thresholdMicro, nprobe)._2

  /** [[semanticIngest]] that ALSO returns the batch's CANONICAL rows
    * (original batch columns) — the emission a streaming pipeline sinks
    * (the semantic stage of [[graft.streaming.StreamOps.curateAllBatch]]).
    * The emission is STATE-derived, the [[graft.store.FingerprintIndex
    * .ingestResolved]] discipline: it contains the fresh survivors this
    * call appends AND any batch row whose vec_id is already stored
    * (`is_replay`) — that row IS its own canonical copy in the index.
    * Replays are still never re-appended. This is what makes the
    * ingest-then-emit micro-batch idempotent end to end: a retry after
    * a crash BETWEEN the append commit and the sink finds its survivors
    * as replays and re-emits the identical rows, where an
    * appended-rows-only emission would emit nothing and the crashed
    * attempt's documents would never reach the sink. Both frames are
    * checkpointed before the append (see the lineage note below), so
    * re-evaluating the emission after the commit returns the same
    * rows. */
  def semanticIngestResolved(
      batch: DataFrame,
      thresholdMicro: Long = 300000L,
      nprobe: Int = 1): (DataFrame, CellIndex.SemanticIngestStats) = {
    val r = root
    val cents = spark.read.parquet(r + "/centroids").collect()
      .map(row => row.getAs[Any]("cell") ->
        row.getAs[scala.collection.Seq[Double]]("centroid")).toSeq
    val flagged = semanticNearDups(batch, thresholdMicro, nprobe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nReplay = flagged.filter(col("is_replay")).count()
      val nHistDup = flagged.filter(!col("is_replay")).count()
      // anti-join, not left-join + isNull-on-a-literal-marker: a lit()
      // marker column is non-nullable, so Catalyst folds the IsNull
      // filter to false and silently drops every row.
      // localCheckpoint (eager): survivors' lineage READS this index's
      // vectors path (through the probe), and [[append]] is about to
      // WRITE that path — the write invalidates any cache over it by
      // path, so append's post-write stats pass would re-evaluate the
      // probe against history-that-now-contains-the-batch and count 0.
      // Checkpointing pins the batch-sized survivor set to blocks and
      // cuts the parquet dependency.
      val survivors = batch.join(flagged.select("vec_id"),
        Seq("vec_id"), "left_anti")
        .transform(Checkpoints.pin(_))
      // within-batch min-id pass, blocked on this index's cells (the
      // routing every survivor is about to take anyway)
      val routed = survivors.withColumn("cell",
        Similarity.nearestCentroidExpr(cents,
          expr("CAST(embedding AS ARRAY<DOUBLE>)")))
      val v = routed
        .withColumn("v", expr("CAST(embedding AS ARRAY<DOUBLE>)"))
        .withColumn("norm", expr("sqrt(vector_dot(v, v))"))
      val a = v.select(col("cell"), col("vec_id").as("vec_a"),
        col("v").as("qv"), col("norm").as("qnorm"))
      val b = v.select(col("cell"), col("vec_id").as("vec_b"),
        col("v").as("cv"), col("norm").as("cnorm"))
      val batchDups = a.join(b, Seq("cell"))
        .filter(col("vec_a") < col("vec_b"))
        .filter(expr(
          "CAST(round(vector_dot(qv, cv) / (qnorm * cnorm) * 1000000) " +
            s"AS BIGINT) > $thresholdMicro"))
        .select(col("vec_b").as("vec_id")).distinct()
      val nBatchDup = batchDups.count()
      val kept = survivors.join(batchDups, Seq("vec_id"), "left_anti")
        // pin the kept set too: both parents are batch-sized and already
        // checkpoint-backed, but the anti-join result is what callers
        // re-read after the append — freeze it so the emission is one
        // stable row set, not a plan
        .transform(Checkpoints.pin(_))
      // replayed rows are canonical BY STATE (their stored copy is
      // themselves); pin them before the append for the same reason
      val replayRows = batch.join(
        flagged.filter(col("is_replay")).select("vec_id"),
        Seq("vec_id"))
        .transform(Checkpoints.pin(_))
      val stats = append(kept)
      (kept.unionByName(replayRows), CellIndex.SemanticIngestStats(
        appended = stats.n, replays = nReplay,
        historyDups = nHistDup, batchDups = nBatchDup))
    } finally flagged.unpersist(false)
  }
}

object CellIndex {
  /** The one manifest cell: it lists the current generation's dir. */
  private val GenCell = "generation"

  /** Filesystem-level index economics; see [[CellIndex.stats]]. */
  final case class Stats(generations: Int, cells: Int,
      vectorFiles: Long, vectorBytes: Long,
      codeFiles: Long, codeBytes: Long, maxFilesPerCell: Int)

  /** [[CellIndex.semanticIngest]] readout. */
  final case class SemanticIngestStats(
      appended: Long, replays: Long, historyDups: Long, batchDups: Long)

  /** Per-append assignment-distance profile: squared-Euclidean
    * micro-distances (×1e6, the trainer's own unit) from each appended
    * vector to its winning trained centroid. */
  final case class DriftStats(
      n: Long, meanMicroDist: Double, p95MicroDist: Double, maxMicroDist: Long)

  /** [[CellIndex.retrainIfDrifted]] readout: the append's drift stats
    * plus whether they crossed the baseline and triggered a rebuild. */
  final case class AppendOutcome(stats: DriftStats, retrained: Boolean)
}
