package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSuite {

  lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend", "en"),
      (3L, "completely different text about spark query engines and columnar storage", "en"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank", "en"))
      .toDF("doc_id", "text", "lang")
  }

  test("simhash: identical docs share hash; near-dups are close; distinct far") {
    val h = Dedup.simhash(docs).select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(4L)) // identical text → identical simhash
    val nearDist = java.lang.Long.bitCount(h(1L) ^ h(2L))
    val farDist = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(nearDist < farDist)
    assert(nearDist <= 16, s"one-word change moved $nearDist bits")
  }

  test("simhashPairs surfaces the exact-dup pair at hamming 0") {
    val pairs = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 4L, 0)))
  }

  test("simhash banding handles negative hashes (bit-63 differences)") {
    // regression: shiftright sign-extends negative simhashes, so band
    // keys must mask with & 65535 — two hashes identical except bit 63
    // (Hamming 1) share bands 0-2 and MUST collide
    import spark.implicits._
    val base = 0x1234abcd5678efL
    val hashes = Seq(
      (1L, base),                 // positive
      (2L, base | Long.MinValue), // negative, differs only in bit 63
      (3L, 0x7fffffffffffffffL))
      .toDF("doc_id", "simhash")
    val pairs = Dedup.simhashPairsFromHashes(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 1)),
      s"bit-63 pair lost by banding: ${pairs.toSeq}")
  }

  test("simhashMd5: 60-bit hashes, same near/far structure as xxhash64") {
    val h = Dedup.simhashMd5(docs).select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.values.forall(v => v >= 0 && v < (1L << 60))) // 60-bit positive
    assert(h(1L) === h(4L))
    val nearDist = java.lang.Long.bitCount(h(1L) ^ h(2L))
    val farDist = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(nearDist < farDist)
  }

  test("simhashPairsMd5 surfaces the exact-dup pair at hamming 0") {
    val pairs = Dedup.simhashPairsMd5(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 4L, 0)))
  }

  test("hyperplaneLshMd5: identical vectors share buckets; planes are ±1") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq.fill(64)(1.0f)),
      (2L, Seq.fill(64)(1.0f)),
      (3L, (0 until 64).map(i => if (i % 2 == 0) -1.0f else 0.5f)))
      .toDF("vec_id", "embedding")
    val b = Similarity.hyperplaneLshMd5(emb).select("vec_id", "lsh_bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) === b(2L))
    val signs = Similarity.md5PlaneSigns(12, 64)
    assert(signs.flatten.forall(s => s == 1.0 || s == -1.0))
    assert(signs.flatten.count(_ < 0) > 0) // not degenerate
  }

  test("decodeStubMd5 is content-addressed like the blake2b stub") {
    val a1 = MediaAsset(1L, "video", "hello".getBytes("UTF-8"))
    val a2 = MediaAsset(2L, "video", "hello".getBytes("UTF-8"))
    val f1 = Multimodal.decodeStubMd5(a1)
    val f2 = Multimodal.decodeStubMd5(a2)
    assert(f1.content_hash === f2.content_hash)
    assert(f1.content_hash.length === 32) // md5 hex
    assert(f1.width === f2.width && f1.height === f2.height)
  }

  test("winnow: shared substrings share fingerprints; whitespace " +
    "variants are identical; short docs are empty") {
    import spark.implicits._
    val boiler = "this license text is repeated verbatim across many files"
    val d = Seq(
      (1L, s"alpha document unique prefix $boiler"),
      (2L, s"totally different material here $boiler and a suffix"),
      (3L, "no overlap with anything else whatsoever in this one"),
      (4L, s"  alpha   DOCUMENT unique prefix $boiler "), // ws/case variant of 1
      (5L, "tiny")).toDF("doc_id", "text")
    val fp = Dedup.winnow(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // the guarantee: a shared substring of length >= k+w-1 (11) yields
    // at least one identical fingerprint — docs 1 and 2 share `boiler`
    assert((fp(1L) intersect fp(2L)).nonEmpty)
    // normalization: doc 4 is doc 1 modulo case/whitespace — identical
    assert(fp(4L) === fp(1L))
    // a disjoint doc shares nothing with doc 3's content
    assert((fp(3L) intersect fp(1L)).isEmpty)
    // shorter than k + w - 1 chars -> no fingerprints
    assert(fp(5L).isEmpty)
    // whole-doc fingerprinting (md5 of the full text) catches NONE of
    // the partial overlaps above — the reason winnowing exists
    assert(d.filter($"doc_id".isin(1L, 2L))
      .select(md5($"text")).distinct().count() === 2)
  }

  test("winnow_fps (native) is value-identical to the interpreted-HOF " +
    "reference spelling, including unicode and boundary lengths") {
    import spark.implicits._
    val k = 8
    val w = 4
    // the spelling winnow() used before the native expression — kept
    // here as the independent reference (same chain the DuckDB oracle
    // mirrors)
    val refExpr =
      s"""array_sort(array_distinct(flatten(transform(
         |  array(regexp_replace(lower(trim(text)), '\\\\s+', ' ')),
         |  t -> IF(length(t) < $k + $w - 1,
         |          CAST(array() AS ARRAY<BIGINT>),
         |          flatten(transform(
         |            array(transform(sequence(1, length(t) - $k + 1),
         |              i -> CAST(conv(substring(md5(substring(t, i, $k)),
         |                             1, 15), 16, 10) AS BIGINT))),
         |            g -> transform(sequence(1, size(g) - $w + 1),
         |              j -> array_min(slice(g, j, $w))))))))))""".stripMargin
    val texts = Seq(
      "", "x", "exactly11ch", "exactly11c", // around the k+w-1 = 11 edge
      "the quick brown fox jumps over the lazy dog",
      "  Mixed   CASE\twith\nwhitespace   runs  ",
      "unicode: café naïve 你好世界 " +
        "😀 emoji and more text to cross the length gate",
      "repeated repeated repeated repeated repeated",
      ("a" * 300) + "b" + ("c" * 300))
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Dedup.winnow(d, k, w).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val ref = d.select($"doc_id", expr(refExpr).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got === ref)
  }

  test("minhashCandidates finds exact and near duplicates") {
    val cands = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(cands.get((1L, 4L)).contains(8)) // identical → all 8 hashes match
    assert(!cands.contains((1L, 3L)), "unrelated docs must not collide")
  }

  test("minhashCandidatePairs (r17) is exactly the pair projection of " +
    "minhashCandidates, per band layout") {
    for (rowsPerBand <- Seq(4, 2, 1)) {
      val full = Dedup.minhashCandidates(docs, 8, rowsPerBand).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val pairs = Dedup.minhashCandidatePairs(docs, 8, rowsPerBand)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === full, s"rowsPerBand=$rowsPerBand")
      // and the sigs-sharing entry point agrees with the one-shot form
      val sigs = Dedup.minhashSigs(docs, 8)
      val shared = Dedup.minhashCandidatePairsOfSigs(sigs, 8, rowsPerBand)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(shared === full, s"sigs-shared rowsPerBand=$rowsPerBand")
    }
  }

  test("connectedComponents closes chains transitively, keeps singletons") {
    import spark.implicits._
    val vertices = (1L to 7L).toDF("doc_id")
    // components: {1,2,3} via chain 1-2, 2-3; {5,6}; singletons 4, 7
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("connectedComponents converges on a long chain (diameter > 2)") {
    import spark.implicits._
    val n = 12L
    val vertices = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(vertices, edges)
      .collect().map(r => r.getLong(1)).distinct
    assert(got === Array(1L)) // one component labeled by its min id
  }

  test("connectedComponents: pointer jumping beats the diameter bound") {
    import spark.implicits._
    // a 64-link chain needs ~63 rounds under plain min-propagation —
    // far over the 20-round cap; pointer jumping must close it in
    // O(log n) rounds or this raises the non-convergence error
    val n = 64L
    val vertices = (1L to n).toDF("doc_id")
    // descending ids along the chain so labels genuinely have to travel
    val edges = (1L until n).map(i => (n - i + 1, n - i)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(vertices, edges, maxIterations = 20)
      .collect().map(r => r.getLong(1)).distinct
    assert(got === Array(1L))
  }

  test("connectedComponents releases superseded round pins: live blocks " +
    "stay O(1) frames, not one per round") {
    import spark.implicits._
    // 64-link descending chain: needs ~7 pointer-jump rounds, so the
    // old keep-every-round behavior would leave ~8 pinned RDDs
    val n = 64L
    val vertices = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (n - i + 1, n - i)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Dedup.connectedComponents(vertices, edges, maxIterations = 20)
      .collect().map(_.getLong(1)).distinct
    assert(got === Array(1L))
    assert(Dedup.lastConnectedComponentsRounds >= 4, "chain must loop")
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    // final-round pin only (the edge pin and every superseded labels
    // pin are released in-loop); tolerate one extra for the initial
    // pin when the loop never ran
    assert(leftover.size <= 2,
      s"expected <=2 live pins after CC, found ${leftover.size}")
  }

  test("connectedComponents runs one action per round (convergence " +
    "count folded into the round aggregate)") {
    import spark.implicits._
    val n = 64L
    val vertices = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (n - i + 1, n - i)).toDF("doc_a", "doc_b")
    // AQE schedules every query stage as its own job, which would bury
    // the per-round action count; without it one action == one job
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scope = try graft.obs.Obs.collector(spark).measure(
        Dedup.connectedComponents(vertices, edges, maxIterations = 20))(cc =>
        assert(cc.collect().map(_.getLong(1)).distinct === Array(1L)))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    val jobs = scope.jobs.size
    val rounds = Dedup.lastConnectedComponentsRounds
    assert(rounds >= 4, s"pointer-jump chain should need several rounds, got $rounds")
    // exactly ONE action per round: the changed-count aggregate is the
    // job that also materializes the round's lazy checkpoint. Constant
    // overhead: the 2 initial eager checkpoints + the final collect. The
    // old eager-checkpoint-then-isEmpty shape paid 2 jobs per round and
    // fails this bound.
    assert(jobs <= rounds + 4,
      s"expected 1 job per round, got $jobs for $rounds rounds")
  }

  test("ivfTopK returns k ranked neighbors from probed cells") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // 3 clusters around orthogonal axes
    val vecs = (0 until 60).map { i =>
      val cell = i % 3
      val base = Array.fill(8)(0.05f * rng.nextFloat())
      base(cell) = 1.0f + 0.1f * rng.nextFloat()
      (i.toLong, base.toSeq, cell)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val top = Similarity.ivfTopK(emb, queryIds = Seq(0L, 1L), k = 3, nprobe = 1)
    val rows = top.collect()
    assert(rows.length === 6) // 2 queries × k=3
    // all neighbors of query 0 (cluster 0) come from cluster 0
    assert(rows.filter(_.getLong(0) == 0L).forall(_.getInt(2) === 0))
    // ranks are 1..k and similarities non-increasing
    val q0 = rows.filter(_.getLong(0) == 0L).sortBy(_.getInt(3))
    assert(q0.map(_.getInt(3)).toSeq === Seq(1, 2, 3))
    val sims = q0.map(_.getLong(4))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("kmeans recovers well-separated clusters deterministically") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // 3 tight clusters around orthogonal axes; seeds (vec_id 0,1,2) land
    // one per cluster because ids round-robin the clusters
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      val base = Array.fill(8)(0.02f * rng.nextFloat())
      base(c) = 1.0f + 0.05f * rng.nextFloat()
      (i.toLong, base.toSeq, c)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val out = Similarity.kmeans(emb, k = 3, iters = 2)
      .orderBy($"cluster").collect()
    assert(out.length === 3)
    assert(out.map(_.getLong(2)).sum === 60L) // every vector assigned
    // each learned centroid is dominated by one axis and they differ
    val domAxes = out.map(_.getSeq[Double](1).zipWithIndex.maxBy(_._1)._2)
    assert(domAxes.distinct.length === 3)
    // determinism: a second run trains the identical model
    val again = Similarity.kmeans(emb, k = 3, iters = 2)
      .orderBy($"cluster").collect()
    assert(again.map(r => (r.getInt(0), r.getSeq[Double](1), r.getLong(2)))
      .toSeq === out.map(r => (r.getInt(0), r.getSeq[Double](1), r.getLong(2))).toSeq)
    // k beyond the corpus degrades to one cluster per seed vector
    val tiny = vecs.take(2).toDF("vec_id", "embedding", "label")
    val overK = Similarity.kmeans(tiny, k = 10, iters = 1).collect()
    assert(overK.length <= 2)
    assert(overK.map(_.getLong(2)).sum === 2L)
  }

  test("pqTrain/pqEncode: per-subspace codebooks, codes recover " +
    "structure, exact duplicates share codes with zero extra error") {
    import spark.implicits._
    // dim 4, m=2 subspaces of 2: the first half clusters around
    // (1,0)/(0,1), the second around (2,0)/(0,2) — independently
    val rng = new scala.util.Random(7)
    // (a, b) pattern: seeds vec_id 0 and 1 differ in BOTH subspaces, so
    // each subspace's two seeds start one per cluster (the same
    // round-robin discipline as the kmeans spec fixture)
    val pat = Seq((0, 0), (1, 1), (0, 1), (1, 0))
    val vecs = (0 until 40).map { i =>
      val (a, b) = pat(i % 4)
      def jit = 0.01f * rng.nextFloat()
      val v = Seq(
        if (a == 0) 1.0f + jit else jit, if (a == 0) jit else 1.0f + jit,
        if (b == 0) 2.0f + jit else jit, if (b == 0) jit else 2.0f + jit)
      (i.toLong, v, a * 2 + b)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val books = Similarity.pqTrain(emb, m = 2, k = 2, iters = 2)
    assert(books.map(_._1).distinct.sorted === Seq(0, 1))
    assert(books.size === 4) // m × k
    assert(books.forall(_._3.length === 2)) // dim/m
    val codes = Similarity.pqEncode(emb, books).orderBy($"vec_id").collect()
    assert(codes.length === 40)
    // vectors sharing a (a, b) structure share the code pair; the four
    // structures map to four distinct code pairs
    val byLabel = vecs.map(_._3).zip(
      codes.map(r => (r.getInt(1), r.getInt(2)))).groupBy(_._1)
    assert(byLabel.values.forall(_.map(_._2).distinct.length === 1))
    // .values first: a Map.map returning pairs would dedup by key
    assert(byLabel.values.map(_.head._2).toSeq.distinct.length === 4)
    // error is the sum of per-subspace winners: tight clusters → small
    assert(codes.forall(_.getAs[Long]("err_micro") >= 0L))
    // determinism
    val again = Similarity.pqTrain(emb, m = 2, k = 2, iters = 2)
    assert(again === books)
  }

  test("pqAdcTopK ranks by asymmetric distance, excludes self") {
    import spark.implicits._
    // vec 0 has an exact duplicate (vec 9) and a far opposite corner
    val base = Seq(1.0f, 0.0f, 2.0f, 0.0f)
    val far = Seq(0.0f, 1.0f, 0.0f, 2.0f)
    val rows = (0L until 8L).map { i =>
      (i, if (i % 2 == 0) base.map(_ + 0.01f * i) else far.map(_ + 0.01f * i))
    } :+ (9L, base)
    val emb = rows.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(emb, m = 2, k = 2, iters = 2)
    val top = Similarity.pqAdcTopK(emb, books, queryIds = Seq(0L), k = 3)
      .collect()
    assert(top.length === 3)
    assert(top.forall(_.getLong(0) === 0L))
    assert(!top.exists(_.getLong(1) === 0L)) // self excluded
    // ranks are 1..3 ascending in adc_micro with cand_id tie-break
    assert(top.map(_.getInt(2)).toSeq === Seq(1, 2, 3))
    val adcs = top.map(_.getAs[Long]("adc_micro")).toSeq
    assert(adcs === adcs.sorted)
    // every candidate in the query's own quadrant (even ids + the dup)
    // outranks the far corner: ADC distance through shared codes is
    // the centroid distance, which separates the quadrants
    val topIds = top.map(_.getLong(1)).toSet
    assert(topIds.subsetOf(Set(2L, 4L, 6L, 9L)))
  }

  test("ivfPqTopK: candidates only from probed cells, ADC-ranked") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    // 3 cells around orthogonal axes (the ivfTopK fixture shape), dim 4
    val vecs = (0 until 30).map { i =>
      val c = i % 3
      val v = Array.fill(4)(0.02f * rng.nextFloat())
      v(c) = 1.0f
      (i.toLong, v.toSeq, c)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val books = Similarity.pqTrain(emb, m = 2, k = 3, iters = 2)
    val top = Similarity.ivfPqTopK(emb, books, queryIds = Seq(0L, 1L),
      k = 4, nprobe = 1)
    val rows = top.collect()
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq === Seq(0L, 1L))
    // nprobe=1: every candidate of query q sits in q's own cell (its
    // axis cluster is by construction the nearest centroid)
    for (q <- Seq(0L, 1L)) {
      val mine = rows.filter(_.getLong(0) == q)
      assert(mine.length === 4)
      assert(mine.map(_.getInt(2)).distinct.toSeq === Seq(q.toInt))
      assert(!mine.exists(_.getLong(1) === q))
      // ranks 1..4, adc ascending with cand_id tie-break
      assert(mine.map(_.getInt(3)).toSeq === Seq(1, 2, 3, 4))
      val adcs = mine.map(_.getAs[Long]("adc_micro")).toSeq
      assert(adcs === adcs.sorted)
    }
  }

  test("CellIndex.topKPq: ADC ranking over the probed cells' stored " +
    "codes only — pruned scan, parity with the in-memory ivfPqTopK") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    val vecs = (0 until 60).map { i =>
      val cell = i % 3
      val base = Array.fill(8)(0.05f * rng.nextFloat())
      base(cell) = 1.0f + 0.1f * rng.nextFloat()
      (i.toLong, base.toSeq, cell)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("cellidx-pq").toString
    val idx = new CellIndex(spark, dir)
    idx.build(emb)
    idx.buildPq(m = 2, k = 3, iters = 2)
    // stored codebooks round-trip exactly
    val books = Similarity.pqTrain(emb, m = 2, k = 3, iters = 2)
    assert(idx.codebooks === books)
    val queries = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"))
    val top = idx.topKPq(queries, k = 3, nprobe = 1)
    val rows = top.collect()
    assert(rows.length === 6)
    // parity with the in-memory composition on the same corpus/books
    val want = Similarity.ivfPqTopK(emb, books, queryIds = Seq(0L, 1L),
      k = 3, nprobe = 1).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(3),
      r.getAs[Long]("adc_micro"))).toSeq ===
      want.map(r => (r.getLong(0), r.getLong(1), r.getInt(3),
        r.getAs[Long]("adc_micro"))).toSeq)
    // the CODES scan is partition-pruned to the probed cells
    val codeScans = top.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.nonEmpty => f
    }
    assert(codeScans.nonEmpty, "no partition-filtered scan in the plan")
    assert(codeScans.head.partitionFilters.mkString(",").contains("cell"))
    assert(codeScans.head.selectedPartitions.partitionCount === 2,
      s"expected 2 of 3 cells read, got " +
        s"${codeScans.head.selectedPartitions.partitionCount}")
    // and no float-vector column is read by the ranking scan: the codes
    // table has no 'embedding' column at all
    assert(!idx.codes.columns.contains("embedding"))
  }

  test("CellIndex.topK reads only probed cells (partition-pruned scan)") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (0 until 60).map { i =>
      val cell = i % 3
      val base = Array.fill(8)(0.05f * rng.nextFloat())
      base(cell) = 1.0f + 0.1f * rng.nextFloat()
      (i.toLong, base.toSeq, cell)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("cellidx").toString
    val idx = new CellIndex(spark, dir)
    idx.build(emb)
    val queries = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qv"))
    val top = idx.topK(queries, k = 3, nprobe = 1)
    val rows = top.collect()
    assert(rows.length === 6) // 2 queries × k=3
    // queries 0 and 1 sit in clusters 0 and 1 → neighbors come from there
    assert(rows.filter(_.getLong(0) == 0L).forall(_.getInt(2) === 0))
    assert(rows.filter(_.getLong(0) == 1L).forall(_.getInt(2) === 1))
    // the vectors scan is partition-pruned to the two probed cells
    val vecScans = top.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.nonEmpty => f
    }
    assert(vecScans.nonEmpty, "no partition-filtered scan in the plan")
    val scan = vecScans.head
    assert(scan.partitionFilters.mkString(",").contains("cell"))
    assert(scan.selectedPartitions.partitionCount === 2,
      s"expected 2 of 3 cells read, got ${scan.selectedPartitions.partitionCount}")
  }

  test("CellIndex.buildLearned + append: trained cells route probes and " +
    "new vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    // 3 orthogonal clusters, NO label column — cells must be learned
    def mk(id: Long, c: Int): (Long, Seq[Float]) = {
      val base = Array.fill(8)(0.02f * rng.nextFloat())
      base(c) = 1.0f + 0.05f * rng.nextFloat()
      (id, base.toSeq)
    }
    val emb = (0 until 60).map(i => mk(i.toLong, i % 3))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("cellidx-l").toString
    val idx = new CellIndex(spark, dir)
    idx.buildLearned(emb, k = 3, iters = 2)
    assert(idx.centroids.count() === 3)
    // a probe for a cluster-0 query returns cluster-0 members: ids ≡ 0 mod 3
    val queries = emb.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("qv"))
    val top = idx.topK(queries, k = 5, nprobe = 1)
    val neighbors = top.collect().map(_.getLong(1))
    assert(neighbors.length === 5)
    assert(neighbors.forall(_ % 3 == 0), neighbors.mkString(","))
    // append routes a new cluster-1 vector into the cluster-1 partition
    val before = idx.vectors.filter($"vec_id" === 1000L).count()
    assert(before === 0)
    idx.append(Seq(mk(1000L, 1)).toDF("vec_id", "embedding"))
    val v1 = emb.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("qv"))
    // the appended vector is findable through the same probed-cell path
    val found = idx.topK(v1, k = 25, nprobe = 1)
      .filter($"cand_id" === 1000L).count()
    assert(found === 1)
  }

  test("CellIndex.append reports drift: far batches raise the distance " +
    "profile, near batches don't") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    def mk(id: Long, c: Int, shift: Float): (Long, Seq[Float]) = {
      val base = Array.fill(8)(0.02f * rng.nextFloat() + shift)
      base(c) = 1.0f + 0.05f * rng.nextFloat() + shift
      (id, base.toSeq)
    }
    val emb = (0 until 60).map(i => mk(i.toLong, i % 3, 0f))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("cellidx-d").toString
    val idx = new CellIndex(spark, dir)
    idx.buildLearned(emb, k = 3, iters = 2)

    // a batch from the trained distribution: distances in the trained regime
    val near = idx.append(
      (100 until 110).map(i => mk(i.toLong, i % 3, 0f))
        .toDF("vec_id", "embedding"))
    // a drifted batch (every component shifted by +3): the quantizer no
    // longer fits, and the readout must say so
    val far = idx.append(
      (200 until 210).map(i => mk(i.toLong, i % 3, 3f))
        .toDF("vec_id", "embedding"))

    assert(near.n === 10 && far.n === 10)
    assert(near.meanMicroDist > 0) // real distances, not zeros
    assert(far.meanMicroDist > near.meanMicroDist * 100,
      s"drifted mean ${far.meanMicroDist} vs trained ${near.meanMicroDist}")
    assert(far.p95MicroDist > near.p95MicroDist * 100)
    assert(far.maxMicroDist > near.maxMicroDist)
    // empty batch: a zero readout, not a crash
    val empty = idx.append(Seq.empty[(Long, Seq[Float])]
      .toDF("vec_id", "embedding"))
    assert(empty.n === 0L)
    // null embeddings are unroutable: excluded from the index (no null
    // partition) and from the stats, never an NPE
    val mixed = idx.append(Seq(
      (300L, Some(mk(300L, 0, 0f)._2)),
      (301L, Option.empty[Seq[Float]]),
      (302L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding"))
    assert(mixed.n === 1L)
    assert(idx.vectors.filter($"vec_id".isin(301L, 302L)).count() === 0)
    assert(idx.vectors.filter($"vec_id" === 300L).count() === 1)
  }

  test("CellIndex.append syncs the PQ codes: ADC probes find appended " +
    "vectors without a buildPq re-run") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    def mk(id: Long, c: Int): (Long, Seq[Float]) = {
      val base = Array.fill(8)(0.02f * rng.nextFloat())
      base(c) = 1.0f + 0.05f * rng.nextFloat()
      (id, base.toSeq)
    }
    val emb = (0 until 60).map(i => mk(i.toLong, i % 3))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("cellidx-sync").toString
    val idx = new CellIndex(spark, dir)
    idx.buildLearned(emb, k = 3, iters = 2)
    idx.buildPq(m = 4, k = 4, iters = 2)
    val nVec = idx.vectors.count()
    assert(idx.codes.count() === nVec)
    // append a clone of vector 1 under a new id: it must land in BOTH the
    // float table and the codes table in the same operation
    idx.append(emb.filter($"vec_id" === 1L)
      .select(lit(1000L).as("vec_id"), $"embedding"))
    assert(idx.vectors.count() === nVec + 1)
    assert(idx.codes.count() === nVec + 1,
      "codes table went stale after append")
    // and both ADC serving legs FIND it with no buildPq re-run: the clone
    // shares vector 1's cell and (being identical) its codes, so querying
    // with vector 1 must surface it
    val q = emb.filter($"vec_id" === 1L)
      .select($"vec_id".as("query_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("qv"))
    assert(idx.topKPq(q, k = 10, nprobe = 1)
      .filter($"cand_id" === 1000L).count() === 1)
    assert(idx.topKPqRerank(q, k = 10, nprobe = 1, rerank = 20)
      .filter($"cand_id" === 1000L).count() === 1)
    // appended codes carry the STORED codebooks, not a re-train: the
    // clone's code row is bit-identical to vector 1's
    val codeCols = idx.codes.columns.filter(_.startsWith("code_")).sorted
    val rows = idx.codes.filter($"vec_id".isin(1L, 1000L))
      .select(codeCols.map(col).toIndexedSeq: _*).collect()
    assert(rows.length === 2 && rows(0) === rows(1),
      s"clone encoded differently from its source: ${rows.mkString(";")}")

    // appends BEFORE the PQ half exists stay float-only (there is nothing
    // to encode with); the later buildPq then covers them
    val dir2 = java.nio.file.Files.createTempDirectory("cellidx-prepq")
      .toString
    val idx2 = new CellIndex(spark, dir2)
    idx2.buildLearned(emb, k = 3, iters = 2)
    idx2.append(Seq(mk(2000L, 2)).toDF("vec_id", "embedding"))
    idx2.buildPq(m = 4, k = 4, iters = 2)
    assert(idx2.codes.count() === idx2.vectors.count())
    assert(idx2.codes.filter($"vec_id" === 2000L).count() === 1)
  }

  test("CellIndex.retrainIfDrifted: a drifted batch triggers exactly one " +
    "atomic generation swap; readers are pointer-gated") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    def mk(id: Long, c: Int, shift: Float): (Long, Seq[Float]) = {
      val base = Array.fill(8)(0.02f * rng.nextFloat() + shift)
      base(c) = 1.0f + 0.05f * rng.nextFloat() + shift
      (id, base.toSeq)
    }
    val emb = (0 until 60).map(i => mk(i.toLong, i % 3, 0f))
      .toDF("vec_id", "embedding")
    val dir = tmpDir("cellidx-retrain")
    val idx = new CellIndex(spark, dir)
    idx.buildLearned(emb, k = 3, iters = 2)
    idx.buildPq(m = 4, k = 4, iters = 2)
    def gens: Seq[String] = Option(new java.io.File(dir, "manifests").list())
      .map(_.toSeq.filter(_.matches("v\\d{10}\\.txt")).sorted)
      .getOrElse(Nil)
    assert(gens.size === 1)
    // a batch from the trained distribution: appended, NOT retrained
    val near = idx.retrainIfDrifted(
      (100 until 110).map(i => mk(i.toLong, i % 3, 0f))
        .toDF("vec_id", "embedding"))
    assert(near.stats.n === 10 && !near.retrained)
    assert(gens.size === 1)
    assert(idx.vectors.count() === 70 && idx.codes.count() === 70)
    // an unreferenced generation directory is INVISIBLE until its pointer
    // commits — this is what "readers never see a half-swapped index"
    // means operationally
    assert(new java.io.File(dir, "data/gen-halfbuilt/vectors").mkdirs())
    assert(idx.vectors.count() === 70)
    // a drifted batch (+3 on every component): exactly one rebuild — a new
    // generation holding the MERGED corpus, quantizer and PQ codebooks
    // re-trained, same cell count and PQ shape
    val far = idx.retrainIfDrifted(
      (200 until 210).map(i => mk(i.toLong, i % 3, 3f))
        .toDF("vec_id", "embedding"))
    assert(far.retrained, s"drifted batch did not trigger: ${far.stats}")
    assert(gens.size === 2)
    assert(idx.vectors.count() === 80 && idx.codes.count() === 80)
    assert(idx.centroids.count() === 3)
    // and the retrained index SERVES the drifted region: an exact-re-rank
    // probe with vector 200's embedding under a FRESH query id (the ADC
    // rank excludes self-matches) must surface vector 200 itself; full
    // probe width, since probe routing is by centroid cosine while cells
    // are assigned by L2 and the two may disagree at nprobe=1
    val q = idx.vectors.filter($"vec_id" === 200L)
      .select(lit(9999L).as("query_id"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("qv"))
    assert(idx.topKPqRerank(q, k = 5, nprobe = 3, rerank = 80)
      .filter($"cand_id" === 200L).count() === 1)
    // the rebuild reset the baseline: a follow-on batch from the SAME new
    // distribution appends without another retrain (no rebuild storm)
    val again = idx.retrainIfDrifted(
      (300 until 310).map(i => mk(i.toLong, i % 3, 3f))
        .toDF("vec_id", "embedding"))
    assert(!again.retrained,
      s"baseline did not reset after retrain: ${again.stats}")
    assert(gens.size === 2)
    assert(idx.vectors.count() === 90 && idx.codes.count() === 90)
  }

  test("cosineDupPairs: hot label routed through LSH sub-buckets, bounded") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    // label 0 is hot (40 vectors), label 1 cold (10)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Seq.fill(8)(rng.nextFloat() * 2 - 1), if (i < 40) 0 else 1)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // threshold below -1 ⇒ every compared pair is emitted
    val exact = pairs(Similarity.cosineDupPairs(emb,
      thresholdMicro = -2000000L, maxBlock = 1000L, dim = 8))
    val guarded = pairs(Similarity.cosineDupPairs(emb,
      thresholdMicro = -2000000L, maxBlock = 20L, subBits = 2, dim = 8))
    // cold label untouched by the guard
    assert(guarded.filter(_._3 == 1) === exact.filter(_._3 == 1))
    // hot label candidate volume strictly bounded below all-pairs
    assert(guarded.count(_._3 == 0) < exact.count(_._3 == 0))
    assert(guarded.count(_._3 == 0) > 0)
    // the guard only prunes — it never invents pairs
    assert(guarded.subsetOf(exact))
  }

  test("int8 quantization round-trips within scale/2 error") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(0.0f, 0.5f, 1.0f, -1.0f)),
      (2L, Seq(3.0f, 3.0f, 3.0f, 3.0f))) // constant vector edge case
      .toDF("vec_id", "embedding")
    val rows = Similarity.dequantizeInt8(Similarity.quantizeInt8(emb))
      .select("vec_id", "embedding", "dequantized", "scale").collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](1).map(_.toDouble)
      val deq = r.getSeq[Double](2)
      val scale = r.getDouble(3)
      orig.zip(deq).foreach { case (o, d) =>
        assert(math.abs(o - d) <= scale / 2 + 1e-9,
          s"vec ${r.getLong(0)}: $o vs $d (scale $scale)")
      }
    }
  }

  test("hyperplaneLsh groups identical vectors, deterministic buckets") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.5f, -0.5f, 0.2f)))
      .toDF("vec_id", "embedding")
    val b1 = Similarity.hyperplaneLsh(emb).select("vec_id", "lsh_bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1(1L) === b1(2L))
    val b2 = Similarity.hyperplaneLsh(emb).select("vec_id", "lsh_bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2) // deterministic across runs
  }

  test("saltedJoin equals plain join on skewed data") {
    import spark.implicits._
    // one hot key (90% of rows) + tail
    val big = ((1 to 900).map(i => (7L, s"r$i")) ++
      (1 to 100).map(i => (i.toLong % 5, s"t$i"))).toDF("k", "payload")
    val small = Seq((7L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
      (3L, "d"), (4L, "e")).toDF("k", "dim")
    val plain = big.join(small, Seq("k")).select("k", "payload", "dim")
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedJoin(big, small, "k").select("k", "payload", "dim")
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(salted.size === 1000)
  }

  test("sampleFrames: deterministic evenly-spaced indices, media filter") {
    import spark.implicits._
    val feats = Multimodal.extractFeatures(
      Multimodal.assetsFromDocuments(docs.withColumnRenamed("lang", "source")))
    val frames = Multimodal.sampleFrames(feats, k = 4).collect()
    // image assets (doc 3) excluded
    assert(!frames.map(_.getLong(0)).contains(3L))
    // indices within range and unique per asset
    val byAsset = frames.groupBy(_.getLong(0))
    byAsset.foreach { case (_, rows) =>
      val nFrames = rows.head.getInt(2)
      val idxs = rows.map(_.getInt(3))
      assert(idxs.distinct.length === idxs.length)
      assert(idxs.forall(i => i >= 0 && i < math.max(nFrames, 1)))
    }
    // deterministic across runs
    val again = Multimodal.sampleFrames(feats, k = 4).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getString(4))).toSet
    assert(again === frames.map(r => (r.getLong(0), r.getInt(3), r.getString(4))).toSet)
  }

  test("multimodal pipeline: schema, determinism, payload-derived features") {
    val out = Multimodal.pipeline(docs.withColumnRenamed("lang", "source"))
    val rows = out.collect()
    assert(rows.length === 4)
    assert(out.columns.toSeq === Seq("asset_id", "media_type", "n_bytes",
      "content_hash", "width", "height", "n_frames"))
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // identical payloads (docs 1 and 4) → identical hash and dimensions
    assert(byId(1L).getString(3) === byId(4L).getString(3))
    assert(byId(1L).getInt(4) === byId(4L).getInt(4))
    // media type cycles by id
    assert(byId(1L).getString(1) === "audio")
    assert(byId(2L).getString(1) === "video")
    assert(byId(3L).getString(1) === "image")
    // bytes counted from the payload
    assert(byId(3L).getLong(2) > 0)
  }

  test("extractFeatures batches per partition with typed encoders") {
    import spark.implicits._
    val assets = Multimodal.assetsFromDocuments(docs)
    val feats = Multimodal.extractFeatures(assets, batchPartitions = 2)
    assert(feats.rdd.getNumPartitions === 2)
    assert(feats.collect().map(_.feature_vec.length).forall(_ === 8))
  }

  test("decodeReal parses true PNG dimensions through extractFeatures") {
    import spark.implicits._
    // a real 17x9 PNG rendered in-test: a vertical luminance gradient so
    // the histogram is nontrivial and fully deterministic
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (y * 255) / (h - 1)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val assets = Seq(
      MediaAsset(1L, "image", png(17, 9)),
      MediaAsset(2L, "image", png(320, 200)),
      MediaAsset(3L, "image", "not a png at all".getBytes("UTF-8")),
      MediaAsset(4L, "audio", png(4, 4))).toDS()
    val feats = Multimodal
      .extractFeatures(assets, decoder = Multimodal.decodeReal)
      .collect().map(f => f.asset_id -> f).toMap

    assert(feats(1L).width === 17 && feats(1L).height === 9)
    assert(feats(2L).width === 320 && feats(2L).height === 200)
    assert(feats(1L).n_frames === 1)
    // luminance histogram: normalized mass 1, gradient spreads over bins
    assert(math.abs(feats(1L).feature_vec.sum - 1.0f) < 1e-5)
    assert(feats(1L).feature_vec.count(_ > 0) >= 7)
    // blake2b content hash, same addressing as the stub path
    assert(feats(1L).content_hash ===
      graft.core.Blake2b.hexDigest(png(17, 9)))
    // undecodable image bytes fall back to the stub, never fail the batch
    val stub3 = Multimodal.decodeStub(MediaAsset(3L, "image",
      "not a png at all".getBytes("UTF-8")))
    assert((feats(3L).width, feats(3L).height, feats(3L).content_hash) ===
      ((stub3.width, stub3.height, stub3.content_hash)))
    assert(feats(3L).feature_vec.toSeq === stub3.feature_vec.toSeq)
    // audio stays on the stub (no JDK codec)
    val stub4 = Multimodal.decodeStub(MediaAsset(4L, "audio", png(4, 4)))
    assert((feats(4L).width, feats(4L).height, feats(4L).n_frames) ===
      ((stub4.width, stub4.height, stub4.n_frames)))
    // determinism across runs
    val again = Multimodal
      .extractFeatures(assets, decoder = Multimodal.decodeReal)
      .collect().map(f => f.asset_id -> f).toMap
    assert(again(1L).feature_vec.toSeq === feats(1L).feature_vec.toSeq)
  }

  test("decodeReal parses PCM WAV audio: rate, channels, frames, RMS " +
    "envelope") {
    import spark.implicits._
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // render a WAV in-test: sine at the given amplitude, silent second half
    // — so the RMS envelope must step from amp/sqrt(2) down to ~0
    def wav(rate: Float, channels: Int, frames: Int, amp: Double,
        bits: Int, signed: Boolean): Array[Byte] = {
      val bytesPer = bits / 8
      val fmt = new AudioFormat(rate, bits, channels, signed, false)
      val data = new Array[Byte](frames * channels * bytesPer)
      for (f <- 0 until frames; c <- 0 until channels) {
        val v = if (f < frames / 2)
          amp * math.sin(2 * math.Pi * 440 * f / rate) else 0.0
        val i = (f * channels + c) * bytesPer
        if (bits == 16) {
          val s = (v * 32767).toInt
          data(i) = (s & 0xff).toByte
          data(i + 1) = ((s >> 8) & 0xff).toByte
        } else data(i) = ((v * 127).toInt + (if (signed) 0 else 128)).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, frames.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val mono = wav(16000f, 1, 8000, 0.5, 16, signed = true)
    val stereo = wav(8000f, 2, 4000, 0.25, 16, signed = true)
    val eightBit = wav(11025f, 1, 2205, 0.5, 8, signed = false)
    val assets = Seq(
      MediaAsset(1L, "audio", mono),
      MediaAsset(2L, "audio", stereo),
      MediaAsset(3L, "audio", eightBit)).toDS()
    val feats = Multimodal
      .extractFeatures(assets, decoder = Multimodal.decodeReal)
      .collect().map(f => f.asset_id -> f).toMap

    assert(feats(1L).width === 16000 && feats(1L).height === 1)
    assert(feats(1L).n_frames === 8000)
    assert(feats(2L).width === 8000 && feats(2L).height === 2)
    assert(feats(2L).n_frames === 4000)
    // 8-bit unsigned converts through the PCM_SIGNED 16-bit path
    assert(feats(3L).width === 11025 && feats(3L).height === 1)
    assert(feats(3L).n_frames === 2205)
    // RMS envelope: first 4 segments carry the sine (rms = amp/sqrt(2)),
    // last 4 are silence
    for (a <- Seq(feats(1L), feats(2L))) {
      val expect = (if (a.asset_id == 1L) 0.5 else 0.25) / math.sqrt(2)
      for (s <- 0 until 4)
        assert(math.abs(a.feature_vec(s) - expect) < 0.02,
          s"asset ${a.asset_id} seg $s: ${a.feature_vec(s)} vs $expect")
      for (s <- 4 until 8) assert(a.feature_vec(s) < 0.01)
    }
    // content addressing matches the stub path's hashing
    assert(feats(1L).content_hash === graft.core.Blake2b.hexDigest(mono))
  }

  test("perceptualHash: scale-invariant aHash; near copies pair up, " +
    "distinct patterns don't; undecodable assets quarantine") {
    import spark.implicits._
    def png(w: Int, h: Int)(pix: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = pix(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // an 8x8-block checkerboard pattern, scale-independent
    def checker(scale: Int)(x: Int, y: Int): Int =
      if (((x / scale) + (y / scale)) % 2 == 0) 230 else 20
    // left-bright vs top-bright: very different aHash bit layouts
    def leftBright(x: Int, y: Int): Int = if (x < 32) 230 else 20
    def topBright(x: Int, y: Int): Int = if (y < 32) 230 else 20
    // a lightly-noised copy of leftBright (one gray stripe)
    def leftBrightNoisy(x: Int, y: Int): Int =
      if (y == 5) 128 else leftBright(x, y)

    val h64 = Multimodal.perceptualHash(
      MediaAsset(0L, "image", png(64, 64)(checker(8)))).get
    val h128 = Multimodal.perceptualHash(
      MediaAsset(0L, "image", png(128, 128)(checker(16)))).get
    assert(h64 === h128, "box-averaged aHash is invariant to 2x rescale")
    assert(Multimodal.perceptualHash(
      MediaAsset(0L, "image", "garbage".getBytes)).isEmpty)
    assert(Multimodal.perceptualHash(
      MediaAsset(0L, "audio", png(8, 8)(checker(1)))).isEmpty,
      "non-image assets have no pixel identity")

    val assets = Seq(
      MediaAsset(1L, "image", png(64, 64)(leftBright)),
      MediaAsset(2L, "image", png(64, 64)(leftBrightNoisy)),
      MediaAsset(3L, "image", png(64, 64)(topBright)),
      MediaAsset(4L, "image", "junk".getBytes),
      MediaAsset(5L, "image", png(128, 128)((x, y) => leftBright(x / 2, y / 2)))
    ).toDS()
    val pairs = Multimodal.imageNearDups(assets, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "noised copy pairs with original")
    assert(pairs.contains((1L, 5L)), "2x-rescaled copy pairs with original")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "orthogonal pattern stays unpaired")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "undecodable asset quarantined out")
  }

  test("hashEmbed: signed hashing is a pure function of the text; dense " +
    "form matches cells; similar texts score above dissimilar") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "zeta eta theta iota"),
      (4L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val cells = Similarity.hashEmbedCells(docs, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // identical texts embed identically
    assert(cells.filter(_._1._1 == 1L).map { case ((_, b), w) => b -> w } ===
      cells.filter(_._1._1 == 4L).map { case ((_, b), w) => b -> w })
    // dense assembly agrees with the sparse cells
    val dense = Similarity.hashEmbed(docs, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    dense.foreach { case (id, vec) =>
      assert(vec.length === 64)
      vec.zipWithIndex.foreach { case (w, b) =>
        assert(w === cells.getOrElse((id, b), 0L))
      }
    }
    // 3-of-4 shared tokens beat 0 shared tokens in integer dot product
    def dot(a: Long, b: Long) =
      (0 until 64).map(i => dense(a)(i) * dense(b)(i)).sum
    assert(dot(1L, 2L) > dot(1L, 3L))
    assert(dot(1L, 4L) === dot(1L, 1L), "identical text = identical vector")
    // deterministic under partitioning
    val again = Similarity.hashEmbedCells(docs.repartition(7), dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(again === cells)
  }

  test("hashEmbed: a doc with no surviving cells gets the zero vector, " +
    "not dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, null.asInstanceOf[String]) // null text -> no token rows at all
    ).toDF("doc_id", "text")
    val dense = Similarity.hashEmbed(docs, dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(dense.keySet === Set(1L, 2L),
      "every input doc id must appear in the dense output")
    assert(dense(2L) === Seq.fill(16)(0L))
    assert(dense(1L).exists(_ != 0L))
  }
}
