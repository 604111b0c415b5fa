package graft.operators

import graft.SparkSuite
import graft.store.Fs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintenance of the store whose manifest versions are whole index
  * generations: append-heavy semantic ingest fragments cell dirs
  * exactly like gram buckets, so CellIndex carries the same
  * stats()/compactIfNeeded/vacuumOrphans surface as the other stores —
  * with compaction proven a pure LAYOUT rewrite (probe answers
  * bit-identical, quantizer/codebooks/baseline carried over) and the
  * commit-time vacuum proven to never touch an in-flight build's dir. */
class CellIndexMaintenanceSpec extends SparkSuite {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("cellmaint").toString

  /** Four well-separated clusters so the learned quantizer is stable. */
  private def corpus(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == c * 2) 10.0 else 0.0) + (i % 7) * 0.01 * (j + 1)))
    }.toDF("vec_id", "embedding")
  }

  private def topKRows(idx: CellIndex, queries: DataFrame) =
    idx.topK(queries, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .sortBy(t => (t._1, t._3)).toSeq

  test("appends fragment cell dirs; compact rewrites them to one file " +
    "per cell with bit-identical probe answers and the PQ half intact") {
    import spark.implicits._
    val idx = new CellIndex(spark, tmp())
    idx.buildLearned(corpus(0 until 40), k = 4)
    idx.buildPq(m = 4, k = 4)
    (40 until 64 by 4).foreach(s => idx.append(corpus(s until s + 4)))
    val s1 = idx.stats()
    assert(s1.cells === 4)
    assert(s1.maxFilesPerCell > 4,
      s"six appends must fragment some cell: $s1")
    assert(s1.codeFiles > 0L && s1.codeBytes > 0L,
      "the PQ codes fragment alongside the floats")
    val queries = corpus(0 until 8).select(
      $"vec_id".as("query_id"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("qv"))
    val wantTopK = topKRows(idx, queries)
    val wantPq = idx.topKPq(queries, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val nVectors = idx.vectors.count()

    assert(idx.compactIfNeeded(maxFilesPerCell = 64) === 0,
      "under threshold: no-op")
    assert(idx.compactIfNeeded(maxFilesPerCell = 2) === 4,
      "past threshold: every cell rewritten")
    val s2 = idx.stats()
    assert(s2.maxFilesPerCell === 1, s"compacted layout: $s2")
    assert(s2.generations === s1.generations + 1,
      "compaction publishes a fresh generation, never rewrites in place")
    assert(idx.vectors.count() === nVectors, "no rows lost")
    assert(topKRows(idx, queries) === wantTopK,
      "float probe answers must be bit-identical after compaction")
    assert(idx.topKPq(queries, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      === wantPq,
      "ADC answers must be bit-identical: codes AND codebooks carried")
    assert(idx.compact() === 0, "second compact finds nothing fragmented")
    assert(idx.warm() === idx.stats().vectorFiles + idx.stats().codeFiles
      + 2, "warm() touches every table's files (plus the two 1-file " +
      "side tables)")
    // appends keep working against the compacted generation
    assert(idx.append(corpus(64 until 68)).n === 4L)
  }

  test("vacuum drops expired generations only; in-flight dirs survive " +
    "vacuum and age-gated vacuumOrphans") {
    import spark.implicits._
    val p = tmp()
    val idx = new CellIndex(spark, p, keepVersions = 1)
    val fs = Fs.fs(spark, p)
    def genDirs: Set[String] = fs.listStatus(new Path(p, "data"))
      .map(_.getPath.getName).filter(_.contains("-gen-")).toSet
    var seen = Set.empty[String]
    idx.buildLearned(corpus(0 until 40), k = 4)
    seen ++= genDirs
    assert(genDirs.size === 1 && idx.stats().generations === 1,
      "nothing expired yet")
    // a crashed build: a dir under data/ referenced by no manifest
    val orphan = new Path(p, "data/gen-orphan01")
    fs.mkdirs(orphan)
    idx.retrain()
    seen ++= genDirs
    // fragmenting appends, then a compaction: a layout rewrite, so its
    // generation must answer exactly as the one it replaces
    (40 until 52 by 4).foreach(s => idx.append(corpus(s until s + 4)))
    val queries = corpus(0 until 4).select(
      $"vec_id".as("query_id"),
      expr("CAST(embedding AS ARRAY<DOUBLE>)").as("qv"))
    val want = topKRows(idx, queries)
    assert(idx.compact() > 0) // three committed generations
    seen ++= genDirs

    val reclaimed = seen -- genDirs
    assert(reclaimed.size === 2, s"two expired generations: $reclaimed")
    assert(idx.stats().generations === 1)
    assert(fs.exists(orphan),
      "vacuum must never sweep an unreferenced (in-flight) dir")
    assert(topKRows(idx, queries) === want,
      "the retained generation still serves identical answers")
    assert(idx.vacuumOrphans(olderThanMs = 3600L * 1000) === Nil,
      "age guard protects fresh dirs")
    assert(idx.vacuumOrphans(olderThanMs = -1000L) === Seq("gen-orphan01"))
    assert(!fs.exists(orphan))
  }

  test("a path in the generation-pointer layout (gen/, no manifests/) " +
    "is refused on open, and the message names the layout") {
    val p = tmp()
    val fs = Fs.fs(spark, p)
    // the layout before the manifest log: a pointer file naming the
    // generation dir beside it
    val out = fs.create(new Path(p, "gen/v0000000001.txt"))
    try out.write("gen-0a1b2c3d".getBytes("UTF-8")) finally out.close()
    fs.mkdirs(new Path(p, "gen-0a1b2c3d/vectors/cell=0"))
    val e = intercept[IllegalStateException](new CellIndex(spark, p))
    assert(e.getMessage.contains("generation-pointer layout (gen/)"),
      e.getMessage)
    assert(fs.exists(new Path(p, "gen-0a1b2c3d/vectors/cell=0")),
      "a refusal deletes nothing")
  }

  test("warm() is latency-only: an unbuilt index warms to zero instead " +
    "of failing the stream start") {
    assert(new CellIndex(spark, tmp()).warm() === 0L)
  }

  test("vacuumOrphans aborts while any generation pointer is " +
    "unreadable — the LIVE generation must never look orphaned") {
    val p = tmp()
    val idx = new CellIndex(spark, p)
    idx.buildLearned(corpus(0 until 16), k = 2)
    val fs = Fs.fs(spark, p)
    // an unreadable generation manifest: a DIRECTORY matching the name
    // pattern
    val corrupt = new Path(p, "manifests/v0000000099.txt")
    fs.mkdirs(corrupt)
    val orphan = new Path(p, "data/gen-orphan02")
    fs.mkdirs(orphan)
    assert(idx.vacuumOrphans(olderThanMs = -1000L) === Nil,
      "one unreadable manifest must abort the whole sweep")
    assert(fs.exists(orphan), "nothing may be deleted on abort")
    fs.delete(corrupt, true)
    assert(idx.vacuumOrphans(olderThanMs = -1000L) === Seq("gen-orphan02"))
    assert(idx.vectors.count() === 16, "live generation intact throughout")
  }
}
