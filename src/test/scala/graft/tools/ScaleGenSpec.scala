package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The K× replica [[ScaleGen.build]] writes, on sf0.001 with K = 2. */
class ScaleGenSpec extends SparkSuite with BeforeAndAfterAll {
  private val src = "/root/testdata/sf0.001"
  private var dir = ""

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = ScaleGen.build(spark, src, 2)
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir))
    super.afterAll()
  }

  private def read(d: String, t: String) = spark.read.parquet(s"$d/$t.parquet")

  test("documents, embeddings, lineitem and events have twice the rows") {
    for (t <- Seq("documents", "embeddings", "lineitem", "events"))
      assert(read(dir, t).count() === 2 * read(src, t).count(), t)
  }

  test("replica 1's ids start at Stride and its vocabulary is disjoint " +
    "from replica 0's") {
    val docs = read(dir, "documents")
    val n = read(src, "documents").count()
    val r1 = docs.filter(col("doc_id") >= ScaleGen.Stride)
    assert(r1.count() === n)
    def words(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split(col("text"), "\\s+")).as("w"))
        .filter(col("w") =!= "").distinct()
    val r0 = docs.filter(col("doc_id") < ScaleGen.Stride)
    assert(words(r0).count() > 0)
    assert(words(r0).join(words(r1), "w").count() === 0)
    for ((t, id) <- Seq("embeddings" -> "vec_id", "events" -> "event_id"))
      assert(read(dir, t).filter(col(id) >= ScaleGen.Stride).count() ===
        read(src, t).count(), t)
  }

  test("the six small tables read through the output dir") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders")) {
      assert(Files.isSymbolicLink(Paths.get(dir, s"$t.parquet")), t)
      assert(read(dir, t).count() === read(src, t).count(), t)
    }
  }

  test("a second build reuses the dir without rewriting it") {
    def parts(): Set[String] =
      Option(new java.io.File(s"$dir/documents.parquet").list())
        .getOrElse(Array.empty[String]).toSet
    val before = parts()
    assert(before.exists(_.startsWith("part-")))
    assert(ScaleGen.build(spark, src, 2) === dir)
    assert(parts() === before, "a rewrite would name new part files")
  }
}
