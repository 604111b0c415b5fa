package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's output contract and its N-pass protocol as pure
  * functions: per-query stats over the pass samples, the failed-query
  * rule of the headline total, the output file names, the stdout line's
  * tail fit and the parsers other tools rely on. */
class BenchDefenseSpec extends AnyFunSuite {

  private def benchLine(qs: Map[String, Double], sf: String): String =
    qs.map { case (k, v) => s""""$k":$v""" }
      .mkString(
        s"""{"metric":"total","value":${qs.values.sum},"unit":"sec","queries":{""",
        ",",
        s"""},"failed":0,"sf":"$sf"}""")

  test("queryStats: min, median and spread over the successful pass " +
    "samples") {
    val odd = Bench.queryStats(Seq(Some(3.0), Some(1.0), Some(2.5))).get
    assert(odd === Bench.QueryStats(min = 1.0, median = 2.5, spread = 2.0))
    val even = Bench.queryStats(Seq(Some(4.0), Some(1.0), Some(2.0),
      Some(3.0))).get
    assert(even === Bench.QueryStats(min = 1.0, median = 2.5, spread = 3.0))
    assert(Bench.queryStats(Seq(Some(0.5))).get ===
      Bench.QueryStats(0.5, 0.5, 0.0))
  }

  test("a failed query is left out of value, and a later successful " +
    "pass clears an earlier failure") {
    val healed = Bench.queryStats(Seq(None, Some(2.0)))
    assert(healed === Some(Bench.QueryStats(2.0, 2.0, 0.0)),
      "a failed pass contributes no sample; the later success stands")
    assert(Bench.queryStats(Seq(Some(1.5), None)).map(_.min) === Some(1.5))
    assert(Bench.queryStats(Seq(None, None)) === None)
    assert(Bench.queryStats(Seq.empty) === None)
    val stats = Seq(
      "q_a" -> Bench.queryStats(Seq(Some(1.0), Some(1.5))),
      "q_broken" -> Bench.queryStats(Seq(None, None)),
      "q_healed" -> healed)
    assert(Bench.battery(stats) === 3.0,
      "the time-to-error of a failed query never enters the total")
    // the full line marks the failure with -1 in every per-query map,
    // the counters of a failed query included even when an earlier
    // build left some behind
    val counters = Map("q_a" -> Bench.Counters(7, 1234L),
      "q_broken" -> Bench.Counters(3, 5L),
      "q_healed" -> Bench.Counters(2, 0L))
    val line = Bench.fullLine(Bench.battery(stats), 1, 4, "h", stats,
      counters, Seq(Bench.PassStamp(10.0, 9.0, 0.0, 1.0, 4, "h")),
      "/data/sf0.1")
    import org.json4s._
    val v = org.json4s.jackson.JsonMethods.parse(line)
    assert(v \ "value" === JDouble(3.0))
    assert(v \ "failed" === JInt(1))
    for (k <- Seq("queries", "median", "spread"))
      assert(v \ k \ "q_broken" === JDouble(-1.0), k)
    for (k <- Seq("jobs", "shuffle_bytes"))
      assert(v \ k \ "q_broken" === JInt(-1), k)
    assert(v \ "jobs" \ "q_a" === JInt(7))
    assert(v \ "shuffle_bytes" \ "q_a" === JInt(1234))
    assert(v \ "jobs" \ "q_healed" === JInt(2))
    assert(v \ "shuffle_bytes" \ "q_healed" === JInt(0))
    assert(v \ "spread" \ "q_a" === JDouble(0.5))
    assert(v \ "median" \ "q_a" === JDouble(1.25))
    assert(Bench.parseBenchLine(line).map(_._1("q_a")) === Some(1.0))
  }

  test("every pass carries one stamp with steal, load, cpus and host") {
    val passes = Seq(Bench.PassStamp(60.0, 55.5, 0.3, 2.0, 4, "box-a"),
      Bench.PassStamp(58.0, 54.0, -1.0, 1.5, 4, "box-a"))
    val line = Bench.fullLine(1.0, 0, 4, "box-a",
      Seq("q" -> Bench.queryStats(Seq(Some(1.0), Some(1.2)))),
      Map("q" -> Bench.Counters(1, 0L)), passes, "/data/sf0.1")
    import org.json4s._
    val ps = org.json4s.jackson.JsonMethods.parse(line) \ "passes" match {
      case JArray(xs) => xs
      case other => fail(s"no passes array: $other")
    }
    assert(ps.size === 2)
    assert(ps.map(_ \ "host") === Seq(JString("box-a"), JString("box-a")))
    assert(ps.map(_ \ "cpus") === Seq(JInt(4), JInt(4)))
    assert(ps.map(_ \ "steal_sec") === Seq(JDouble(0.3), JDouble(-1.0)))
    assert(ps.head \ "job_sum" === JDouble(55.5))
    assert(ps.head \ "load_end" === JDouble(2.0))
  }

  test("a subset run never produces the canonical BENCH_LOCAL.json or an " +
    "archive name") {
    val full = Bench.outputFiles(subset = false, "box-a", "4", "sf0.1")
    assert(full === Seq("BENCH_LOCAL.json",
      Bench.archiveName("box-a", "4", "sf0.1")))
    val part = Bench.outputFiles(subset = true, "box-a", "4", "sf0.1")
    assert(part === Seq("BENCH_LOCAL_partial.json"))
    assert(!part.contains("BENCH_LOCAL.json"))
    assert(!part.exists(_.startsWith("BENCH_LOCAL_sf")))
  }

  test("archiveName differs by host, by core count and by scale") {
    val base = Bench.archiveName("box-a", "4", "sf0.1")
    assert(base === "BENCH_LOCAL_sf0.1_c4_box-a.json")
    assert(Bench.archiveName("box-b", "4", "sf0.1") !== base)
    assert(Bench.archiveName("box-a", "32", "sf0.1") !== base)
    assert(Bench.archiveName("box-a", "4", "sf0.01") !== base)
    // a host name cannot smuggle a path separator into the file name
    assert(!Bench.archiveName("a/../b", "4", "sf0.1").contains("/"))
  }

  test("steal parser: field 8 of the aggregate cpu line; soft on " +
    "short kernels") {
    assert(Bench.parseStealTicks(
      "cpu  10 20 30 40 50 60 70 1234 90 100") === Some(1234L))
    assert(Bench.parseStealTicks("cpu  10 20 30") === None)
    // a live read either works or degrades to None — never throws
    Bench.stealTicks()
  }

  test("parseBenchLine never throws and never invents data: arbitrary " +
    "junk, truncations, and embeddings all fail soft or parse true") {
    val gen = new scala.util.Random(42)
    val inner = benchLine(Map("q_x" -> 1.5), "/root/testdata/sf0.1")
    val corpus = Seq.tabulate(300) { i =>
      i % 6 match {
        case 0 => // random printable junk
          (1 to gen.nextInt(80)).map(_ => (gen.nextInt(94) + 33).toChar)
            .mkString
        case 1 => // truncated real line at a random cut
          inner.take(gen.nextInt(inner.length))
        case 2 => // real line embedded in a tail at a random position,
          // wrapped in a driver-artifact shell
          val noise = "x" * gen.nextInt(40)
          s"""{"sf":0.1,"tail":"${(noise + inner + noise)
            .replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
        case 3 => // deep brace nesting / unbalanced braces
          "{" * gen.nextInt(50) + "}" * gen.nextInt(50)
        case 4 => // valid JSON, wrong shape
          s"""{"a":[${Seq.fill(gen.nextInt(5))("1").mkString(",")}]}"""
        case _ => // quotes and escapes designed to confuse the matcher
          s"""{"tail":"{\\"metric\\":\\"total\\" \\" { } ${gen.nextInt()}"}"""
      }
    }
    corpus.foreach { text =>
      val r = Bench.parseBenchLine(text) // must not throw
      // soundness: anything parsed must carry a non-empty query map and
      // an sf tag — the two facts every consumer of a bench line reads
      r.foreach { case (qs, tag) =>
        assert(qs.nonEmpty && tag.nonEmpty, s"hollow parse from: $text")
      }
    }
    // and the embedded case (shape 2) actually parses — the fuzz must
    // not pass vacuously because every candidate failed soft
    val embedded = s"""{"sf":0.1,"tail":"pre ${inner
      .replace("\\", "\\\\").replace("\"", "\\\"")} post"}"""
    assert(Bench.parseBenchLine(embedded) ===
      Some((Map("q_x" -> 1.5), "sf0.1")))
  }

  test("parseBenchLine: bare line, future top-level driver shape, and " +
    "garbage all behave") {
    val bare = benchLine(Map("q" -> 1.25), "/root/testdata/sf0.1")
    assert(Bench.parseBenchLine(bare) === Some((Map("q" -> 1.25), "sf0.1")))
    val driverTop =
      """{"n":12,"sf":0.1,"queries":{"q":2.5},"tail":""}"""
    assert(Bench.parseBenchLine(driverTop) ===
      Some((Map("q" -> 2.5), "sf0.1")))
    // an INTEGER scale ("sf":1) parses as JInt, not JDouble — a valid
    // comparison base at that scale must not be skipped
    assert(Bench.parseBenchLine("""{"sf":1,"queries":{"q":2.5}}""") ===
      Some((Map("q" -> 2.5), "sf1")))
    assert(Bench.parseBenchLine("not json") === None)
    assert(Bench.parseBenchLine("""{"queries":{}}""") === None)
  }

  test("tailHead: raw total stays the FIRST value, the failed count and " +
    "core count ride directly beside it") {
    val head = Bench.tailHead(153.163, 2, 4)
    // the head is the literal prefix of the stdout line: closing it
    // with '}' must parse, and the field order is the contract
    val v = org.json4s.jackson.JsonMethods.parse(head + "}")
    import org.json4s._
    assert(v \ "value" === JDouble(153.163))
    assert(v \ "unit" === JString("sec"))
    assert(v \ "failed" === JInt(2))
    assert(v \ "cpus" === JInt(4))
    assert(head.startsWith("""{"metric":"total","value":"""),
      "the tail's long-standing anchor prefix must not move")
    assert(head.indexOf("\"unit\"") < head.indexOf("\"failed\""))
    assert(head.indexOf("\"failed\"") < head.indexOf("\"cpus\""))
  }

  test("slimLine: the per-query map rides stdout only when the whole " +
    "line fits the driver's 2000-char tail capture (VERDICT r17 #1)") {
    val head = Bench.tailHead(10.0, 0, 32)
    val tail = ""","sf":"/root/testdata/sf0.1","full":"BENCH_LOCAL.json"}"""
    val few = Seq("q_a" -> 1.234, "q_b" -> 2.0)
    val small = Bench.slimLine(head, tail, few)
    assert(small.contains(""""queries":{"q_a":1.23,"q_b":2.00}"""), small)
    assert(org.json4s.jackson.JsonMethods.parse(small) != null)
    // the full 123-query battery: names alone exceed the budget — the
    // map is dropped, the line still parses, the "full" pointer stays
    val many = (1 to 123).map(i => f"q_really_long_name_$i%03d" -> 1.0)
    val big = Bench.slimLine(head, tail, many)
    assert(!big.contains(""""queries""""),
      "an overflowing map would clip the line's FRONT out of the tail " +
        "and parse as null (the five dark rounds)")
    assert(big.length <=
      Bench.TailCaptureChars - Bench.TailFooterReserveChars ||
      big === head + tail)
    assert(org.json4s.jackson.JsonMethods.parse(big) != null)
  }
}
