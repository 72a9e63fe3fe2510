package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench harness's fail-loud contract (VERDICT r05 #6): a query
  * that throws during any rep is reported as FAILED (empty timings → -1
  * in the JSON + listed under "failed"), never as a time-to-failure
  * masquerading as a fast number. Pure-JVM — no SparkSession needed. */
class BenchSpec extends AnyFunSuite {

  test("a healthy body yields exactly 3 sorted timings") {
    val rs = Bench.timeReps("ok", () => ())
    assert(rs.size == 3)
    assert(rs == rs.sorted)
    assert(rs.forall(_ >= 0.0))
  }

  test("a body that always throws yields empty (= failed), not a timing") {
    var calls = 0
    val rs = Bench.timeReps("boom", () => { calls += 1; sys.error("broken query") })
    assert(rs.isEmpty)
    // stops at the first failed rep — no wasted reruns of a broken query
    assert(calls == 1)
  }

  test("a body that fails on rep 2 is failed — cold-run-only success is broken") {
    var calls = 0
    val rs = Bench.timeReps("flaky", () => { calls += 1; if (calls == 2) sys.error("late failure") })
    assert(rs.isEmpty)
    assert(calls == 2)
  }

  test("artifact parsers extract the bench's own flat JSON shapes") {
    val text = """{"metric":"total_detail","value":12.5,""" +
      """"queries":{"q01_x":1.250,"d03_y":-1.000,"t01_z":0.034},""" +
      """"control_drift":0.982,"sf":"/root/testdata/sf0.1","round":"r11"}"""
    assert(Bench.parseJsonMap(text, "queries") ==
      Map("q01_x" -> 1.25, "d03_y" -> -1.0, "t01_z" -> 0.034))
    assert(Bench.parseJsonMap(text, "not_there").isEmpty)
    assert(Bench.parseJsonNum(text, "control_drift").contains(0.982))
    assert(Bench.parseJsonNum(text, "absent").isEmpty)
    assert(Bench.parseJsonStr(text, "round").contains("r11"))
  }

  test("the committed bench artifacts read the same as under the former regex readers") {
    // the flat-shape regex extractors the JSON parser replaced, kept as
    // the reference for the files Bench actually reads
    def regexMap(text: String, key: String): Map[String, Double] = {
      val i = text.indexOf("\"" + key + "\":{")
      if (i < 0) Map.empty
      else {
        val start = text.indexOf('{', i)
        val end = text.indexOf('}', start)
        val Pair = """"([^"]+)":(-?[0-9]+(?:\.[0-9]+)?)""".r
        Pair.findAllMatchIn(text.substring(start + 1, end))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    def regexStr(text: String, key: String): Option[String] =
      ("\"" + key + "\":\"([^\"]+)\"").r.findFirstMatchIn(text).map(_.group(1))
    for ((file, key) <- Seq("tools/bench_prev.json" -> "queries",
        "tools/bench_anchors.json" -> "anchors")) {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sys.props("user.dir"), file)),
        java.nio.charset.StandardCharsets.UTF_8)
      val parsed = Bench.parseJsonMap(text, key)
      assert(parsed.nonEmpty, file)
      assert(parsed == regexMap(text, key), file)
      assert(Bench.parseJsonStr(text, "sf") == regexStr(text, "sf"), file)
    }
  }

  test("swing flagging: >2x over prev AND >=1s floor, slowest first") {
    val prev = Map("a" -> 2.0, "b" -> 0.3, "c" -> 5.0, "d" -> 1.0)
    val cur = Seq(
      "a" -> 4.5,  // 2.25x and >=1s -> flagged
      "b" -> 0.9,  // 3x but under the 1s floor -> noise, not flagged
      "c" -> 9.0,  // 1.8x -> inside band
      "d" -> 30.0, // 30x -> flagged, slowest so FIRST
      "e" -> 50.0, // no prev record -> cannot be adjudicated, skipped
      "f" -> -1.0) // failed query -> never flagged
    assert(Bench.flagSwings(cur, prev) == Seq("d", "a"))
    // exactly-2x is the band edge, not a swing
    assert(Bench.flagSwings(Seq("a" -> 4.0), prev).isEmpty)
  }

  test("bench_prev refresh policy: omit failures, prefer clean isolated mins, min-merge under pressure") {
    val results = Seq("a" -> 2.0, "b" -> 10.0, "c" -> -1.0, "d" -> 0.5)
    val isolated = Map("b" -> 3.0, "d" -> 9.0) // d's "isolated" is WORSE
    // clean run (anchorDrift <= 1.5): fresh values, iso override only
    // where cleaner, failed c omitted
    assert(Bench.refreshedPrev(results, isolated, Map("a" -> 1.0), 1.1) ==
      Seq("a" -> 2.0, "b" -> 3.0, "d" -> 0.5))
    // pressured run (anchorDrift > 1.5) with an old record: elementwise
    // min so the pressured numbers cannot inflate the clean record; the
    // failed c's OLD clean value carries forward instead of vanishing
    // (r12 ADVICE — a failure must not also erase the baseline)
    assert(Bench.refreshedPrev(results, isolated,
      Map("a" -> 1.2, "b" -> 8.0, "c" -> 2.0), 1.9) ==
      Seq("a" -> 1.2, "b" -> 3.0, "d" -> 0.5, "c" -> 2.0))
    // pressured but NO old record (first round): fresh values still land
    // — an empty prev must never block the first refresh
    assert(Bench.refreshedPrev(results, Map.empty, Map.empty, 9.0) ==
      Seq("a" -> 2.0, "b" -> 10.0, "d" -> 0.5))
    // anchors absent (-1 sentinel) reads as not-pressured
    assert(Bench.refreshedPrev(Seq("a" -> 5.0), Map.empty,
      Map("a" -> 1.0), -1.0) == Seq("a" -> 5.0))
    // carry-forward on a clean run too: failed query keeps its record
    assert(Bench.refreshedPrev(Seq("a" -> 2.0, "c" -> -1.0), Map.empty,
      Map("c" -> 4.0), 1.0) == Seq("a" -> 2.0, "c" -> 4.0))
    // a swing flagged past the isolation cap (no isolated evidence)
    // min-merges with its old record EVEN on a clean-anchor run — the
    // inflated in-catalog time must not become the new baseline for
    // exactly the query that swung (r12 ADVICE)
    assert(Bench.refreshedPrev(Seq("a" -> 2.0, "e" -> 12.0), Map.empty,
      Map("e" -> 3.0), 1.0, flaggedNoIso = Set("e")) ==
      Seq("a" -> 2.0, "e" -> 3.0))
    // ...but a flagged-no-iso query with no old record records fresh
    assert(Bench.refreshedPrev(Seq("e" -> 12.0), Map.empty,
      Map.empty, 1.0, flaggedNoIso = Set("e")) == Seq("e" -> 12.0))
  }

  test("prev record routes to a per-SF sibling when the primary holds another sf") {
    // primary holds sf0.1, run is a 16x sweep -> sibling file
    assert(Bench.routedPrevPath("tools/bench_prev.json", Some("sf0.1"),
      "sf16x") == "tools/bench_prev.sf16x.json")
    // matching sf -> primary
    assert(Bench.routedPrevPath("tools/bench_prev.json", Some("sf0.1"),
      "sf0.1") == "tools/bench_prev.json")
    // missing/unreadable primary -> first write claims the primary
    assert(Bench.routedPrevPath("tools/bench_prev.json", None,
      "sf0.01") == "tools/bench_prev.json")
  }

  test("sf-tagged artifacts accept basename AND full-path tags, reject other SFs") {
    def write(tag: String): String = {
      val f = java.io.File.createTempFile("bench_prev_test", ".json")
      java.nio.file.Files.writeString(f.toPath,
        s"""{"sf":"$tag","queries":{"q01_x":1.250,"d03_y":0.034}}""")
      f.getAbsolutePath
    }
    val want = Map("q01_x" -> 1.25, "d03_y" -> 0.034)
    // basename tag (the form Bench itself writes)
    assert(Bench.loadSfTagged(write("sf0.1"), "sf0.1", "queries") == want)
    // full-path tag (the form bench_full.json records — r11 ADVICE: an
    // artifact seeded by copying it must not silently no-op)
    assert(Bench.loadSfTagged(write("/root/testdata/sf0.1"), "sf0.1",
      "queries") == want)
    // a different scale factor's record says nothing about this run
    assert(Bench.loadSfTagged(write("sf1.0"), "sf0.1", "queries").isEmpty)
    assert(Bench.loadSfTagged("/nonexistent/prev.json", "sf0.1",
      "queries").isEmpty)
  }

  test("r01 like-for-like subset is exactly the 58 names recorded in BENCH_r01.json") {
    assert(Bench.r01Subset.size == 58)
    // every subset name must still exist in the catalog, or the subset
    // total silently shrinks and the acceptance band reads better than real
    val known = SparkEntry.catalog.map(_.name).toSet
    val gone = Bench.r01Subset.diff(known)
    assert(gone.isEmpty, s"r01 subset names missing from catalog: $gone")
  }
}
