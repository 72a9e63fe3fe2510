package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** [[Profile]]'s modes, run on the shared session
  * through [[Profile.run]] (which must leave the session running). */
class ProfileSpec extends SparkSpec {
  private val names = Seq("q01_pricing_summary", "n05_digest")

  private def profile(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Profile.run(spark, args))
    out.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
  }

  test("stages: one JSON line per query with every field and jobs >= 1") {
    val mapper = new ObjectMapper()
    val recs = profile("stages", sf, names.mkString(",")).map(mapper.readTree)
    assert(recs.map(_.get("q").asText) == names)
    recs.foreach { r =>
      Seq("wall", "jobs", "stages", "tasks", "cpu", "one_task_cpu", "top")
        .foreach(f => assert(r.has(f), s"$f missing: $r"))
      assert(r.get("jobs").asInt >= 1, r)
      assert(r.get("tasks").asInt >= r.get("stages").asInt, r)
      assert(r.get("top").isArray && r.get("top").size >= 1, r)
      assert(r.get("one_task_cpu").asDouble <= r.get("cpu").asDouble, r)
    }
    assert(!spark.sparkContext.isStopped)
  }

  test("plan: one formatted physical plan per query") {
    val text = profile("plan", sf, names.mkString(",")).mkString("\n")
    assert("== Physical Plan ==".r.findAllMatchIn(text).size == names.size,
      text)
  }

  test("exec: two runs of d11 print identical text, run- and commit-specific ids stripped") {
    val runs = Seq.fill(2)(profile("exec", sf, "d11_dedup_cascade").mkString("\n"))
    assert(runs.head.contains("RDD[] at localCheckpoint at Dedup.scala,"), runs.head)
    assert(runs.head == runs(1))
    assert("#\\d|plan_id=\\d|RDD\\[\\d|\\.scala:\\d".r.findFirstIn(runs.head).isEmpty, runs.head)
    assert(Profile.stable("MapElements f$$Lambda$7969/0x0000000801b2c4f0@5f3e2a1b, obj#3") ==
      "MapElements f$$Lambda, obj")
  }

  test("windows: two runs on one query print identical lines, no expression ids") {
    // s01's ranking window sits behind a broadcast join at sf0.001
    val runs = Seq.fill(2)(profile("windows", sf, "s01_topk_cosine"))
    assert(runs.head.exists(_.contains("(partitionBy=query_id)")), runs.head)
    assert(runs.head == runs(1), runs)
    assert(runs.head.forall(!_.contains("#")), runs.head)
  }
}
