package graft.tools

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec

class ProfileSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val gates = Seq("q01_daily_summary", "q03_unit_conversions")

  /** Bench's guard before it embeds BENCH_ISOLATED.json: exactly one
    * balanced top-level object, strings honoured. */
  private def oneJsonObject(s: String): Boolean = {
    if (!s.startsWith("{") || !s.endsWith("}")) return false
    var depth = 0; var inStr = false; var esc = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0 && i != s.length - 1) return false
          if (depth < 0) return false
        case _ => ()
      }
      i += 1
    }
    depth == 0 && !inStr
  }

  test("shared session: a row of timed runs and job counts, a plan per gate, one JSON object") {
    val out = Files.createTempDirectory("profile").resolve("p.json")
    val rows = Profile.profile(() => spark, fresh = false, sf, gates, reps = 2, out)
    assert(rows.map(_.name) == gates)
    rows.foreach { g =>
      assert(g.seconds.size == 2 && g.seconds.forall(_ > 0), g)
      assert(g.jobs >= 1 && g.stages >= 1 && g.tasks >= 1, g)
      assert(Files.size(out.resolveSibling("p_plans").resolve(s"${g.name}.txt")) > 0)
    }
    val json = new String(Files.readAllBytes(out), "UTF-8")
    assert(oneJsonObject(json), json)
    val tree = new ObjectMapper().readTree(json)
    assert(tree.get("reps").asInt == 2 && !tree.get("fresh").asBoolean)
    assert(tree.get("failed").size == 0 && tree.get("sf").asText == sf)
    assert(tree.get("warmup").asText == "lineitem")
    for (field <- Seq("queries_median", "queries_min", "jobs", "stages", "tasks"))
      assert(gates.forall(g => tree.get(field).has(g)), field)
    rows.foreach(g => assert(tree.get("jobs").get(g.name).asLong == g.jobs))
  }

  test("a data dir without lineitem is warmed by the range step only") {
    val dir = Files.createTempDirectory("profile-sf")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      java.nio.file.Paths.get(sf, "events.parquet"))
    val out = dir.resolve("p.json")
    val rows = Profile.profile(() => spark, fresh = false, dir.toString,
      Seq("q01_daily_summary"), reps = 1, out)
    assert(rows.map(_.name) == Seq("q01_daily_summary"))
    assert(!rows.head.failed && rows.head.seconds.forall(_ > 0), rows)
    val tree = new ObjectMapper().readTree(new String(Files.readAllBytes(out), "UTF-8"))
    assert(tree.get("warmup").asText == "range" && tree.get("failed").size == 0)
  }

  test("a prefix that matches no gate is refused before a session is opened") {
    val out = Files.createTempDirectory("profile").resolve("p.json")
    val e = intercept[IllegalArgumentException] {
      Profile.profile(() => fail("a session was opened"), fresh = false, sf,
        Seq("q01_daily_summary", "no_such_gate"), reps = 1, out)
    }
    assert(e.getMessage.contains("no_such_gate"))
    assert(!Files.exists(out))
  }
}
