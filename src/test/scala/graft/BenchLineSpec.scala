package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The driver parses ONE JSON line from the last 2000 chars of Bench's
  * stdout. These tests pin the elision logic that keeps the line inside
  * that window as the query suite grows: fastest entries drop first,
  * the JSON stays valid, and the total still covers every query. */
class BenchLineSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("150-query map: fastest elided, valid JSON, fits the 1950-char tail budget") {
    val results = (1 to 150).map(i => f"q_synthetic_query_$i%03d" -> i * 0.07).toMap
    val line = Bench.jsonLine(results, Nil, "/root/testdata/sf0.1")
    assert(!line.contains("\n"), "must be a single line")
    assert(line.length <= 1950, s"line must fit the driver tail window: ${line.length}")
    val node = mapper.readTree(line) // throws on invalid JSON
    assert(node.get("metric").asText == "total")
    val qs = node.get("queries")
    assert(qs.size() < 150, "an oversize map must elide entries")
    assert(node.get("queries_omitted").asInt == 150 - qs.size(),
      "omission count must say exactly how many were dropped")
    assert(qs.has("q_synthetic_query_150"), "the slowest query must survive")
    assert(!qs.has("q_synthetic_query_001"), "the fastest query drops first")
    // the headline total covers ALL queries, kept or elided
    assert(math.abs(node.get("value").asDouble - results.values.sum) < 0.01)
  }

  test("error digests are capped at 5 + a count, escaped, and fit the budget") {
    val errs = (1 to 9).map(i =>
      s"q$i" -> ("boom \"quoted\" \\ back\tslash\nnewline " * 10))
    val line = Bench.jsonLine(Map("q1" -> 1.0), errs, "sf")
    val node = mapper.readTree(line)
    assert(node.get("n_errors").asInt == 9)
    assert(node.get("errors").size() == 5, "only the first 5 digests ride the line")
    assert(line.length <= 1950)
  }

  test("noise indicators: median spread, FULL printed-tail per-query spread, load — inside the budget") {
    val results = (1 to 150).map(i => f"q_synthetic_query_$i%03d" -> i * 0.07).toMap
    val spreads = results.map { case (k, _) => k -> 0.15 }
    val line = Bench.jsonLine(results, Nil, "sf", spreads, load = 3.2)
    assert(line.length <= 1950, s"noise fields must not break the tail budget: ${line.length}")
    val node = mapper.readTree(line)
    assert(math.abs(node.get("spread_med").asDouble - 0.15) < 0.01)
    assert(node.get("load").asDouble == 3.2)
    val sp = node.get("spread")
    val qs = node.get("queries")
    // every printed query carries its spread — a slow-tail entry
    // without one is unadjudicable (the r10 dedup_cluster lesson)
    assert(sp.size() == qs.size(),
      s"spread must cover the full printed tail: ${sp.size()} vs ${qs.size()}")
    import scala.jdk.CollectionConverters._
    qs.fieldNames().asScala.foreach(k => assert(sp.has(k), s"missing spread for $k"))
    assert(sp.has("q_synthetic_query_150"), "the slowest query's spread must be present")
    // queries map still dominates the line: elision still works alongside
    assert(qs.size() + node.get("queries_omitted").asInt == 150)
  }

  test("full side dump: every query + spread, valid JSON, sorted slowest-first") {
    val results = (1 to 150).map(i => f"q_synthetic_query_$i%03d" -> i * 0.07).toMap
    val spreads = results.map { case (k, _) => k -> 0.33 }
    val full = Bench.fullJson(results, spreads, Seq("qx" -> "boom"), "sf", 2.0)
    val node = mapper.readTree(full)
    assert(node.get("queries").size() == 150, "nothing may be elided from the side dump")
    assert(node.get("queries").get("q_synthetic_query_150").get("spread").asDouble == 0.33)
    assert(node.get("errors").get("qx").asText == "boom")
    assert(math.abs(node.get("total").asDouble - results.values.sum) < 0.01)
  }

  test("cpus contract field: echoed when known, omitted when unknown; elision self-describes") {
    val line = Bench.jsonLine(Map("a" -> 0.5), Nil, "sf", cpus = 32)
    val node = mapper.readTree(line)
    assert(node.get("cpus").asInt == 32,
      "the driver must be able to verify SPARK_GRAFT_CPUS from the line")
    assert(mapper.readTree(Bench.jsonLine(Map("a" -> 0.5), Nil, "sf"))
      .get("cpus") == null, "unknown core count must not fabricate a field")
    // an elided line must say the omitted entries are the fastest ones
    val results = (1 to 150).map(i => f"q_synthetic_query_$i%03d" -> i * 0.07).toMap
    val big = mapper.readTree(Bench.jsonLine(results, Nil, "sf", cpus = 8))
    assert(big.get("queries_omitted").asInt > 0)
    assert(big.get("omitted_are_fastest").asBoolean,
      "elision must self-describe as fastest-first")
    assert(big.get("cpus").asInt == 8)
  }

  test("no spreads passed: line is unchanged (no noise fields)") {
    val line = Bench.jsonLine(Map("a" -> 0.5), Nil, "sf")
    val node = mapper.readTree(line)
    assert(node.get("spread_med") == null && node.get("spread") == null
      && node.get("load") == null)
  }

  test("a small map passes through complete with no omission marker") {
    val line = Bench.jsonLine(Map("a" -> 0.5, "b" -> 1.25), Nil, "sf")
    val node = mapper.readTree(line)
    assert(node.get("queries").size() == 2)
    assert(node.get("queries_omitted") == null)
    assert(math.abs(node.get("value").asDouble - 1.75) < 1e-9)
  }

  test("contention guard fields: load bracket + retry count reach both artifacts") {
    val line = Bench.jsonLine(Map("a" -> 0.5), Nil, "sf",
      spreads = Map("a" -> 0.1), load = 2.0, loadStart = 31.5, retries = 3)
    val node = mapper.readTree(line)
    assert(node.get("load_start").asDouble == 31.5)
    assert(node.get("load").asDouble == 2.0)
    assert(node.get("guard_retries").asInt == 3)
    val full = Bench.fullJson(Map("a" -> 0.5), Map("a" -> 0.1), Nil, "sf",
      2.0, loadStart = 31.5, retried = Map("a" -> 0.45))
    val fnode = mapper.readTree(full)
    assert(fnode.get("load_start").asDouble == 31.5)
    assert(fnode.get("guard_retries").asInt == 1)
    assert(fnode.get("queries").get("a").get("retry_sec").asDouble == 0.45)
  }

  test("guard: a failed third pass keeps the clean best-of-2 and rolls back the error") {
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val retried = scala.collection.mutable.LinkedHashMap[String, Double]()
    // slow_q trips the 3x threshold; its third pass fails fast (0.02 s)
    val out = Bench.applyGuard(
      Map("slow_q" -> 4.0, "ok_q" -> 0.5),
      Map("slow_q" -> 1.0, "ok_q" -> 0.5),
      errors, retried,
      k => { errors(k) = "boom: transient"; 0.02 })
    assert(out("slow_q") == 4.0,
      "a failed retry must never publish its time-to-exception")
    assert(errors.isEmpty, "two clean runs: the query is not FAILED")
    assert(retried.isEmpty, "a failed retry is not recorded as a retry")
    assert(out("ok_q") == 0.5, "non-tripping queries pass through")
  }

  test("guard: a successful third pass publishes the min and records the retry") {
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val retried = scala.collection.mutable.LinkedHashMap[String, Double]()
    val out = Bench.applyGuard(
      Map("slow_q" -> 4.0), Map("slow_q" -> 1.0), errors, retried, _ => 1.1)
    assert(out("slow_q") == 1.1 && retried("slow_q") == 1.1 && errors.isEmpty)
  }

  test("guard decision record: threshold, baseline, and fast flags land in the side dump") {
    val full = Bench.fullJson(Map("a" -> 0.5), Map("a" -> 0.1), Nil, "sf",
      2.0, guardFast = Seq("a"))
    val node = mapper.readTree(full)
    val g = node.get("guard")
    assert(g.get("threshold").asDouble == 3.0)
    assert(g.get("baseline").asText == "bench_full.json@HEAD")
    assert(g.get("fast_flagged").get(0).asText == "a",
      "suspicious speedups must be surfaced for adjudication")
  }

  test("guard decision record: sub-retry slowdowns (>1.8x, <3x) are flagged, never re-timed") {
    val full = Bench.fullJson(Map("a" -> 0.5, "b" -> 2.3), Map.empty, Nil,
      "sf", 2.0, guardSlow = Seq("b"))
    val node = mapper.readTree(full)
    val g = node.get("guard")
    assert(g.get("slow_threshold").asDouble == 1.8)
    assert(g.get("slow_flagged").size() == 1
      && g.get("slow_flagged").get(0).asText == "b",
      "a published >1.8x-slower value must self-identify in the record")
    // the empty case still emits the field so a reader can distinguish
    // "nothing flagged" from "flag not implemented in this round"
    val clean = mapper.readTree(Bench.fullJson(Map("a" -> 0.5), Map.empty,
      Nil, "sf", 2.0))
    assert(clean.get("guard").get("slow_flagged").size() == 0)
  }

  test("previousBest reads per-query bests from a bench_full dump; corrupt file disables the guard") {
    val dir = java.nio.file.Paths.get(SparkTestBase.tmpDir("benchprev"))
    val ok = dir.resolve("bench_full.json")
    java.nio.file.Files.writeString(ok,
      """{"sf":"x","total":1.0,"queries":{"q1":{"sec":0.40,"spread":0.1},"q2":{"sec":1.20,"spread":0.0}},"errors":{}}""")
    val prev = Bench.previousBest(ok.toString)
    assert(prev == Map("q1" -> 0.40, "q2" -> 1.20))
    val bad = dir.resolve("corrupt.json")
    java.nio.file.Files.writeString(bad, """{"queries": not json""")
    assert(Bench.previousBest(bad.toString).isEmpty)
    assert(Bench.previousBest(dir.resolve("missing.json").toString).isEmpty)
  }
}
