package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s read of the DuckDB times file (scripts/oracle_bench.py). */
class BenchSpec extends AnyFunSuite {

  test("oracle times come from the \"times\" object only, never from _meta") {
    val text = """{
      | "_meta": {"load_avg": 3.55, "runs": 3, "threads": 32, "timeout_sec": 0,
      |   "steal": {"before_pct": 0.0, "max_pct": 1.04, "refuse_bar_pct": 2.0,
      |     "sampled": true, "worst": "q1"}, "errors": {"q9": "timeout"}},
      | "times": {"q1": 0.5, "q21_decorrelated_subquery": 12, "odd": "n/a"}
      |}""".stripMargin
    assert(Bench.parseOracleTimes(text) ==
      Map("q1" -> 0.5, "q21_decorrelated_subquery" -> 12.0))
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("scripts/oracle_times_sf0.1.json")), "UTF-8")
    val times = Bench.parseOracleTimes(committed)
    assert(times.size == 144)
    assert(Set("runs", "before_pct", "max_pct", "refuse_bar_pct", "timeout_sec",
      "load_avg", "threads", "recorded_unix").forall(k => !times.contains(k)))
  }
}
