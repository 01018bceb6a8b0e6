package graft

import org.scalatest.funsuite.AnyFunSuite

/** Only a full-suite sf0.1 run may write the artifact of record. */
class BenchSpec extends AnyFunSuite {

  test("resultsFile: BENCH_RESULTS.json only for a full sf0.1 run") {
    assert(Bench.resultsFile("/data/sf0.1", None, None) == "BENCH_RESULTS.json")
    assert(Bench.resultsFile("/data/sf0.1/", None, None) == "BENCH_RESULTS.json")
    assert(Bench.resultsFile("/data/sf0.01", None, None) == "target/BENCH_RESULTS.json")
    assert(Bench.resultsFile("/data/sf0.1", Some(Set("q_event_summary")), None) ==
      "target/BENCH_RESULTS.json")
    assert(Bench.resultsFile("/data/sf0.01", None, Some("/tmp/dev.json")) == "/tmp/dev.json")
  }
}
