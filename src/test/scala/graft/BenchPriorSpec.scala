package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's read of the previous record (BENCH_LOCAL.json): SF-gated,
  * "queries" and "reruns" min-merged per query. */
class BenchPriorSpec extends AnyFunSuite {

  private val fixture =
    """{"metric":"total","value":12.5,"unit":"sec",""" +
      """"queries":{"a01":0.5,"d07":3.0,"g06":1.25E-1},""" +
      """"exec_metrics":{"d07":{"shuffle_write":10,"spill_mem":0,"spill_disk":0,"peak_exec_mem":7}},""" +
      """"reruns":{"d07":2.0,"x09":0.25},"total_steady":11.5,""" +
      """"calib_sec":3.3,"sf":"/data/sf0.1","load_factor":1.01}"""

  test("prior times min-merge queries and reruns at the same SF") {
    assert(Bench.priorSteadyTimes(fixture, "/data/sf0.1") ==
      Map("a01" -> 0.5, "d07" -> 2.0, "g06" -> 0.125, "x09" -> 0.25))
  }

  test("a record taken at another SF gives no prior times") {
    assert(Bench.priorSteadyTimes(fixture, "/data/sf0.01").isEmpty)
    assert(Bench.priorSteadyTimes("""{"queries":{"a01":1.0}}""", "/x").isEmpty)
  }
}
