package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench]]'s artifact contract: the committed bench_latest.json record
  * is the quiet reference a run re-measures against, read back by regex
  * from Bench's own one-line format. The fixture line carries every dict
  * a row emits, the phase split and `slow_job` strings included. */
class BenchSpec extends AnyFunSuite {

  private val record =
    """{"metric":"total","value":4.5,"unit":"sec",""" +
    """"queries":{"events_ewma_stream":3.25,"q_2":1.25},""" +
    """"cpu_sec":{"events_ewma_stream":7.5,"q_2":2.0},""" +
    """"n_jobs":{"events_ewma_stream":45,"q_2":3},""" +
    """"task_s":{"events_ewma_stream":3.9,"q_2":0.5},""" +
    """"build_s":{"events_ewma_stream":2.0,"q_2":0.1},""" +
    """"plan_s":{"events_ewma_stream":0.006,"q_2":0.02},""" +
    """"job_s":{"events_ewma_stream":1.1,"q_2":0.9},""" +
    """"slow_job":{"events_ewma_stream":"parquet at StreamingOps.scala:1317 0.308s",""" +
    """"q_2":"collect at Bench.scala:9 {\"ratio\":9} 0.8s"},""" +
    """"remeasured":{},"n_unguarded":0,"code_cache":{"used_mb":77,"max_mb":512},""" +
    """"kernel_ratio":{"attention":{"blocked":0.5,"broadcast":0.4,"ratio":1.25,""" +
    """"cpu_ratio":1.1,"n_clean_pairs":8},"mlp":{"blocked":0.3,"broadcast":0.4,""" +
    """"ratio":0.75,"cpu_ratio":0.9,"n_clean_pairs":6}},""" +
    """"kernel_ratio_quiet":{"attention":1.0},"runs":3,"stat":"median",""" +
    """"machine_busy":0.1,"cores":4,"sf":"/data/sf0.1"}"""

  test("committedWalls reads the queries dict of a record at this run's cores") {
    assert(Bench.committedWalls(record, 4) ==
      Map("events_ewma_stream" -> 3.25, "q_2" -> 1.25))
  }

  test("committedKernelRatios reads each kernel's wall ratio, not the " +
       "cpu_ratio or the quiet reference") {
    assert(Bench.committedKernelRatios(record, 4) ==
      Map("attention" -> 1.25, "mlp" -> 0.75))
  }

  test("a record at another cores, or no record, is no reference") {
    for (cpus <- Seq(8, 32)) {
      assert(Bench.committedWalls(record, cpus).isEmpty)
      assert(Bench.committedKernelRatios(record, cpus).isEmpty)
    }
    assert(Bench.committedWalls("", 4).isEmpty)
    assert(Bench.committedKernelRatios("", 4).isEmpty)
  }
}
