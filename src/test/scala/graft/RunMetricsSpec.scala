package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.util.RunMetrics

/** The harness listener counts what a pass ran, and Bench's sidecar
  * carries it per query.
  */
class RunMetricsSpec extends SparkSpecBase {

  test("RunMetrics: one pass of a shuffling query — jobs, shuffle bytes, driver gap") {
    val metrics = RunMetrics.on(spark)
    try {
      val (p, jobs) = jobsOf(metrics.pass("spec")(SparkEntry.queries("q1_agg")(spark, SfDir)))
      assert(p.error.isEmpty)
      val l = p.layers
      assert(l.jobs == jobs && jobs > 0)
      assert(metrics.jobs.size == jobs)
      assert(l.shuffleWrite > 0 && l.tasks > 0)
      assert(l.driverGapS >= 0 && l.driverGapS <= p.wallS, s"gap ${l.driverGapS} wall ${p.wallS}")
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("Bench's sidecar record carries every layer field of a filtered run") {
    val results = Bench.measure(spark, SfDir, Bench.selected(Some("q1_agg")))
    val rec = new ObjectMapper().readTree(Bench.record(results, SfDir))
    assert(rec.get("queries").get("q1_agg").asDouble() > 0)
    assert(rec.get("shuffle").get("q1_agg").get("write").asLong() > 0)
    val layers = rec.get("layers").get("q1_agg")
    Seq("jobs", "tasks", "task_s", "job_s", "driver_gap_s", "spill_bytes").foreach { f =>
      assert(layers.has(f), s"layers.q1_agg lacks $f: $layers")
    }
    assert(layers.get("jobs").asInt() > 0)
  }
}
