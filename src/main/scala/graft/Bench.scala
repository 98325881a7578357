package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.{RunMetrics, Session}

/** Benchmark main: runs every `SparkEntry.queries` entry against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Methodology: warm session, min of two runs (run 1 pays codegen
  * compilation and first-read costs — per-process noise, not operator
  * cost), noop sink (computes every output column; count() would let
  * the optimizer prune the projection and under-measure), cache cleared
  * between queries. A query that THROWS reports -1, never its
  * near-zero elapsed time — a failing operator must not look like a
  * fast pass.
  *
  * Each query also reports its second run's layers ([[RunMetrics]],
  * listener bus drained per run so attribution is exact; run 2 only so
  * first-run cache warming doesn't inflate it): shuffle read/write
  * bytes — the number that actually predicts 100 TB behavior: a plan
  * whose wall-time looks fine but shuffles the whole input is the one
  * that falls over at 1000 executors — plus jobs, tasks, task seconds,
  * job seconds, driver gap and spill, in the sidecar's `layers` map.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // warm up the session (FS init, codegen compiler, shuffle machinery)
    // so the first measured query isn't charged for it
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count()
      .write.format("noop").mode("overwrite").save()
    // full-suite runs leave SPARK_GRAFT_ONLY unset
    val results = measure(spark, sfDir, selected(sys.env.get("SPARK_GRAFT_ONLY")))
    // The driver captures only the tail of stdout (~4 KiB) and parses the
    // final JSON line. Round 2's line overflowed it with per-query shuffle
    // bytes; round 3's overflowed it AGAIN simply because the query count
    // grew past ~100 (3-decimal timings alone exceeded the buffer, so the
    // line's HEAD was cut off and the round's bench went unparsed). The
    // final line now has a HARD byte budget: the "queries" map keeps the
    // slowest entries (the perf-relevant ones) until the serialized line
    // would exceed LINE_BUDGET bytes; the complete map is printed on an
    // earlier QUERY_SECS-prefixed line and written to tools/bench_last.json.
    val failed = failedNames(results)
    val LineBudget = 1800 // bytes; driver tail buffer is ~4 KiB and also
    //  holds sbt's trailing "[success]" noise — stay far under it
    def line(qs: String, omitted: Int): String =
      s"""{"metric":"total","value":${f3(total(results))},"unit":"sec","queries":$qs,"omitted":$omitted,"failed":$failed,"sf":"$sfDir"}"""
    // Failed queries (t = -1) sort FIRST: they must survive the line-budget
    // truncation below, because tools/benchcheck.py detects failures via
    // t < 0 in the queries map (a failure sorted last would be the first
    // entry truncated, vanishing from the regression gate).
    val bySlowest = results.toSeq.sortBy {
      case (_, Reading(t, _)) => if (t < 0) Double.NegativeInfinity else -t
    }
    // 2-decimal timings on the BUDGETED line only (r17, format-only:
    // VERDICT-r16 #7 — every byte saved keeps another mid-pack query in
    // the driver's per-round diff); QUERY_SECS and bench_last.json keep
    // full 3-decimal precision for repin/benchcheck.
    def f2(t: Double): String = if (t < 0) "-1" else f"$t%.2f"
    var keep = bySlowest.length
    def qsOf(n: Int): String = bySlowest.take(n)
      .map { case (k, Reading(t, _)) => "\"" + k + "\":" + f2(t) }
      .mkString("{", ",", "}")
    while (keep > 1 && line(qsOf(keep), bySlowest.length - keep).length > LineBudget)
      keep -= 1
    println(s"QUERY_SECS ${querySecs(results)}")
    println(s"SHUFFLE_BYTES ${shuffleBytes(results)}")
    try {
      // Absolute path: a cwd-relative "tools/..." silently lands elsewhere
      // (or fails) when the bench is launched from outside the repo root.
      val sidecar = sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .map(java.nio.file.Paths.get(_))
        .getOrElse(java.nio.file.Paths.get("/root/repo/tools/bench_last.json"))
      java.nio.file.Files.write(sidecar, record(results, sfDir).getBytes("UTF-8"))
    } catch { // best-effort; never fail the bench — but never silently either
      case e: Throwable => System.err.println(s"[bench] bench_last.json write failed: $e")
    }
    println(line(qsOf(keep), bySlowest.length - keep))
    spark.stop()
  }

  /** The session Bench and Prof measure in. It measures PRODUCTION
    * plans: harness-imposed determinism sorts (Cols.verifySort —
    * canonical row order for the oracle compare) are dropped so a load
    * path's wall/shuffle numbers reflect what a cluster would actually
    * run.
    */
  def session(): SparkSession = {
    System.setProperty("graft.bench.nosort", "1")
    Session.local(Session.cpus)
  }

  /** The queries named in `only` (comma-separated; an iteration aid,
    * e.g. SPARK_GRAFT_ONLY=q52_pagerank,q54_khop), else all of them.
    */
  def selected(only: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }

  /** A query's best wall seconds (-1 when it threw) and the layers of
    * its second pass (run 1 pays codegen and first-read costs).
    */
  final case class Reading(secs: Double, layers: RunMetrics.Layers)

  def measure(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Map[String, Reading] = {
    val metrics = RunMetrics.on(spark)
    try queries.map { case (name, fn) =>
      var failed = false
      var layers: RunMetrics.Layers = null
      def onePass(run: Int): Double = {
        // guide §1.5: label every job with its query so any UI/event-log
        // inspection of a bench run attributes stages without guesswork
        val p = metrics.pass(s"bench:$name run$run")(fn(spark, sfDir))
        p.error.foreach { e =>
          failed = true
          System.err.println(s"[bench] $name failed: $e")
        }
        if (run == 2) layers = p.layers
        p.wallS
      }
      var best = (1 to 2).map(onePass).min
      // A host stall (GC, page-cache eviction, co-tenant burst) spanning
      // BOTH runs shows up as a many-× phantom regression — measured: the
      // same query at 7.3 s in one full-suite pass and 0.64 s in the next.
      // One extra pass when the min still looks slow is cheap insurance:
      // real heavyweights pay one more run; noise victims get corrected.
      if (!failed && best >= 1.0) best = math.min(best, onePass(3))
      name -> Reading(if (failed) -1.0 else best, layers)
    }
    finally spark.sparkContext.removeSparkListener(metrics)
  }

  /** The complete record of a run, one JSON object: every query's
    * seconds, its shuffle and input volumes (`shuffle`, the map
    * tools/benchcheck.py gates) and its `layers`.
    */
  def record(results: Map[String, Reading], sfDir: String): String = {
    val layers = results.map { case (k, Reading(_, l)) =>
      "\"" + k + "\":{\"jobs\":" + l.jobs + ",\"tasks\":" + l.tasks +
        ",\"task_s\":" + f3(l.taskS) + ",\"job_s\":" + f3(l.jobS) +
        ",\"driver_gap_s\":" + f3(l.driverGapS) + ",\"spill_bytes\":" + l.spillBytes + "}"
    }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${f3(total(results))},"unit":"sec","queries":${querySecs(results)},""" +
      s""""failed":${failedNames(results)},"sf":"$sfDir","shuffle":${shuffleBytes(results)},"layers":$layers}"""
  }

  private def f3(t: Double): String = if (t < 0) "-1" else f"$t%.3f"

  private def total(results: Map[String, Reading]): Double =
    results.values.collect { case Reading(t, _) if t >= 0 => t }.sum

  private def querySecs(results: Map[String, Reading]): String =
    results.map { case (k, Reading(t, _)) => "\"" + k + "\":" + f3(t) }
      .mkString("{", ",", "}")

  // Input rows/bytes are the scan-side signal: a zero-shuffle query
  // (pure scan+project, e.g. etl_clean) has no shuffle bytes to prove
  // its plan unchanged, and input rows are deterministic for an
  // unchanged plan, so they give benchcheck's noise adjudication its
  // secondary evidence.
  private def shuffleBytes(results: Map[String, Reading]): String =
    results.map { case (k, Reading(_, l)) =>
      "\"" + k + "\":{\"read\":" + l.shuffleRead + ",\"write\":" + l.shuffleWrite +
        ",\"inRows\":" + l.inputRows + ",\"inBytes\":" + l.inputBytes + "}"
    }.mkString("{", ",", "}")

  private def failedNames(results: Map[String, Reading]): String =
    results.collect { case (k, Reading(t, _)) if t < 0 => "\"" + k + "\"" }.mkString("[", ",", "]")

}
