package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark process: build the session, set up the workload, run
  * one untimed warm pass, then closed-loop passes for the given number
  * of seconds, and write a result record for `run.py`.
  *
  * {{{
  * graftbench.Main --workload retail_dag --data <tables> [--batches <dir>]
  *   --work <dir> --out <dir> --result <file.json> --seconds 10 --trace 0 --cores 4
  * }}}
  *
  * With `--trace 1` the timed passes alternate between untraced and
  * traced (a job/task listener attached) in ABBA order, so the record
  * carries both the per-layer numbers and the cost of collecting them.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    Files.createDirectories(work)
    System.setProperty("graft.bench.nosort", "1")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark.sparkContext)
    val data = a("data")
    val w: Workload = workload match {
      case "retail_dag" => new RetailDag(spark, rec, data, work)
      case "retail_incremental" => new RetailIncremental(spark, rec, data, a("batches"), work)
      case "training_data" => new TrainingData(spark, rec, data, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var passes = Vector.empty[Map[String, Any]]
    def runPass(p: Int, label: String, trace: Boolean): Unit = {
      rec.tracing(trace)
      val s = rec.pass(label, p)(id => w.pass(p, id))
      passes :+= Map("pass" -> p, "id" -> s.id, "label" -> label, "wall_s" -> s.wall,
        "ok" -> s.ok, "traced" -> trace)
      w.afterPass(p, trace)
    }
    val finish =
      try {
        require(rec.pass("setup", 0)(id => w.setup(id)).ok, s"$workload set-up failed")
        runPass(1, "warm", trace = false)
        val setupS = (rec.now() - jvmStart) / 1000.0
        val t0 = rec.now()
        var p = 1
        // passes until `seconds` have gone, at least one; a traced run takes
        // at least four, untraced and traced in ABBA order, so the JIT's
        // steady speed-up does not bias the tracing overhead
        val minTimed = if (traced) 4 else 1
        while (p < w.maxPasses && (p - 1 < minTimed || rec.now() - t0 < seconds * 1000.0)) {
          p += 1
          runPass(p, "timed", trace = traced && (p % 4 == 3 || p % 4 == 0))
        }
        rec.tracing(false)
        val measuredS = (rec.now() - t0) / 1000.0
        // memory the workload keeps (a per-layer number): heap still in
        // use after a full collection once the timed passes are done.
        // Spark's ContextCleaner frees shuffles and broadcasts only after a
        // collection finds them unreachable, so collect a few times and
        // keep the least.
        val retained = if (!traced) Map.empty else Map("retained_heap_mb" -> (1 to 3).map { _ =>
          System.gc()
          Thread.sleep(300)
          java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
        }.min)
        val tf = rec.now()
        val outputs = w.finish(out)
        Map("setup_s" -> setupS, "measured_s" -> measuredS,
          "finish_s" -> (rec.now() - tf) / 1000.0) ++ retained ++ outputs
      } finally w.close()
    val stats = rec.stats()
    val spans = rec.spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent,
        "pass" -> s.pass, "start_ms" -> s.start, "end_ms" -> s.end, "wall_s" -> s.wall,
        "ok" -> s.ok) ++ stats.get(s.id).map(st => Map("layers" -> Map(
        "jobs" -> st.jobs, "tasks" -> st.tasks, "task_s" -> st.taskS, "job_s" -> st.jobS,
        "driver_gap_s" -> st.driverGapS, "gc_s" -> st.gcS,
        "shuffle_read_bytes" -> st.shuffleRead, "shuffle_write_bytes" -> st.shuffleWrite,
        "spill_bytes" -> st.spill, "input_rows" -> st.inputRows))).getOrElse(Map.empty)
    }
    val oracle = graft.SparkEntry.oracleSql
    val record = finish ++ Map(
      "workload" -> workload,
      "cores" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "passes" -> passes,
      "spans" -> spans,
      "oracle" -> oracle)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(a("result")).toFile, record)
    spark.stop()
  }
}
