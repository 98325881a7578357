package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Profiling aid for the optimization rounds (guide §1: measure first).
  * Runs ONE query under the exact Bench session config and prints a
  * per-job breakdown — job id, wall seconds, task count, and the
  * call-site of the job's final stage — for the SECOND run (run 1 pays
  * codegen/first-read, same methodology as Bench). Reading the list
  * top-down shows which operator phase owns the wall. One line per
  * completed stage follows: stage id, wall seconds, summed task run
  * time, and shuffle records read/written — where a job's wall goes
  * between scheduling and task work.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Prof <queryName>"
  */
object Prof {
  private final case class JobRec(id: Int, start: Long, var end: Long = 0L,
    var tasks: Int = 0, var site: String = "")
  private final case class StageRec(id: Int, wallMs: Long, runMs: Long,
    readRecs: Long, writeRecs: Long)

  private final class JobTally extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stages = mutable.ArrayBuffer[StageRec]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val rec = JobRec(e.jobId, e.time)
      rec.tasks = e.stageInfos.map(_.numTasks).sum
      rec.site = e.stageInfos.lastOption
        .flatMap(_.details.linesIterator.nextOption()).getOrElse("")
      jobs(e.jobId) = rec
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages += StageRec(i.stageId,
        (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L),
        m.fold(0L)(_.executorRunTime),
        m.fold(0L)(_.shuffleReadMetrics.recordsRead),
        m.fold(0L)(_.shuffleWriteMetrics.recordsWritten))
    }
    def reset(): Unit = synchronized { jobs.clear(); stages.clear() }
    def report(): Unit = synchronized {
      val done = jobs.values.filter(_.end > 0).toSeq
      val total = done.map(j => j.end - j.start).sum
      println(f"[prof] jobs=${done.size} sum=${total / 1e3}%.3f s")
      done.foreach { j =>
        println(f"[prof] job=${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f s tasks=${j.tasks}%4d  ${j.site}")
      }
      stages.foreach { s =>
        println(f"[prof] stage=${s.id}%4d ${s.wallMs / 1e3}%8.3f s run=${s.runMs / 1e3}%8.3f s " +
          f"shuffle_read_recs=${s.readRecs}%9d shuffle_write_recs=${s.writeRecs}%9d")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Prof <queryName>"))
    System.setProperty("graft.bench.nosort", "1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val tally = new JobTally
    spark.sparkContext.addSparkListener(tally)
    (1 to 2).foreach { run =>
      tally.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - t0) / 1e9
      graft.util.CacheScope.drain()
      spark.catalog.clearCache()
      println(f"[prof] run=$run $name elapsed=$el%.3f s")
      if (run == 2) { Thread.sleep(200); tally.report() }
    }
    spark.stop()
  }
}
