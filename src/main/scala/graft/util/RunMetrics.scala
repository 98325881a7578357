package graft.util

import scala.collection.mutable

import org.apache.spark.{GraftMetricsBridge, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one listener of graft's harness mains: what one pass of a query
  * cost, layer by layer. Per job it records the interval, task count
  * and call site of the job's final stage; per stage the wall time,
  * summed task run time and shuffle records; per successful task the
  * shuffle read/write bytes, input rows/bytes, spill and run time.
  * Bench writes each query's second pass to its sidecar, and Prof
  * prints the same pass job by job and stage by stage.
  */
final class RunMetrics private (spark: SparkSession) extends SparkListener {
  import RunMetrics._

  private val jobMap = mutable.LinkedHashMap.empty[Int, Job]
  private val stageBuf = mutable.ArrayBuffer.empty[Stage]
  private var totals = new Totals

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobMap(e.jobId) = Job(e.jobId, e.time, 0L, e.stageInfos.map(_.numTasks).sum,
      e.stageInfos.lastOption.flatMap(_.details.linesIterator.nextOption()).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMap.get(e.jobId).foreach(j => jobMap(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stageBuf += Stage(i.stageId,
      (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(0L),
      m.fold(0L)(_.executorRunTime),
      m.fold(0L)(_.shuffleReadMetrics.recordsRead),
      m.fold(0L)(_.shuffleWriteMetrics.recordsWritten))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.reason == Success) synchronized {
      val t = totals
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.inRows += m.inputMetrics.recordsRead
      t.inBytes += m.inputMetrics.bytesRead
    }
  }

  /** The jobs of the last pass, in start order. */
  def jobs: Seq[Job] = synchronized(jobMap.values.toList)

  /** The stages of the last pass, in completion order. */
  def stages: Seq[Stage] = synchronized(stageBuf.toList)

  /** One timed pass of a query: `df` is built and written to the noop
    * sink (every output column computed), the operator caches are
    * drained ([[CacheScope.drain]], then `clearCache`), and the listener
    * bus is drained so every event of the pass is counted. The wall time
    * covers building, writing and the cache drain. The pass's jobs carry
    * `label` as their description; an exception from the query is
    * returned, not thrown.
    */
  def pass(label: String)(df: => DataFrame): Pass = {
    val sc = spark.sparkContext
    GraftMetricsBridge.drainListeners(sc)
    synchronized { jobMap.clear(); stageBuf.clear(); totals = new Totals }
    sc.setJobDescription(label)
    val t0 = System.nanoTime()
    val error =
      try { df.write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }
    CacheScope.drain()
    spark.catalog.clearCache()
    val wall = (System.nanoTime() - t0) / 1e9
    GraftMetricsBridge.drainListeners(sc)
    sc.setJobDescription(null)
    Pass(wall, error, layers(wall))
  }

  /** The pass's totals; the driver gap is `wall` minus the union of the
    * job intervals (a job still running counts up to now).
    */
  private def layers(wall: Double): Layers = synchronized {
    val now = System.currentTimeMillis()
    var (covered, lo, hi) = (0L, -1L, -1L)
    jobMap.values.map(j => (j.start, if (j.end > 0) j.end else now)).toSeq.sortBy(_._1)
      .foreach { case (s, e) =>
        if (s > hi) { covered += hi - lo; lo = s; hi = e }
        else hi = math.max(hi, e)
      }
    val jobS = (covered + hi - lo) / 1e3
    val t = totals
    Layers(jobMap.size, t.tasks, t.runMs / 1e3, jobS, math.max(0.0, wall - jobS),
      t.spill, t.shuffleRead, t.shuffleWrite, t.inRows, t.inBytes)
  }
}

object RunMetrics {

  /** A listener attached to `spark`'s context. */
  def on(spark: SparkSession): RunMetrics = {
    val m = new RunMetrics(spark)
    spark.sparkContext.addSparkListener(m)
    m
  }

  final case class Job(id: Int, start: Long, end: Long, tasks: Int, site: String)

  final case class Stage(id: Int, wallMs: Long, runMs: Long, readRecs: Long, writeRecs: Long)

  /** A pass's layer totals: jobs started, successful tasks and their
    * run seconds, the seconds some job was running (`jobS`), the rest
    * of the wall (`driverGapS`), spilled bytes, and shuffle and input
    * volumes.
    */
  final case class Layers(jobs: Int, tasks: Long, taskS: Double, jobS: Double,
      driverGapS: Double, spillBytes: Long, shuffleRead: Long, shuffleWrite: Long,
      inputRows: Long, inputBytes: Long)

  final case class Pass(wallS: Double, error: Option[Throwable], layers: Layers)

  /** Sums over a pass's successful tasks. */
  private final class Totals {
    var tasks, runMs, spill, shuffleRead, shuffleWrite, inRows, inBytes = 0L
  }
}
