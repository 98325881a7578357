package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call: a pass, or an operation inside a pass. Times are
  * epoch milliseconds with sub-millisecond digits (a monotonic clock
  * anchored once at start-up).
  */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    pass: Int, start: Double, end: Double, ok: Boolean) {
  def wall: Double = (end - start) / 1000.0
}

/** Per-job record collected by the listener; `streaming` marks a job of
  * a streaming query's micro-batch.
  */
final case class JobRec(span: Int, start: Double, end: Double,
    stages: Seq[Int], streaming: Boolean)

/** Task-level sums for one stage. */
final class StageTally {
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val inputRows = new AtomicLong
}

/** Listener of the traced run. Every job is parented to the span the
  * benchmark named in the `graftbench.span` local property. A streaming
  * query's micro-batch thread inherited that property from the call that
  * started the query, so its jobs, which Spark tags with the
  * `sql.streaming.queryId` local property, are parented to a stream-sync
  * span of their pass instead (see [[Recorder.stats]]).
  */
final class SpanListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageTally]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Recorder.Prop))).map(_.toInt).getOrElse(-1)
    val streaming = props.exists(_.getProperty(Recorder.StreamProp) != null)
    jobs.put(e.jobId, JobRec(span, e.time.toDouble, Double.NaN, e.stageIds, streaming))
    e.stageIds.foreach(s => stages.putIfAbsent(s, new StageTally))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time.toDouble))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || e.reason != Success) return
    val t = stages.computeIfAbsent(e.stageId, _ => new StageTally)
    t.tasks.incrementAndGet()
    t.runMs.addAndGet(m.executorRunTime)
    t.gcMs.addAndGet(m.jvmGCTime)
    t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    t.inputRows.addAndGet(m.inputMetrics.recordsRead)
  }
}

/** Layer numbers of one span: its jobs, their tasks, the time its jobs
  * ran (union of their intervals) and the driver gap (span wall time not
  * covered by any of its jobs).
  */
final case class SpanStats(jobs: Int, tasks: Long, taskS: Double, jobS: Double,
    driverGapS: Double, gcS: Double, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, inputRows: Long)

/** Records spans at each call boundary and, when traced, the Spark jobs
  * under them. One client thread drives all calls (a closed loop), so
  * spans never overlap except as parent and child.
  */
final class Recorder(sc: SparkContext) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val ids = new AtomicInteger(0)
  val spans = ArrayBuffer.empty[Span]
  var attempted = 0
  var failed = 0
  private var listener: Option[SpanListener] = None
  private var attached = false

  /** Attach or detach the job/task listener; spans are always recorded. */
  def tracing(on: Boolean): Unit = if (on != attached) {
    val l = listener.getOrElse { val n = new SpanListener; listener = Some(n); n }
    if (on) sc.addSparkListener(l)
    else { BenchBridge.drain(sc); sc.removeSparkListener(l) }
    attached = on
  }

  def traced: Boolean = attached

  def now(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private def timed[A](name: String, kind: String, parent: Int, pass: Int)(body: => A): (Span, Option[A]) = {
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty(Recorder.Prop)
    sc.setLocalProperty(Recorder.Prop, id.toString)
    sc.setJobDescription(s"graftbench:$name")
    val t0 = now()
    val res =
      try Some(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $name failed: $e")
          None
      } finally sc.setLocalProperty(Recorder.Prop, prev)
    val s = Span(id, name, kind, parent, pass, t0, now(), res.isDefined)
    spans += s
    (s, res)
  }

  /** Run one pass; `body` receives the pass span id for its operations.
    * A pass counts as failed when any of its operations failed.
    */
  def pass(name: String, pass: Int)(body: Int => Unit): Span = {
    val id = ids.get() + 1
    val (s, _) = timed(name, "pass", 0, pass)(body(id))
    val ok = s.ok && !spans.exists(c => c.parent == s.id && !c.ok)
    val fixed = s.copy(ok = ok)
    spans(spans.length - 1) = fixed
    fixed
  }

  /** One operation: counted as attempted, and as failed when it throws.
    * A failed operation's time is never reported as a latency.
    */
  def op[A](name: String, kind: String, parent: Int, pass: Int)(body: => A): Option[A] = {
    attempted += 1
    val (s, r) = timed(name, kind, parent, pass)(body)
    if (!s.ok) failed += 1
    r
  }

  /** Per-span layer numbers; call once after the last pass. */
  def stats(): Map[Int, SpanStats] = listener match {
    case None => Map.empty
    case Some(l) =>
      BenchBridge.drain(sc)
      val known = spans.map(s => s.id -> s).toMap
      val ops = spans.filter(_.kind != "pass")
      val passes = spans.filter(_.kind == "pass")
      // A micro-batch starts as soon as a write commits, before the pass
      // waits for the stream; its jobs belong to the first sync span of
      // the pass that had not ended when it started. Other jobs belong to
      // the span that named them, or else to the operation open when they
      // started.
      def owner(j: JobRec): Option[Span] =
        if (j.streaming)
          passes.find(p => j.start >= p.start && j.start <= p.end)
            .flatMap(p => ops.find(s => s.parent == p.id && s.kind == "sync" && s.end >= j.start))
        else
          known.get(j.span).filter(s => s.kind != "pass" && j.start >= s.start - 1 && j.start <= s.end + 1)
            .orElse(ops.find(s => j.start >= s.start && j.start <= s.end))
      val byOp = l.jobs.values().asScala.toSeq.flatMap(j => owner(j).map(_.id -> j))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      def of(span: Span, js: Seq[JobRec]): SpanStats = {
        val st = js.flatMap(_.stages).distinct.flatMap(s => Option(l.stages.get(s)))
        val intervals = js.map(j => (j.start, if (j.end.isNaN) span.end else j.end))
        // a stream-sync span owns micro-batches that began before it
        // opened; only their part inside the span covers its wall time
        val covered = union(intervals.map(i => (math.max(i._1, span.start), math.min(i._2, span.end)))
          .filter(i => i._2 > i._1))
        SpanStats(js.size, st.map(_.tasks.get).sum, st.map(_.runMs.get).sum / 1000.0,
          union(intervals) / 1000.0, math.max(0.0, span.wall - covered / 1000.0),
          st.map(_.gcMs.get).sum / 1000.0, st.map(_.shuffleRead.get).sum,
          st.map(_.shuffleWrite.get).sum, st.map(_.spill.get).sum,
          st.map(_.inputRows.get).sum)
      }
      spans.map { s =>
        val js =
          if (s.kind == "pass") spans.filter(_.parent == s.id).flatMap(c => byOp.getOrElse(c.id, Nil)).toSeq
          else byOp.getOrElse(s.id, Nil)
        s.id -> of(s, js)
      }.toMap
  }

  /** Length of the union of intervals (milliseconds). */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (hi.isNaN || a > hi) {
        if (!hi.isNaN) total += hi - lo
        lo = a; hi = b
      } else hi = math.max(hi, b)
    }
    if (!hi.isNaN) total += hi - lo
    total
  }
}

object Recorder {
  val Prop = "graftbench.span"
  /** Set by Spark on every job of a streaming query. */
  val StreamProp = "sql.streaming.queryId"
}
