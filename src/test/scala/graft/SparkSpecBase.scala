package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 keeps suites fast. */
trait SparkSpecBase extends AnyFunSuite {
  val SfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpecBase.session

  /** `body` with session conf `k` set to `v`, restored after. */
  def withConf[A](k: String, v: String)(body: => A): A = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None    => spark.conf.unset(k)
    }
  }

  /** `body` under both solvers of the graph operators that gate on
    * [[graft.util.Local.collectIfFits]]: the session default (small
    * graphs solve on the driver) and a disabled broadcast threshold
    * (the distributed path). Returns (driver, distributed) results.
    */
  def onBothPaths[A](body: => A): (A, A) =
    (body, withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body))

  /** An exception's message and its causes' messages, outermost first. */
  def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** Spark jobs `body` launches on this thread (job-group scoped, so
    * no other work in the session counts).
    */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val a = body
      org.apache.spark.GraftMetricsBridge.drainListeners(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpecBase {
  /** Four cores whatever SPARK_GRAFT_CPUS says: specs that count
    * partitions or plan shapes assume it.
    */
  lazy val session: SparkSession = graft.util.Session.local(4)
}
