package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.util.Fixpoint

class FixpointSpec extends SparkSpecBase {

  test("materialize: the observed metric is the returned frame's row count") {
    val r = Fixpoint.materialize(spark.range(0, 1000).toDF().filter(col("id") % 7 === 3))
    assert(r.metric == r.df.count())
    assert(r.metric == 143L)
    // a custom aggregate rides the same execution; null reads as 0
    assert(Fixpoint.materialize(spark.range(0, 10).toDF(), sum(col("id"))).metric == 45L)
    assert(Fixpoint.materialize(spark.range(0, 0).toDF(), sum(col("id"))).metric == 0L)
  }

  test("run: each round is exactly one job, and the loop stops at the first done round") {
    val init = Fixpoint.materialize(spark.range(0, 64).toDF("x"))
    def halve(s: Fixpoint.Round, r: Int): Fixpoint.Round =
      Fixpoint.materialize(s.df.filter(col("x") % (1L << r) === 0))
    val (five, jobs) = jobsOf(Fixpoint.run("halving", init, 5)(halve)((_, _) => false))
    assert(jobs == 5, s"5 rounds ran $jobs jobs")
    assert(five.metric == 2L && five.df.count() == 2L) // 0 and 32
    var rounds = 0
    val fixed = Fixpoint.run("halving", init, 20) { (s, r) => rounds = r; halve(s, r) } (
      _.metric == _.metric)
    // 64 → 32 → 16 → 8 → 4 → 2 → 1 (round 6) → 1 (round 7 changes nothing)
    assert(rounds == 7 && fixed.metric == 1L, s"$rounds rounds, metric ${fixed.metric}")
  }

  test("run: a loop that must converge fails at the cap, naming the loop and the round count") {
    val init = Fixpoint.materialize(spark.range(0, 4).toDF("x"))
    val err = intercept[IllegalStateException] {
      Fixpoint.run("never-settles", init, 3, mustConverge = true) { (s, _) =>
        Fixpoint.materialize(s.df.select((col("x") + 1).as("x")))
      } ((_, _) => false)
    }
    assert(err.getMessage.contains("never-settles") && err.getMessage.contains("3 rounds"),
      err.getMessage)
    // a bounded-round loop returns its state at the cap instead
    val capped = Fixpoint.run("bounded", init, 3) { (s, _) =>
      Fixpoint.materialize(s.df.select((col("x") + 1).as("x")))
    } ((_, _) => false)
    assert(capped.df.agg(min(col("x"))).head.getLong(0) == 3L)
  }

  test("static audit: loop mechanics stay in Fixpoint and the one AQE toggle") {
    val root = Paths.get("src/main/scala/graft")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readAllLines(p).asScala.toSeq)
      .toList
    def sites(found: String => Boolean): List[String] = sources.flatMap { case (rel, lines) =>
      lines.zipWithIndex.collect { case (l, i) if found(l) => s"$rel:${i + 1}" }
    }
    // a convergence metric read anywhere but right after Fixpoint's own
    // eager checkpoint can count a second execution of the plan
    val metricReads = sites(_.contains("observedMetrics"))
    assert(metricReads.nonEmpty && metricReads.forall(_.startsWith("util/Fixpoint.scala:")),
      s"observedMetrics read outside util/Fixpoint.scala: $metricReads")
    // session builders configure AQE once per session (`.config(...)`);
    // an operator that flips it at run time does so in one place only
    val aqeSites = sites(l => l.contains("\"spark.sql.adaptive.enabled\"") && !l.contains(".config("))
    assert(aqeSites.size <= 1, s"AQE set at more than one operator site: $aqeSites")
    val debugKnob = sites(_.contains("GRAFT_CLUSTER_DEBUG"))
    assert(debugKnob.isEmpty, s"the removed clustering debug knob is back: $debugKnob")
  }
}
