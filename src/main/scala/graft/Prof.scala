package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.util.{CacheScope, RunMetrics}

/** Profiling aid for the optimization rounds (guide §1: measure first),
  * under the exact Bench session config.
  *
  * `Prof <query>` runs ONE query twice and prints a per-job breakdown
  * of the SECOND run (run 1 pays codegen/first-read, same methodology
  * as Bench) — job id, wall seconds, task count, and the call-site of
  * the job's final stage. Reading the list top-down shows which
  * operator phase owns the wall. One line per completed stage follows:
  * stage id, wall seconds, summed task run time, and shuffle records
  * read/written — where a job's wall goes between scheduling and task
  * work.
  *
  * `Prof explain <outDir> <tag> <q1,q2,...>` writes each named query's
  * `.explain("formatted")` to `<outDir>/<name>_<tag>.txt`, so plan
  * diffs ride with a round's evidence. Composite queries (tx_*)
  * execute their staging mutations while building the returned frame;
  * the dumped plan is the final read — the plan the bench's noop sink
  * times.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.Prof <queryName>"
  *   sbt "runMain graft.Prof explain <outDir> <tag> <q1,q2,...>"
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.toList match {
      case "explain" :: outDir :: tag :: names :: Nil =>
        explain(sfDir, outDir, tag, names.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case name :: Nil => profile(sfDir, name)
      case _ => sys.error("usage: Prof <queryName> | Prof explain <outDir> <tag> <q1,q2,...>")
    }
  }

  private def query(name: String) =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  private def profile(sfDir: String, name: String): Unit = {
    val fn = query(name)
    val spark = Bench.session()
    val metrics = RunMetrics.on(spark)
    (1 to 2).foreach { run =>
      val p = metrics.pass(s"prof:$name run$run")(fn(spark, sfDir))
      p.error.foreach(e => throw e)
      println(f"[prof] run=$run $name elapsed=${p.wallS}%.3f s")
      if (run == 2) {
        val done = metrics.jobs.filter(_.end > 0)
        val total = done.map(j => j.end - j.start).sum
        println(f"[prof] jobs=${done.size} sum=${total / 1e3}%.3f s")
        done.foreach { j =>
          println(f"[prof] job=${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f s tasks=${j.tasks}%4d  ${j.site}")
        }
        metrics.stages.foreach { s =>
          println(f"[prof] stage=${s.id}%4d ${s.wallMs / 1e3}%8.3f s run=${s.runMs / 1e3}%8.3f s " +
            f"shuffle_read_recs=${s.readRecs}%9d shuffle_write_recs=${s.writeRecs}%9d")
        }
      }
    }
    spark.stop()
  }

  private def explain(sfDir: String, outDir: String, tag: String, names: Seq[String]): Unit = {
    val fns = names.map(n => n -> query(n))
    val spark = Bench.session()
    Files.createDirectories(Paths.get(outDir))
    fns.foreach { case (name, fn) =>
      val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"), txt.getBytes("UTF-8"))
      println(s"[explain] wrote $name ($tag)")
      CacheScope.drain()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
