package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.RetailEtl
import graft.sources.{StepRunner, TxTable}

/** A workload: untimed set-up, then passes. `pass` runs one pass of
  * operations through the recorder; `finish` writes the outputs the
  * correctness gate reads and returns facts for the result record.
  */
trait Workload {
  /** Untimed preparation before the warm pass; its calls are spans of
    * the `setup` pass.
    */
  def setup(parent: Int): Unit = ()
  /** Passes the inputs allow, the warm pass included. */
  def maxPasses: Int = Int.MaxValue
  def pass(p: Int, parent: Int): Unit
  /** Harness bookkeeping after pass `p`, outside its timing. */
  def afterPass(p: Int, traced: Boolean): Unit = ()
  def finish(out: Path): Map[String, Any]
  def close(): Unit = ()
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Operators persist intermediate frames; drop them between calls so
    * no call is charged for another's cache (the same rule as Bench).
    */
  def dropCaches(spark: SparkSession): Unit = {
    graft.util.CacheScope.drain()
    spark.catalog.clearCache()
  }

  def write(df: DataFrame, dir: Path): Unit =
    df.write.mode("overwrite").parquet(dir.toString)
}

/** A query binding run as a StepRunner step, so its artifact really
  * materializes; `query` names the `SparkEntry.queries` binding whose
  * oracle SQL checks it.
  */
final case class Step(name: String, query: String, kind: String)

/** retail_dag: the reference DAG end to end, clean → dims → fact →
  * audit → publish (TxTable.create) → dashboard queries.
  */
final class RetailDag(spark: SparkSession, rec: Recorder, data: String, work: Path) extends Workload {
  val build = Seq(
    Step("clean", "etl_clean", "write"),
    Step("dim_customers", "etl_scd1_customers", "write"),
    Step("dim_products", "etl_scd1_products", "write"),
    Step("dim_dates", "etl_dim_dates", "write"),
    Step("dim_serial", "etl_dim_serial", "write"),
    Step("fact_build", "etl_fact_build", "write"),
    Step("fk_audit", "etl_fk_audit", "write"))
  val dashboard = Seq(
    Step("star_revenue", "etl_star_revenue", "read"),
    Step("star_topn", "etl_star_topn", "read"),
    Step("rfm", "etl_rfm", "read"))
  private var passes = Seq.empty[Int]

  private def runDir(p: Int) = work.resolve(f"dag/pass-$p%03d")

  def pass(p: Int, parent: Int): Unit = {
    val runner = new StepRunner(spark, runDir(p).toString)
    build.foreach { s =>
      rec.op(s.name, s.kind, parent, p) {
        runner.step(s.name)(SparkEntry.queries(s.query)(spark, data))
        Workload.dropCaches(spark)
      }
    }
    rec.op("publish_fact", "write", parent, p) {
      val fact = spark.read.parquet(runDir(p).resolve("artifacts/fact_build").toString)
      TxTable.create(spark, runDir(p).resolve("warehouse/fct_invoices").toString,
        fact, Seq("invoice_id"))
    }
    dashboard.foreach { s =>
      rec.op(s.name, s.kind, parent, p) {
        Workload.noop(SparkEntry.queries(s.query)(spark, data))
        Workload.dropCaches(spark)
      }
    }
    passes :+= p
  }

  def finish(out: Path): Map[String, Any] = {
    // every pass's artifacts stay on disk for the gate; the published
    // fact table and the dashboard answers are written out here,
    // outside the timed region
    val checks = passes.flatMap { p =>
      val d = runDir(p)
      val pub = out.resolve(f"pass-$p%03d/publish_fact")
      Workload.write(TxTable.read(spark, d.resolve("warehouse/fct_invoices").toString), pub)
      build.map(s => Map("name" -> s.name, "query" -> s.query, "pass" -> p,
          "path" -> d.resolve(s"artifacts/${s.name}").toString)) :+
        Map("name" -> "publish_fact", "query" -> "etl_fact_build", "pass" -> p, "path" -> pub.toString)
    }
    val dash = dashboard.map { s =>
      val dir = out.resolve(s"dashboard/${s.name}")
      Workload.write(SparkEntry.queries(s.query)(spark, data), dir)
      Workload.dropCaches(spark)
      Map("name" -> s.name, "query" -> s.query, "pass" -> -1, "path" -> dir.toString)
    }
    Map("checks" -> (checks ++ dash))
  }
}

/** training_data: curation (near-duplicate filtering, sequence
  * packing), then index and graph features (k-NN graph, PageRank), each
  * step materialized through StepRunner.
  */
final class TrainingData(spark: SparkSession, rec: Recorder, data: String, work: Path) extends Workload {
  val steps =
    Seq("pipeline_curate", "pipeline_pack").map(n => Step(n, n, "write")) ++
    Seq("sim_knn_graph", "q52_pagerank").map(n => Step(n, n, "read"))
  private var passes = Seq.empty[Int]

  private def runDir(p: Int) = work.resolve(f"training/pass-$p%03d")

  def pass(p: Int, parent: Int): Unit = {
    val runner = new StepRunner(spark, runDir(p).toString)
    steps.foreach { s =>
      rec.op(s.name, s.kind, parent, p) {
        runner.step(s.name)(SparkEntry.queries(s.query)(spark, data))
        Workload.dropCaches(spark)
      }
    }
    passes :+= p
  }

  def finish(out: Path): Map[String, Any] =
    Map("checks" -> passes.flatMap(p => steps.map(s => Map("name" -> s.name,
      "query" -> s.query, "pass" -> p,
      "path" -> runDir(p).resolve(s"artifacts/${s.name}").toString))))
}

/** retail_incremental: the warehouse kept live by daily delta batches.
  * Per batch: SCD1 customer upsert (merge), exactly-once fact append,
  * one correction (deleteWhere), CDC replica catch-up after each of the
  * two fact commits, and three reads (live aggregate, bloom point lookup,
  * change feed).
  */
final class RetailIncremental(spark: SparkSession, rec: Recorder, data: String,
    batchDir: String, work: Path) extends Workload {
  private val batches = Paths.get(batchDir)
  private val meta: Seq[Map[String, Any]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m.readValue(batches.resolve("batches.json").toFile, classOf[Seq[Map[String, Any]]])
  }
  private val dim = work.resolve("wh/dim_customers").toString
  private val fact = work.resolve("wh/fct_lines").toString
  private val replica = work.resolve("wh/fct_lines_replica").toString
  private var stream: org.apache.spark.sql.streaming.StreamingQuery = _
  private var applied = Seq.empty[Map[String, Any]]
  // storage accounting of the traced passes, one entry per batch, and
  // the data files on disk after the last pass
  private var storage = Seq.empty[Map[String, Double]]
  private var lastFiles = Map.empty[String, Long]

  private def customers = graft.util.Tables.customer(spark, data)

  /** SCD1 customer rows from a set of orders: the latest order decides. */
  private def scd1(orders: DataFrame): DataFrame = {
    val latest = RetailEtl.keepLatest(orders, Seq("o_custkey"),
      Seq(col("o_orderdate").desc, col("o_orderkey").desc))
    customers.join(latest, col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey").as("customer_id"), col("c_name").as("name"),
        col("c_mktsegment").as("segment"),
        col("o_orderdate").cast("date").as("last_order_date"),
        col("o_orderstatus").as("last_status"))
  }

  override def setup(parent: Int): Unit = {
    def op[A](name: String)(body: => A): A =
      rec.op(name, "setup", parent, 0)(body).getOrElse(throw new IllegalStateException(s"$name failed"))
    op("create_dim") {
      TxTable.create(spark, dim,
        spark.read.parquet(batches.resolve("dim_base.parquet").toString).repartition(4),
        Seq("customer_id"))
    }
    op("create_fact") {
      TxTable.create(spark, fact,
        spark.read.parquet(batches.resolve("fact_base.parquet").toString)
          .repartitionByRange(8, col("invoice_id")), Seq("invoice_id"))
    }
    op("bloom_index")(TxTable.buildBloomIndex(spark, fact, "invoice_id"))
    rec.op("replica_seed", "sync", parent, 0) {
      stream = graft.streaming.EventStreams.cdcReplicaSink(spark, fact, replica,
        "line_key", Seq("line_key"), work.resolve("wh/_replica_ck").toString)
      stream.processAllAvailable()
    }.getOrElse(throw new IllegalStateException("replica_seed failed"))
  }

  override def maxPasses: Int = meta.size

  def pass(p: Int, parent: Int): Unit = {
    val m = meta(p - 1)
    val b = m("batch").asInstanceOf[Int]
    val orders = spark.read.parquet(batches.resolve(f"orders_$b%03d.parquet").toString)
    val lines = spark.read.parquet(batches.resolve(f"fact_$b%03d.parquet").toString)
    val victim = m("delete_invoice").toString.toLong
    val keys = m("lookup_invoices").asInstanceOf[Seq[Any]].map(_.toString)
    val before = TxTable.latestVersion(fact)
    rec.op("merge", "write", parent, p) {
      TxTable.merge(spark, dim, scd1(orders), "customer_id", Seq("customer_id"))
    }
    rec.op("append", "write", parent, p) {
      require(TxTable.appendBatchExactlyOnce(spark, fact, lines, b.toLong, Seq("invoice_id")),
        s"batch $b was already committed")
    }
    // The replica catches up after each fact commit, so its micro-batches
    // never overlap the next write: every commit is one micro-batch, and
    // the replica's time is its own, not hidden inside the correction.
    rec.op("replica", "sync", parent, p)(stream.processAllAvailable())
    rec.op("correction", "write", parent, p) {
      TxTable.deleteWhere(spark, fact, col("invoice_id") === victim, Seq("invoice_id"))
    }
    rec.op("replica", "sync", parent, p)(stream.processAllAvailable())
    val agg = rec.op("read", "read", parent, p) {
      TxTable.read(spark, fact).groupBy(year(col("ship_date")).as("yr"))
        .agg(count(lit(1)).as("n"), sum(col("quantity")).as("qty")).collect()
    }
    val hits = rec.op("lookup", "read", parent, p) {
      TxTable.readPointLookup(spark, fact, "invoice_id", keys).select("line_key").collect()
    }
    val after = TxTable.latestVersion(fact)
    val changes = rec.op("changes", "read", parent, p) {
      TxTable.changesBetween(spark, fact, before, after).select("line_key", "_change").collect()
    }
    applied :+= Map(
      "batch" -> b,
      "rows" -> agg.map(_.map(_.getLong(1)).sum).getOrElse(-1L),
      "qty" -> agg.map(_.map(_.getDouble(2)).sum).getOrElse(-1.0),
      "lookup_keys" -> hits.map(_.map(_.getLong(0)).sorted.toSeq).getOrElse(Seq.empty),
      "inserted" -> changes.map(_.count(_.getString(1) == "insert")).getOrElse(-1),
      "deleted" -> changes.map(_.count(_.getString(1) == "delete")).getOrElse(-1))
  }

  /** Data files under the given tables: path → bytes. */
  private def dataFiles(tables: Seq[String]): Map[String, Long] = tables.flatMap { t =>
    val s = Files.walk(Paths.get(t))
    try s.iterator().asScala.filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
      .map(f => f.toString -> Files.size(f)).toList
    finally s.close()
  }.toMap

  /** Storage accounting of a traced pass, after it ends: bytes and files
    * the batch's three commits wrote, against the bytes of the batch's
    * own input; on-disk bytes of the fact table against the bytes of its
    * live files. Nothing writes between passes, so the files on disk
    * after the previous pass are the files before this one.
    */
  override def afterPass(p: Int, traced: Boolean): Unit = {
    val now = dataFiles(Seq(dim, fact))
    if (traced && lastFiles.nonEmpty) account(meta(p - 1)("batch").asInstanceOf[Int], lastFiles, now)
    lastFiles = now
  }

  private def account(b: Int, before: Map[String, Long], now: Map[String, Long]): Unit = {
    val fresh = now.filter { case (f, _) => !before.contains(f) }
    val input = Seq(f"orders_$b%03d.parquet", f"fact_$b%03d.parquet")
      .map(n => Files.size(batches.resolve(n))).sum
    val live = TxTable.read(spark, fact).inputFiles.map(u => new java.net.URI(u).getPath).toSet
    val onDisk = now.filter(_._1.startsWith(fact))
    storage :+= Map(
      "written_bytes" -> fresh.values.sum.toDouble,
      "input_bytes" -> input.toDouble,
      "files" -> fresh.size.toDouble,
      "commits" -> 3.0,
      "disk_bytes" -> onDisk.values.sum.toDouble,
      "live_bytes" -> onDisk.filter(f => live.contains(f._1)).values.sum.toDouble)
  }

  def finish(out: Path): Map[String, Any] = {
    stream.processAllAvailable()
    Workload.write(TxTable.read(spark, fact), out.resolve("fact"))
    Workload.write(TxTable.read(spark, replica), out.resolve("replica"))
    Workload.write(TxTable.read(spark, dim), out.resolve("dim"))
    Map("batches" -> applied, "storage" -> storage, "fact" -> out.resolve("fact").toString,
      "replica" -> out.resolve("replica").toString, "dim" -> out.resolve("dim").toString)
  }

  override def close(): Unit = if (stream != null) stream.stop()
}
