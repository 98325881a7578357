package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** TxTable scans take their schema from the log (`FileEntry.types`),
  * not from a footer-reading inference job. Every table shape is
  * checked against its LEGACY TWIN — a byte copy whose log records
  * carry no types, so it reads through the inference path: both must
  * return the same rows, column names, column order and types, and
  * only the twin may launch a job before the action. Also: the keyed
  * merge evaluates its update frame once, and the CDC-apply path
  * leaves nothing cached behind.
  */
class TxScanSchemaSpec extends SparkSpecBase {

  private def tmpTable(): String =
    Files.createTempDirectory("graft_scan").resolve("t").toString

  private val mapper = new ObjectMapper()

  /** Spark jobs `body` launches on this thread (job-group scoped, so
    * no other work in the session counts).
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"scan-schema-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "scan schema spec")
    try {
      val a = body
      org.apache.spark.GraftMetricsBridge.drainListeners(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A byte copy of table `t` whose log records carry no recorded
    * types — every entry legacy, so every scan infers.
    */
  private def legacyTwin(t: String): String = {
    val dst = Paths.get(tmpTable())
    val src = Paths.get(t)
    def strip(n: com.fasterxml.jackson.databind.JsonNode): Unit = {
      n match {
        case o: ObjectNode => o.remove("types"); ()
        case _             => ()
      }
      n.elements().asScala.foreach(strip)
    }
    val s = Files.walk(src)
    try s.iterator().asScala.toList.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else if (p.getParent.getFileName.toString == "_log") {
        val node = mapper.readTree(p.toFile)
        strip(node)
        Files.write(d, mapper.writeValueAsBytes(node))
      } else Files.copy(p, d)
    } finally s.close()
    dst.toString
  }

  /** Columns, order, types (and nullability) plus the row multiset. */
  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want), s"$what: rows differ")
  }

  /** Compare `t` with its legacy twin through read, readPointLookup,
    * changesBetween and deleteWhere. `jobless`: the typed side builds
    * its frames with no job (false when `t` itself holds legacy
    * entries).
    */
  private def checkAgainstInference(t: String, fromV: Int, key: String,
      probe: Seq[String], pred: Column, jobless: Boolean = true): Unit = {
    val twin = legacyTwin(t)
    val toV = TxTable.latestVersion(t)
    def both(what: String)(f: String => DataFrame): Unit = {
      val (got, jobsT) = jobsOf(f(t))
      val (want, jobsL) = jobsOf(f(twin))
      if (jobless) assert(jobsT == 0, s"$what built with $jobsT job(s) before its action")
      else assert(jobsT > 0, s"$what: a legacy entry must keep the inference read")
      assert(jobsL > 0, s"$what: the legacy twin must infer (saw no job)")
      assertSame(got, want, what)
    }
    both("read")(TxTable.read(spark, _))
    both("readPointLookup")(TxTable.readPointLookup(spark, _, key, probe))
    both("changesBetween")(TxTable.changesBetween(spark, _, fromV, toV))
    val (_, delT) = jobsOf(TxTable.deleteWhere(spark, t, pred, Seq(key)))
    val (_, delL) = jobsOf(TxTable.deleteWhere(spark, twin, pred, Seq(key)))
    if (jobless) assert(delT < delL, s"deleteWhere: $delT jobs typed vs $delL legacy")
    assertSame(TxTable.read(spark, t), TxTable.read(spark, twin), "read after deleteWhere")
  }

  /** Atomic, decimal, date and nested columns; `spark.range` ids are
    * non-nullable and array/struct/map children mix nullability, so the
    * read's nullable widening is exercised too.
    */
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi + 1).select(col("id"),
      concat(lit("n"), col("id").cast("string")).as("name"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("day"),
      (col("id") / 4).cast("decimal(10,2)").as("amt"),
      array(col("id").cast("int")).as("arr"),
      struct(col("id").cast("int").as("a"), lit("s").as("b")).as("st"),
      map(lit("k"), col("id").cast("int")).as("m"),
      (col("id") % 3).cast("int").as("p"))

  private def upserts(keys: Seq[Long]): DataFrame =
    rows(0, 0).drop("id").crossJoin(
      spark.createDataFrame(keys.map(Tuple1(_))).toDF("id"))
      .select(rows(0, 0).columns.map(col).toSeq: _*)
      .withColumn("name", lit("upd"))

  test("flat table: recorded schema matches inference, no job before the action") {
    val t = tmpTable()
    TxTable.create(spark, t, rows(1, 40).repartitionByRange(2, col("id")), Seq("id"))
    TxTable.append(spark, t, rows(41, 60), Seq("id"))
    TxTable.merge(spark, t, upserts(Seq(5L, 7L, 70L)), "id", Seq("id"))
    assert(TxTable.manifest(t, TxTable.latestVersion(t)).files.forall(_.typed))
    checkAgainstInference(t, 1, "id", Seq("7", "45"), col("id") === 7L)
  }

  test("hive-partitioned table: partition columns keep their directory-inferred types") {
    val t = tmpTable()
    TxTable.createPartitioned(spark, t, rows(1, 40), Seq("p"), Seq("id"))
    TxTable.appendPartitioned(spark, t, rows(41, 60), Seq("p"), Seq("id"))
    TxTable.merge(spark, t, upserts(Seq(4L, 8L)).withColumn("p", lit(1)), "id", Seq("id"))
    assert(TxTable.read(spark, t).schema("p").dataType ==
      org.apache.spark.sql.types.IntegerType)
    checkAgainstInference(t, 1, "id", Seq("4", "50"), col("id") === 50L)
  }

  test("schema-evolved table: addColumn, mergeSchema append and merge read as inference does") {
    val t = tmpTable()
    TxTable.create(spark, t, rows(1, 30).drop("m"), Seq("id"))
    TxTable.addColumn(t, "score", "DOUBLE")
    // the evolved append lands its columns in ANOTHER order: the read
    // schema's column order follows the first file that carries each
    TxTable.append(spark, t, rows(31, 40).drop("m")
      .withColumn("score", col("id") * 0.5).withColumn("tag", lit("t"))
      .select("tag", "score", "p", "st", "arr", "amt", "day", "name", "id"),
      Seq("id"), mergeSchema = true)
    TxTable.merge(spark, t, upserts(Seq(3L, 35L)).drop("m")
      .withColumn("score", lit(1.0)).withColumn("tag", lit("u"))
      .withColumn("flag", lit(true)), "id", Seq("id"), mergeSchema = true)
    val cols = TxTable.read(spark, t).columns.toSeq
    assert(Seq("score", "tag", "flag").forall(cols.contains), cols)
    checkAgainstInference(t, 1, "id", Seq("3", "12"), col("id") === 12L)
  }

  test("renamed and dropped columns read as inference does") {
    val t = tmpTable()
    TxTable.create(spark, t, rows(1, 40), Seq("id"))
    TxTable.renameColumn(t, "name", "label")
    TxTable.dropColumn(t, "amt")
    TxTable.append(spark, t, rows(41, 50).drop("amt").withColumnRenamed("name", "label"),
      Seq("id"))
    val cols = TxTable.read(spark, t).columns.toSeq
    assert(cols.contains("label") && !cols.contains("name") && !cols.contains("amt"), cols)
    checkAgainstInference(t, 1, "id", Seq("2", "44"), col("label") === "n44")
  }

  test("DV'd table: deletion vectors apply on the recorded-schema scan") {
    val t = tmpTable()
    TxTable.create(spark, t, rows(1, 60).repartitionByRange(3, col("id")), Seq("id"))
    TxTable.deleteWithDV(spark, t, "id", "10", "14")
    TxTable.append(spark, t, rows(61, 70), Seq("id"))
    assert(TxTable.manifest(t, TxTable.latestVersion(t)).files.exists(_.hasDv))
    assert(TxTable.read(spark, t).count() == 65)
    checkAgainstInference(t, 1, "id", Seq("12", "20"), col("id") === 20L)
  }

  test("cloned table: the clone's entries carry their recorded types") {
    val src = tmpTable()
    TxTable.create(spark, src, rows(1, 40).repartitionByRange(2, col("id")), Seq("id"))
    TxTable.deleteWithDV(spark, src, "id", "3", "4")
    TxTable.renameColumn(src, "name", "label")
    val t = tmpTable()
    TxTable.cloneTable(spark, src, t)
    assert(TxTable.manifest(t, 1).files.map(_.types) ==
      TxTable.manifest(src, TxTable.latestVersion(src)).files.map(_.types))
    TxTable.merge(spark, t, upserts(Seq(9L, 90L)).withColumnRenamed("name", "label"),
      "id", Seq("id"))
    checkAgainstInference(t, 1, "id", Seq("9", "30"), col("id") === 30L)
  }

  test("a manifest entry without recorded types keeps the inference read") {
    val typed = tmpTable()
    TxTable.create(spark, typed, rows(1, 40), Seq("id"))
    // a legacy table gains typed entries: the mixed live set must read
    // exactly like the all-legacy one, through inference
    val t = legacyTwin(typed)
    TxTable.append(spark, t, rows(41, 50), Seq("id"))
    val files = TxTable.manifest(t, TxTable.latestVersion(t)).files
    assert(files.exists(_.typed) && files.exists(!_.typed))
    checkAgainstInference(t, 1, "id", Seq("5", "45"), col("id") === 45L, jobless = false)
  }

  test("merge evaluates its update frame once; rewrite split unchanged") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 40L).map(i => (i, "old")).toDF("id", "v")
      .repartitionByRange(4, col("id")), Seq("id"))
    val updates = Seq((5L, "new"), (7L, "new"), (-1L, "ins")).toDF("id", "v")
    val acc = spark.sparkContext.longAccumulator("merge_update_evals")
    val enc = org.apache.spark.sql.Encoders.row(updates.schema)
    val counted = updates.map { r => acc.add(1); r }(enc)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val res = TxTable.merge(spark, t, counted, "id", Seq("id"))
    assert(acc.value == 3L, s"update frame evaluated ${acc.value} row-passes for 3 rows")
    // keys [-1, 7] intersect only the first of the four range files
    assert(res.rewritten == 1 && res.untouched == 3, res.toString)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      "merge must release its pinned update frame")
    val now = TxTable.read(spark, t).as[(Long, String)].collect().toMap
    assert(now.size == 41 && now(5L) == "new" && now(7L) == "new" &&
      now(-1L) == "ins" && now(6L) == "old")
    // a frame the caller cached stays cached
    val mine = Seq((8L, "mine")).toDF("id", "v").cache()
    TxTable.merge(spark, t, mine, "id", Seq("id"))
    assert(mine.storageLevel.useMemory, "merge must not unpersist the caller's cache")
    mine.unpersist()
  }

  test("applyChanges and mergeClauses leave no persisted frame behind") {
    import spark.implicits._
    val src = tmpTable()
    val rep = tmpTable()
    val base = (1L to 30L).map(i => (i, "base")).toDF("id", "tag")
    TxTable.create(spark, src, base.repartitionByRange(3, col("id")), Seq("id"))
    TxTable.create(spark, rep, base.repartitionByRange(3, col("id")), Seq("id"))
    TxTable.merge(spark, src, Seq((3L, "upd"), (31L, "ins")).toDF("id", "tag"),
      "id", Seq("id"))
    TxTable.deleteKeys(spark, src, Seq(Tuple1(9L)).toDF("id"), "id", Seq("id"))
    val toV = TxTable.latestVersion(src)
    val feed = TxTable.tableChanges(spark, src, 1, toV)
    val acc = spark.sparkContext.longAccumulator("feed_evals_leak")
    val counted = feed.map { r => acc.add(1); r }(
      org.apache.spark.sql.Encoders.row(feed.schema))
    val nFeed = feed.count()
    val before = spark.sparkContext.getPersistentRDDs.size
    TxTable.applyChanges(spark, rep, counted, "id", Seq("id"), windowId = Some(toV.toLong))
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "applyChanges left persisted frames behind")
    assert(acc.value == nFeed, s"feed evaluated ${acc.value} row-passes for $nFeed rows")
    TxTable.mergeClauses(spark, rep, Seq((2L, "mc"), (40L, "new")).toDF("id", "tag"),
      "id", Seq("id"),
      whenMatched = Seq(TxTable.MergeClause(None, TxTable.MergeUpdateAll)),
      whenNotMatched = Seq(TxTable.InsertClause(None)))
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "mergeClauses left persisted frames behind")
    def tags(t: String) = TxTable.read(spark, t).as[(Long, String)].collect().toMap
    assert(tags(rep) == tags(src) + (2L -> "mc") + (40L -> "new"))
  }
}
