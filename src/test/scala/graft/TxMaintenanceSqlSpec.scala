package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** Maintenance SQL statements (r16, [[graft.sources.GraftSqlParser]]):
  * DESCRIBE HISTORY / DESCRIBE DETAIL / VACUUM / OPTIMIZE over table
  * paths, plus proof the injected parser delegates everything else.
  */
class TxMaintenanceSqlSpec extends SparkSpecBase {

  private def tmpTable(): String =
    Files.createTempDirectory("graft_maint").resolve("t").toString

  test("DESCRIBE HISTORY / DETAIL surface the audit columns through SQL") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 50L).map(i => (i, "x")).toDF("id", "tag"),
      Seq("id"))
    TxTable.append(spark, t, Seq((51L, "y")).toDF("id", "tag"), Seq("id"))
    TxTable.deleteWhere(spark, t, col("id").between(10L, 20L), Seq("id"))
    val h = spark.sql(s"DESCRIBE HISTORY '$t'").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(h.map(_.getString(1)).toSeq == Seq("create", "append", "delete"))
    assert(h.last.getAs[Long]("n_rows") == 40L)
    val d = spark.sql(s"DESCRIBE DETAIL '$t'").head()
    assert(d.getAs[Int]("version") == 3)
    assert(d.getAs[Long]("n_rows") == 40L)
    assert(d.getAs[String]("partition_cols") == "")
  }

  test("OPTIMIZE compacts; OPTIMIZE ZORDER BY re-lays; VACUUM RETAIN prunes history (DRY RUN lists only)") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 200L).map(i => (i, (i * 7) % 99)).toDF("a", "b").repartition(4),
      Seq("a", "b"))
    (1 to 3).foreach { k =>
      TxTable.append(spark, t,
        (1 to 50).map(i => (200L + k * 50 + i, (i * 3L) % 99))
          .toDF("a", "b").repartition(2), Seq("a", "b"))
    }
    val preFiles = TxTable.manifest(t, TxTable.latestVersion(t)).files.size
    assert(preFiles >= 8)
    val vOpt = spark.sql(s"OPTIMIZE '$t'").head().getInt(0)
    assert(TxTable.manifest(t, vOpt).files.size < preFiles)
    assert(TxTable.read(spark, t).count() == 350)
    val vZ = spark.sql(s"OPTIMIZE '$t' ZORDER BY (a, b)").head().getInt(0)
    assert(vZ == vOpt + 1)
    assert(TxTable.read(spark, t).count() == 350)
    // DRY RUN: lists reclaimable files, deletes nothing
    val dry = spark.sql(s"VACUUM '$t' RETAIN 1 VERSIONS DRY RUN").collect()
    assert(dry.nonEmpty)
    assert(TxTable.read(spark, t, version = 1).count() == 200,
      "dry run must not reclaim")
    // real vacuum: old versions gone, latest intact
    val reclaimed = spark.sql(s"VACUUM '$t' RETAIN 1 VERSIONS").collect()
    assert(reclaimed.map(_.getString(0)).toSet == dry.map(_.getString(0)).toSet)
    intercept[Exception] { TxTable.read(spark, t, version = 1).count() }
    assert(TxTable.read(spark, t).count() == 350)
  }

  test("RESTORE TO VERSION rolls back through SQL; the mistaken versions stay travelable") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 20L).map(i => (i, "x")).toDF("id", "tag"),
      Seq("id"))
    TxTable.deleteWhere(spark, t, col("id").between(1L, 15L), Seq("id"))
    assert(TxTable.read(spark, t).count() == 5)
    val v = spark.sql(s"RESTORE '$t' TO VERSION 1").head().getInt(0)
    assert(v == 3)
    assert(TxTable.read(spark, t).count() == 20, "rolled back")
    assert(TxTable.read(spark, t, version = 2).count() == 5,
      "the mistaken version stays travelable")
  }

  test("CONVERT TO TX onboards a flat parquet dir in place: zero rewrite, stats harvested, table fully live") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_conv").resolve("t").toString
    (1L to 400L).map(i => (i, s"tag${i % 5}")).toDF("id", "tag")
      .repartitionByRange(4, col("id")).write.parquet(dir)
    val before = Files.list(java.nio.file.Paths.get(dir)).iterator()
    val origFiles = scala.jdk.CollectionConverters.IteratorHasAsScala(before)
      .asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.size(p)).toMap
    assert(origFiles.size == 4)
    val r = spark.sql(s"CONVERT TO TX '$dir' STATS (id)").head()
    assert(r.getInt(0) == 1 && r.getLong(1) == 4)
    // zero rewrite: the same file names with the same byte sizes now
    // live under the versioned layout; the originals are gone
    val slot = java.nio.file.Paths.get(dir,
      TxTable.manifest(dir, 1).files.head.path.split('/').take(2): _*)
    val moved = scala.jdk.CollectionConverters.IteratorHasAsScala(
      Files.list(slot).iterator()).asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> Files.size(p)).toMap
    assert(moved == origFiles, "files moved, not rewritten")
    assert(!Files.exists(java.nio.file.Paths.get(dir, origFiles.head._1)))
    // the _SUCCESS marker was never data: it stays put
    assert(Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
    // stats harvested: a key-band read skips the disjoint files
    val (kept, skipped) = TxTable.prune(dir, "id", 1L, 50L)
    assert(kept.size < 4 && skipped.nonEmpty, s"kept ${kept.size}")
    // fully live: append, mutate, travel
    TxTable.append(spark, dir, Seq((1000L, "new")).toDF("id", "tag"), Seq("id"))
    TxTable.deleteWhere(spark, dir, col("id") <= 100L, Seq("id"))
    assert(TxTable.read(spark, dir).count() == 301)
    assert(TxTable.read(spark, dir, version = 1).count() == 400,
      "the converted snapshot stays travelable")
  }

  test("CONVERT TO TX detects hive partition dirs; refusals: already-tx, empty, mixed layouts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_convp").resolve("t").toString
    (1L to 300L).map(i => (i, i % 3, s"v$i")).toDF("id", "p", "v")
      .write.partitionBy("p").parquet(dir)
    assert(spark.sql(s"CONVERT TO TX '$dir'").head().getInt(0) == 1)
    val d = spark.sql(s"DESCRIBE DETAIL '$dir'").head()
    assert(d.getAs[String]("partition_cols") == "p")
    val got = TxTable.read(spark, dir)
    assert(got.count() == 300)
    assert(got.filter(col("p") === 1).count() == 100,
      "partition values recovered from the dir names")
    // a partition-band delete rewrites only its partition's files
    val res = TxTable.deleteWhere(spark, dir, col("p") === 2, Seq("id"))
    assert(res.untouched >= 2, "disjoint partitions carried by reference")
    assert(TxTable.read(spark, dir).count() == 200)
    // refusals
    val e1 = intercept[IllegalArgumentException] {
      TxTable.convert(spark, dir) }
    assert(e1.getMessage.contains("already"), e1.getMessage)
    val empty = Files.createTempDirectory("graft_conve").resolve("e")
    Files.createDirectories(empty)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.convert(spark, empty.toString) }
    assert(e2.getMessage.contains("no parquet"), e2.getMessage)
    val mixed = Files.createTempDirectory("graft_convm").resolve("m").toString
    Seq((1L, "a")).toDF("id", "t").write.parquet(mixed + "/q=1")
    Seq((2L, "b")).toDF("id", "t").coalesce(1).write.parquet(mixed + "/flat_sub")
    val e3 = intercept[IllegalArgumentException] {
      TxTable.convert(spark, mixed) }
    assert(e3.getMessage.contains("non-hive") ||
      e3.getMessage.contains("inconsistent"), e3.getMessage)
  }

  test("OPTIMIZE ZORDER BY over three columns: every dimension prunes after the re-layout; five columns refuse") {
    import spark.implicits._
    val t = tmpTable()
    // three mutually-scrambled dimensions: before the re-layout, a
    // band on b or c intersects every file (created clustered on a)
    val n = 60000L
    TxTable.create(spark, t,
      spark.range(n).select(col("id").as("a"),
        expr(s"pmod(id * 2654435761, ${n}L)").as("b"),
        expr(s"pmod(id * 1299709 + 7, ${n}L)").as("c"))
        .repartitionByRange(8, col("a")),
      Seq("a", "b", "c"))
    def skippedOn(c: String): Int =
      TxTable.prune(t, c, 100L, n / 16)._2.size
    assert(skippedOn("b") == 0 && skippedOn("c") == 0,
      "pre-layout: b/c bands intersect every file")
    val v = spark.sql(s"OPTIMIZE '$t' ZORDER BY (a, b, c)").head().getInt(0)
    assert(v == 2)
    assert(TxTable.read(spark, t).count() == n, "same-content commit")
    assert(skippedOn("a") > 0 && skippedOn("b") > 0 && skippedOn("c") > 0,
      s"post-layout every dimension skips: a=${skippedOn("a")} " +
        s"b=${skippedOn("b")} c=${skippedOn("c")}")
    val e = intercept[Exception] {
      spark.sql(s"OPTIMIZE '$t' ZORDER BY (a, b, c, a, b)") }
    assert(e.getMessage.contains("1-4"), e.getMessage)
  }

  test("constraint DDL: ADD/DROP CONSTRAINT and DESCRIBE CONSTRAINTS through SQL") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 50L).map(i => (i, i * 2)).toDF("id", "v"),
      Seq("id"))
    val v = spark.sql(
      s"ALTER TABLE '$t' ADD CONSTRAINT v_pos CHECK (v > 0 AND v < 1000)")
      .head().getInt(0)
    assert(v == 2)
    val cs = spark.sql(s"DESCRIBE CONSTRAINTS '$t'").collect()
    assert(cs.length == 1 && cs.head.getString(0) == "v_pos")
    assert(cs.head.getString(1) == "v > 0 AND v < 1000")
    // the registered constraint ENFORCES on the next write
    val e = intercept[Exception] {
      TxTable.append(spark, t, Seq((51L, -1L)).toDF("id", "v"), Seq("id")) }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    // registration refuses when existing rows violate
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE '$t' ADD CONSTRAINT too_low CHECK (v > 10)") }
    assert(e2.getMessage.contains("existing rows"), e2.getMessage)
    // drop lifts enforcement
    spark.sql(s"ALTER TABLE '$t' DROP CONSTRAINT v_pos")
    assert(spark.sql(s"DESCRIBE CONSTRAINTS '$t'").count() == 0)
    TxTable.append(spark, t, Seq((51L, -1L)).toDF("id", "v"), Seq("id"))
    assert(TxTable.read(spark, t).count() == 51)
    // catalog-name ALTER TABLE stays on Spark's own grammar
    spark.sql("DROP TABLE IF EXISTS maint_alter_plain")
    spark.sql("CREATE TABLE maint_alter_plain (id INT) USING parquet")
    spark.sql("ALTER TABLE maint_alter_plain ADD COLUMNS (x INT)")
    assert(spark.table("maint_alter_plain").columns.toSeq == Seq("id", "x"))
  }

  test("CLONE: zero-copy hard-linked table copy carries DV tombstones and constraints; the clones diverge; vacuum on one never breaks the other") {
    import spark.implicits._
    val src = tmpTable()
    val dst = java.nio.file.Paths.get(src).getParent.resolve("c").toString
    TxTable.create(spark, src,
      (1L to 400L).map(i => (i, i % 7)).toDF("id", "v")
        .repartitionByRange(4, col("id")), Seq("id"))
    TxTable.addCheckConstraint(spark, src, "v_ok", "v >= 0")
    TxTable.deleteWithDVWhere(spark, src, col("id").between(10L, 20L))
    val v = spark.sql(s"CLONE '$src' TO '$dst'").head().getInt(0)
    assert(v == 1, "history collapses to one version")
    // byte-identity: the clone's files are the SAME inodes (hard links)
    val linked = java.nio.file.Files.walk(java.nio.file.Paths.get(dst, "data"))
      .iterator()
    var checked = 0
    while (linked.hasNext) {
      val p = linked.next()
      if (p.toString.endsWith(".parquet")) {
        assert(java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Integer] >= 2, s"hard link expected: $p")
        checked += 1
      }
    }
    assert(checked >= 4)
    // logical equality including the DV tombstones
    assert(TxTable.read(spark, dst).count() == 400 - 11)
    assert(TxTable.read(spark, dst).filter(col("id") === 15L).count() == 0)
    // the constraint carried: a violating append on the CLONE refuses
    val e = intercept[Exception] {
      TxTable.append(spark, dst, Seq((500L, -1L)).toDF("id", "v"), Seq("id")) }
    assert(e.getMessage.contains("v_ok"), e.getMessage)
    // divergence: mutating one side never moves the other
    TxTable.deleteWhere(spark, dst, col("id").between(100L, 200L), Seq("id"))
    assert(TxTable.read(spark, src).filter(col("id").between(100, 200))
      .count() == 101)
    TxTable.deleteWhere(spark, src, col("id").between(300L, 399L), Seq("id"))
    assert(TxTable.read(spark, dst).filter(col("id").between(300, 399))
      .count() == 100)
    // time-travel clone (before the vacuum narrows src's window)
    val dst2 = java.nio.file.Paths.get(src).getParent.resolve("c2").toString
    spark.sql(s"CLONE '$src' TO '$dst2' VERSION 2")
    assert(TxTable.read(spark, dst2).count() == 400, "pre-DV snapshot cloned")
    // vacuum the SOURCE to its latest — shared files it garbage-
    // collects survive for the clone by link semantics
    TxTable.vacuum(src, TxTable.latestVersion(src))
    assert(TxTable.read(spark, dst).count() == 400 - 11 - 101,
      "the clone reads through the source's vacuum")
    assert(TxTable.read(spark, dst2).count() == 400,
      "the time-travel clone too")
    val e2 = intercept[IllegalArgumentException] {
      TxTable.cloneTable(spark, src, dst) }
    assert(e2.getMessage.contains("exists"), e2.getMessage)
  }

  test("the injected parser delegates everything else verbatim") {
    // ordinary SQL parses and runs
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // DESCRIBE of a catalog object still routes to Spark's grammar
    spark.sql("DROP TABLE IF EXISTS maint_plain")
    spark.sql("CREATE TABLE maint_plain (id INT) USING parquet")
    assert(spark.sql("DESCRIBE TABLE maint_plain").count() >= 1)
    // syntax errors still surface as Spark parse errors
    intercept[Exception] { spark.sql("SELEKT 1") }
    // our statements with a malformed tail fall through to the
    // delegate's error, not a silent no-op
    intercept[Exception] { spark.sql("VACUUM WITHOUT A PATH") }
  }
}
