package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.sources.TxTable

/** The transactional-table protocol end to end: snapshot isolation and
  * time travel over immutable files, file-granular copy-on-write
  * MERGE, atomic-rename optimistic concurrency, manifest-stats data
  * skipping, Z-order re-layout, and vacuum.
  */
class TxTableSpec extends SparkSpecBase {

  private def tmpTable(): String =
    Files.createTempDirectory("graft_tx").resolve("t").toString

  test("create/read round-trip; append adds a version, old snapshots stay readable") {
    import spark.implicits._
    val t = tmpTable()
    val base = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "payload")
    assert(TxTable.create(spark, t, base, Seq("id")) == 1)
    assert(TxTable.read(spark, t).count() == 100)
    val delta = (101L to 120L).map(i => (i, s"row$i")).toDF("id", "payload")
    assert(TxTable.append(spark, t, delta, Seq("id")) == 2)
    assert(TxTable.read(spark, t).count() == 120)
    // time travel: v1 is still exactly the original 100 rows
    assert(TxTable.read(spark, t, version = 1).count() == 100)
    assert(TxTable.read(spark, t, version = 1)
      .agg(max(col("id"))).head().getLong(0) == 100L)
  }

  test("merge upserts at file granularity: matched keys replaced, new inserted, disjoint files untouched") {
    import spark.implicits._
    val t = tmpTable()
    // two well-separated key clusters land in different files
    val lo = (1L to 100L).map(i => (i, "old")).toDF("id", "val").repartition(1)
    val hi = (100001L to 100100L).map(i => (i, "old")).toDF("id", "val").repartition(1)
    TxTable.create(spark, t, lo, Seq("id"))
    TxTable.append(spark, t, hi, Seq("id"))
    val before = TxTable.manifest(t, TxTable.latestVersion(t)).files
    val updates = (Seq((50L, "new"), (60L, "new")) ++ (201L to 210L).map(i => (i, "ins")))
      .toDF("id", "val")
    val res = TxTable.merge(spark, t, updates, "id", Seq("id"))
    // only the low-cluster file intersects [50, 210]
    assert(res.rewritten == 1 && res.untouched == 1, res.toString)
    val after = TxTable.manifest(t, res.version).files
    val hiFile = before.find(_.stats("id").minLong == 100001L).get
    assert(after.exists(_.path == hiFile.path), "disjoint file must carry over by reference")
    val now = TxTable.read(spark, t)
    assert(now.count() == 210) // 100 + 100 + 10 inserts
    assert(now.filter(col("id") === 50L).head().getString(1) == "new")
    assert(now.filter(col("id") === 51L).head().getString(1) == "old")
    assert(now.filter(col("id") === 205L).head().getString(1) == "ins")
    // merge result equals the relational truth
    val want = spark.range(1, 101).select(col("id"))
      .unionByName(spark.range(100001, 100101).select(col("id")))
      .unionByName(spark.range(201, 211).select(col("id")))
    assert(now.select("id").except(want).count() == 0)
    assert(want.except(now.select("id")).count() == 0)
  }

  test("delete drops the key band file-granularly: disjoint files carry over, old snapshot keeps the rows") {
    import spark.implicits._
    val t = tmpTable()
    val lo = (1L to 100L).map(i => (i, "keep")).toDF("id", "val").repartition(1)
    val hi = (100001L to 100100L).map(i => (i, "keep")).toDF("id", "val").repartition(1)
    TxTable.create(spark, t, lo, Seq("id"))
    TxTable.append(spark, t, hi, Seq("id"))
    val before = TxTable.manifest(t, TxTable.latestVersion(t)).files
    val res = TxTable.deleteWhere(spark, t, col("id").between(40L, 60L), Seq("id"))
    assert(res.rewritten == 1 && res.untouched == 1, res.toString)
    val after = TxTable.manifest(t, res.version).files
    val hiFile = before.find(_.stats("id").minLong == 100001L).get
    assert(after.exists(_.path == hiFile.path), "disjoint file must carry over by reference")
    val now = TxTable.read(spark, t)
    assert(now.count() == 179) // 200 - 21 deleted
    assert(now.filter(col("id").between(40L, 60L)).count() == 0)
    assert(now.filter(col("id") === 39L).count() == 1)
    assert(now.filter(col("id") === 61L).count() == 1)
    // snapshot isolation: the pre-delete version still has the band
    assert(TxTable.read(spark, t, version = res.version - 1)
      .filter(col("id").between(40L, 60L)).count() == 21)
    // a band matching nothing is a no-op: same version, no commit
    val noop = TxTable.deleteWhere(spark, t, col("id").between(5000L, 6000L), Seq("id"))
    assert(noop.version == res.version && noop.rewritten == 0)
    // a band swallowing a whole file leaves it out of the live set
    val res2 = TxTable.deleteWhere(spark, t, col("id").between(100001L, 100100L), Seq("id"))
    assert(TxTable.read(spark, t).count() == 79)
    assert(TxTable.manifest(t, res2.version).files
      .forall(_.stats("id").maxLong <= 100L), "emptied file must leave the live set")
  }

  test("restore rolls the live set back as a new commit; history reports every version without reading data") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 10L).toDF("id"), Seq("id"))          // v1
    TxTable.append(spark, t, (11L to 15L).toDF("id"), Seq("id"))         // v2
    assert(TxTable.appendBatchExactlyOnce(spark, t,
      (16L to 17L).toDF("id"), 7L, Seq("id")))                           // v3, batch 7
    TxTable.overwrite(spark, t, Seq(99L).toDF("id"), Seq("id"))          // v4 (the bad write)
    assert(TxTable.read(spark, t).count() == 1)
    val v = TxTable.restore(spark, t, 3)                                 // v5 = v3's content
    assert(v == 5)
    assert(TxTable.read(spark, t).as[Long].collect().toSet == (1L to 17L).toSet)
    // zero data movement: the restored manifest references v3's files
    assert(TxTable.manifest(t, 5).files.map(_.path).toSet
      == TxTable.manifest(t, 3).files.map(_.path).toSet)
    // the mistake stays travelable; the ledger survives the restore
    assert(TxTable.read(spark, t, version = 4).count() == 1)
    assert(TxTable.committedBatches(t) == Set(7L))
    assert(!TxTable.appendBatchExactlyOnce(spark, t,
      (16L to 17L).toDF("id"), 7L, Seq("id")), "restore must not re-admit a replay")
    val h = TxTable.history(spark, t).orderBy(col("version")).collect()
    assert(h.map(_.getAs[Int]("version")).toSeq == (1 to 5))
    assert(h.map(_.getAs[Long]("n_rows")).toSeq == Seq(10L, 15L, 17L, 1L, 17L))
    // r15: every commit is operation-stamped (DESCRIBE HISTORY shape)
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("create", "append", "streaming_append", "overwrite", "restore"),
      h.map(_.getAs[String]("operation")).toSeq.toString)
    assert(h.last.getAs[Long]("files_added") >= 1L) // restore re-adds v3's files vs v4
    assert(h(3).getAs[Long]("files_removed") >= 1L) // the overwrite dropped v3's
    intercept[IllegalArgumentException] { TxTable.restore(spark, t, 99) }
  }

  test("optimistic concurrency: the second writer of a version loses with a conflict, not corruption") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val files = TxTable.manifest(t, 1).files
    // writer A commits v2
    assert(TxTable.commit(t, 1, files) == 2)
    // writer B, still based on v1, races for v2 — must conflict
    intercept[java.util.ConcurrentModificationException] {
      TxTable.commit(t, 1, files)
    }
    // the table is uncorrupted: v2 readable, v3 free for a rebased retry
    assert(TxTable.latestVersion(t) == 2)
    assert(TxTable.commit(t, 2, files) == 3)
  }

  test("manifest stats skip files outside the predicate range; pruned read equals filtered full scan") {
    import spark.implicits._
    val t = tmpTable()
    // 4 files, each a distinct 1000-key range
    (0 until 4).foreach { b =>
      val df = ((b * 1000L + 1) to (b * 1000L + 1000)).map(i => (i, i * 2)).toDF("id", "x")
        .repartition(1)
      if (b == 0) TxTable.create(spark, t, df, Seq("id")) else TxTable.append(spark, t, df, Seq("id"))
    }
    val (kept, skipped) = TxTable.prune(t, "id", 1500L, 1600L)
    assert(kept.size == 1 && skipped.size == 3,
      s"kept ${kept.map(_.path)} skipped ${skipped.size}")
    val pruned = TxTable.readPruned(spark, t, "id", 1500L, 1600L)
    val full = TxTable.read(spark, t).filter(col("id").between(1500L, 1600L))
    assert(pruned.count() == 101)
    assert(pruned.except(full).count() == 0 && full.except(pruned).count() == 0)
  }

  test("zorder re-layout makes BOTH dimensions skippable; content unchanged") {
    import spark.implicits._
    val t = tmpTable()
    // insert order clusters id; y is uniform within every file -> no
    // file can be skipped on y before the re-layout
    (0 until 4).foreach { b =>
      val df = ((b * 1000L + 1) to (b * 1000L + 1000))
        .map(i => (i, i % 997)).toDF("id", "y").repartition(1)
      if (b == 0) TxTable.create(spark, t, df, Seq("id", "y"))
      else TxTable.append(spark, t, df, Seq("id", "y"))
    }
    val beforeY = TxTable.prune(t, "y", 10L, 20L)._2.size
    assert(beforeY == 0, s"pre-zorder layout unexpectedly skips $beforeY files on y")
    val contentBefore = TxTable.read(spark, t).collect().toSet
    TxTable.zorder(spark, t, "id", "y", Seq("id", "y"), numFiles = 16)
    assert(TxTable.read(spark, t).collect().toSet == contentBefore,
      "zorder is a layout-only commit — content must be identical")
    val afterY = TxTable.prune(t, "y", 10L, 20L)._2.size
    val afterId = TxTable.prune(t, "id", 1500L, 1600L)._2.size
    assert(afterY >= 8, s"zorder should make y skippable: only $afterY/16 skipped")
    assert(afterId >= 8, s"zorder must keep id skippable too: only $afterId/16 skipped")
    // pruned reads stay correct on the curve layout
    val pruned = TxTable.readPruned(spark, t, "y", 10L, 20L)
    val full = TxTable.read(spark, t).filter(col("y").between(10L, 20L))
    assert(pruned.except(full).count() == 0 && full.except(pruned).count() == 0)
  }

  test("exactly-once streaming append: a real replayed micro-batch lands once; ledger survives versions") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val t = tmpTable()
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "v").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        TxTable.appendBatchExactlyOnce(spark, t, df, batchId, Seq("id")); ()
      }.start()
    try {
      src.addData((1L, "a"), (2L, "a")); q.processAllAvailable()
      src.addData((3L, "b")); q.processAllAvailable()
    } finally q.stop()
    assert(TxTable.read(spark, t).count() == 3)
    // at-least-once redelivery: the sink retries batch 1 after a
    // restart — the ledger must refuse the duplicate
    val replay = Seq((3L, "b")).toDF("id", "v")
    assert(!TxTable.appendBatchExactlyOnce(spark, t, replay, 1L, Seq("id")),
      "replayed batchId must be skipped")
    assert(TxTable.read(spark, t).count() == 3, "replay must not duplicate rows")
    // a genuinely new batch still lands, and the ledger carries forward
    assert(TxTable.appendBatchExactlyOnce(spark, t, Seq((4L, "c")).toDF("id", "v"), 2L, Seq("id")))
    assert(TxTable.committedBatches(t) == Set(0L, 1L, 2L))
    assert(TxTable.read(spark, t).count() == 4)
  }

  test("batch ledger survives maintenance commits: compact between append and replay must not re-admit the batch") {
    import spark.implicits._
    val t = tmpTable()
    // two streamed micro-batches land with the exactly-once sink
    assert(TxTable.appendBatchExactlyOnce(spark, t, Seq((1L, "a"), (2L, "a")).toDF("id", "v"), 0L, Seq("id")))
    assert(TxTable.appendBatchExactlyOnce(spark, t, Seq((3L, "b")).toDF("id", "v"), 1L, Seq("id")))
    // the documented maintenance pass for a streaming-appended table
    TxTable.compact(spark, t, Seq("id"), targetFiles = 1)
    assert(TxTable.committedBatches(t) == Set(0L, 1L),
      "compact must carry the batch ledger forward, not wipe it")
    // sink restart replays batch 1 — the post-compact ledger must refuse it
    assert(!TxTable.appendBatchExactlyOnce(spark, t, Seq((3L, "b")).toDF("id", "v"), 1L, Seq("id")),
      "replayed batchId after a maintenance commit must be skipped")
    assert(TxTable.read(spark, t).count() == 3, "replay after compact must not duplicate rows")
    // merge and zorder are commits too — the ledger rides through both
    TxTable.merge(spark, t, Seq((2L, "upd")).toDF("id", "v"), "id", Seq("id"))
    TxTable.zorder(spark, t, "id", "id", Seq("id"), numFiles = 2)
    assert(TxTable.committedBatches(t) == Set(0L, 1L))
    assert(!TxTable.appendBatchExactlyOnce(spark, t, Seq((9L, "x")).toDF("id", "v"), 0L, Seq("id")))
    assert(TxTable.read(spark, t).count() == 3)
  }

  test("graft-tx write surface: SaveModes version the table; streaming sink lands exactly once on the ledger") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val t = tmpTable()
    def w(df: org.apache.spark.sql.DataFrame) =
      df.write.format("graft-tx").option("path", t).option("statsColumns", "id")
    w((1L to 5L).toDF("id")).mode("errorifexists").save()
    assert(TxTable.read(spark, t).count() == 5)
    intercept[Exception] { w((9L to 9L).toDF("id")).mode("errorifexists").save() }
    w((99L to 99L).toDF("id")).mode("ignore").save() // no-op on existing
    assert(TxTable.read(spark, t).count() == 5)
    w((6L to 8L).toDF("id")).mode("append").save()
    assert(TxTable.read(spark, t).as[Long].collect().toSet == (1L to 8L).toSet)
    w(Seq(100L, 101L).toDF("id")).mode("overwrite").save()
    assert(TxTable.read(spark, t).as[Long].collect().toSet == Set(100L, 101L))
    // a VERSIONED overwrite: the pre-overwrite snapshot stays readable
    val vNow = TxTable.latestVersion(t)
    assert(TxTable.read(spark, t, vNow - 1).count() == 8)
    // statsColumns reached the manifest: skipping works on the write path
    assert(TxTable.manifest(t, vNow).files.forall(_.stats.contains("id")))
    // streaming sink: micro-batches land through the exactly-once ledger
    val t2 = tmpTable()
    val ckpt = Files.createTempDirectory("graft_tx_sinkck").toString
    val src = MemoryStream[Long]
    val q = src.toDF().select(col("value").as("id"))
      .writeStream.format("graft-tx").option("path", t2)
      .option("statsColumns", "id").option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      src.addData(1L, 2L); q.processAllAvailable()
      src.addData(3L); q.processAllAvailable()
    } finally q.stop()
    assert(TxTable.read(spark, t2).as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(TxTable.committedBatches(t2) == Set(0L, 1L),
      "sink batches must ride the ledger")
    // a sink-retry replay of either batch is refused by the ledger
    assert(!TxTable.appendBatchExactlyOnce(spark, t2, Seq(3L).toDF("id"), 1L, Seq("id")))
    assert(TxTable.read(spark, t2).count() == 3)
  }

  test("graft-tx streaming source: snapshot, append-only increments exactly once across restart, rewrite aborts") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 10L).toDF("id"), Seq("id"))
    val ckpt = Files.createTempDirectory("graft_tx_ck").toString
    val out = Files.createTempDirectory("graft_tx_out").toString
    // parquet sink: the fault-tolerant sink the restart leg needs
    // (the memory sink cannot recover from a checkpoint)
    def startFileStream() =
      spark.readStream.format("graft-tx").option("path", t).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    def sunk(): Set[Long] =
      spark.read.parquet(out).as[Long].collect().toSet
    val q = startFileStream()
    try {
      q.processAllAvailable()
      // first batch = the whole live snapshot
      assert(sunk() == (1L to 10L).toSet)
      TxTable.append(spark, t, (11L to 15L).toDF("id"), Seq("id"))
      q.processAllAvailable()
      assert(sunk() == (1L to 15L).toSet, "append must arrive exactly once")
    } finally q.stop()
    // restart from the checkpoint: committed versions are NOT replayed
    TxTable.append(spark, t, (16L to 18L).toDF("id"), Seq("id"))
    val q2 = startFileStream()
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(out).count() == 18, "restart must not replay")
      assert(sunk() == (1L to 18L).toSet)
    } finally q2.stop()
    // a micro-batch SPANNING a rewriting version (delete) violates the
    // append-only contract and aborts the stream
    def startMemStream(sink: String, ignoreChanges: Boolean) =
      spark.readStream.format("graft-tx").option("path", t)
        .option("ignoreChanges", ignoreChanges.toString).load()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
    val q3 = startMemStream("tx_stream_abort", ignoreChanges = false)
    try {
      q3.processAllAvailable() // snapshot 1..18 lands
      TxTable.deleteWhere(spark, t, col("id").between(1L, 3L), Seq("id"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
    } finally q3.stop()
    // ignoreChanges=true: the spanning batch surfaces the rewrite's
    // ADDED file — the rewritten file's survivors resurface as
    // duplicates (documented Delta semantics; consumer dedupes)
    val q4 = startMemStream("tx_stream_ignore", ignoreChanges = true)
    try {
      q4.processAllAvailable() // snapshot 4..18 (post-first-delete)
      assert(spark.table("tx_stream_ignore").count() == 15)
      // a delete range chosen to STRADDLE file boundaries, so the
      // rewrite both drops rows and re-writes survivors; the exact
      // file layout is not assumed — the expected duplicate set is
      // read back from the manifest diff
      val beforeFiles =
        TxTable.manifest(t, TxTable.latestVersion(t)).files.map(_.path).toSet
      TxTable.deleteWhere(spark, t, col("id").between(4L, 6L), Seq("id"))
      val afterM = TxTable.manifest(t, TxTable.latestVersion(t))
      val addedPaths = afterM.files.map(_.path).filterNot(beforeFiles)
      val expectedDup =
        if (addedPaths.isEmpty) Array.empty[Long]
        else spark.read.parquet(addedPaths.map(p => s"$t/$p"): _*)
          .as[Long].collect()
      q4.processAllAvailable()
      val rows = spark.table("tx_stream_ignore").as[Long].collect()
      assert(rows.length == 15 + expectedDup.length,
        s"rewrite batch should re-surface exactly the rewritten files' " +
          s"survivors (${expectedDup.mkString(",")}), got ${rows.length} rows")
      assert(rows.toSet == (4L to 18L).toSet,
        "append sink keeps already-emitted rows; no new ids appear")
      expectedDup.foreach { id =>
        assert(rows.count(_ == id) == 2, s"survivor $id should resurface once")
      }
    } finally q4.stop()
  }

  test("graft-tx streaming source: vacuum behind the consumer is harmless (action log), vacuum past it fails with the retention contract") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 5L).toDF("id"), Seq("id"))
    val q = spark.readStream.format("graft-tx").option("path", t).load()
      .writeStream.format("memory").queryName("tx_stream_vac")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // consumer offset now = version 1
      TxTable.append(spark, t, (6L to 8L).toDF("id"), Seq("id"))   // v2
      TxTable.vacuum(t, keepFromVersion = 2) // drops v1's RECORD only
      // the batch (1, 2] reads v2's OWN action record — the vacuumed
      // base manifest is never needed (a manifest-diff design would
      // wedge here; the Delta-shape action log keeps streaming)
      q.processAllAvailable()
      assert(spark.table("tx_stream_vac").as[Long].collect().toSet
        == (1L to 8L).toSet, "consumer must stream through a behind-it vacuum")
    } finally q.stop()
    // now vacuum PAST a STOPPED consumer (a live one would keep up):
    // the records its next batch needs are gone — the retention
    // contract names the cause on restart
    val ckpt = Files.createTempDirectory("graft_tx_vac_ck").toString
    val out = Files.createTempDirectory("graft_tx_vac_out").toString
    def startCk() = spark.readStream.format("graft-tx").option("path", t).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q2 = startCk()
    try { q2.processAllAvailable() } finally q2.stop() // committed offset = 2
    TxTable.append(spark, t, (9L to 11L).toDF("id"), Seq("id"))  // v3
    TxTable.append(spark, t, (12L to 14L).toDF("id"), Seq("id")) // v4
    TxTable.vacuum(t, keepFromVersion = 4) // drops v3's record
    val q3 = startCk()
    val e = try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    } finally q3.stop()
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("vacuum retention"),
      s"expected the retention-contract message, got: $msgs")
  }

  test("table path with URI-special characters: manifest entries resolve on read") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_tx sp").resolve("odd name").toString
    TxTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    assert(TxTable.read(spark, t).count() == 2)
    TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    assert(TxTable.read(spark, t).count() == 3)
    assert(TxTable.read(spark, t, version = 1).count() == 2)
  }

  test("compact shrinks the live file set content-identically; older versions stay travelable") {
    import spark.implicits._
    val t = tmpTable()
    (1 to 12).foreach { b =>
      val df = Seq((b.toLong, s"frag$b")).toDF("id", "v")
      if (b == 1) TxTable.create(spark, t, df, Seq("id"))
      else TxTable.append(spark, t, df, Seq("id"))
    }
    val before = TxTable.manifest(t, TxTable.latestVersion(t)).files.size
    assert(before >= 12, s"fragmented table expected, got $before files")
    val content = TxTable.read(spark, t).collect().toSet
    val v = TxTable.compact(spark, t, Seq("id"), targetFiles = 2)
    val after = TxTable.manifest(t, v).files.size
    assert(after <= 2, s"compaction left $after files")
    assert(TxTable.read(spark, t).collect().toSet == content)
    assert(TxTable.read(spark, t, version = v - 1).count() == 12, "pre-compaction snapshot readable")
  }

  test("change feed: net row diff between versions; copy-on-write carry-over rows are silent") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 100L).map(i => (i, "old")).toDF("id", "v"), Seq("id"))
    // merge rewrites the whole single file: 2 updates + 3 inserts;
    // the 98 untouched survivors ride the rewrite but must NOT churn
    TxTable.merge(spark, t,
      (Seq((5L, "new"), (6L, "new")) ++ (101L to 103L).map(i => (i, "ins"))).toDF("id", "v"),
      "id", Seq("id"))
    val ch = TxTable.changesBetween(spark, t, 1, 2)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1))).toSet
    val want = Set(
      ("insert", 5L, "new"), ("insert", 6L, "new"),
      ("insert", 101L, "ins"), ("insert", 102L, "ins"), ("insert", 103L, "ins"),
      ("delete", 5L, "old"), ("delete", 6L, "old"))
    assert(ch == want, s"net changes: ${ch.diff(want)} / missing ${want.diff(ch)}")
    // append-only delta: pure inserts, no deletes, reads only new files
    TxTable.append(spark, t, Seq((200L, "a2")).toDF("id", "v"), Seq("id"))
    val ch2 = TxTable.changesBetween(spark, t, 2, 3).collect()
    assert(ch2.length == 1 && ch2.head.getString(2) == "insert" && ch2.head.getLong(0) == 200L)
  }

  test("string-keyed skipping: CHAR-code natural keys prune files; pruned read equals filtered scan") {
    import spark.implicits._
    val t = tmpTable()
    // 4 files, each a distinct alphabetic key prefix — the reference's
    // dims key on CHAR(5) codes, so string stats are the realistic case
    val blocks = Seq("AA" -> "AZ", "BA" -> "BZ", "CA" -> "CZ", "DA" -> "DZ")
    blocks.zipWithIndex.foreach { case ((a, _), i) =>
      val df = (0 until 100).map(j => (f"$a${j}%03d", j)).toDF("code", "x").repartition(1)
      if (i == 0) TxTable.create(spark, t, df, Seq("code"))
      else TxTable.append(spark, t, df, Seq("code"))
    }
    val (kept, skipped) = TxTable.pruneTyped(t, "code", "BA", "BZ")
    assert(kept.size == 1 && skipped.size == 3,
      s"kept ${kept.map(_.path)} skipped ${skipped.size}")
    val pruned = TxTable.readPrunedTyped(spark, t, "code", "BA", "BZ")
    val full = TxTable.read(spark, t).filter(col("code").between("BA", "BZ"))
    assert(pruned.count() == 100)
    assert(pruned.except(full).count() == 0 && full.except(pruned).count() == 0)
    // string-keyed MERGE only rewrites the intersecting file
    val res = TxTable.merge(spark, t, Seq(("CA005", 999)).toDF("code", "x"), "code", Seq("code"))
    assert(res.rewritten == 1 && res.untouched == 3, res.toString)
    assert(TxTable.read(spark, t).filter(col("code") === "CA005").head().getInt(1) == 999)
  }

  test("schema evolution: add-column append; both snapshots read with their own width; old files yield nulls") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    // v2 widens the table: new files carry an extra column — since
    // r16 a widening append must OPT IN (Delta's mergeSchema contract)
    TxTable.append(spark, t, Seq((3L, "c", 30)).toDF("id", "v", "extra"),
      Seq("id"), mergeSchema = true)
    val latest = TxTable.read(spark, t)
    assert(latest.columns.toSet == Set("id", "v", "extra"))
    assert(latest.count() == 3)
    assert(latest.filter(col("id") === 1L).head().isNullAt(latest.columns.indexOf("extra")),
      "pre-evolution rows surface null for the added column")
    assert(latest.filter(col("id") === 3L).select("extra").head().getInt(0) == 30)
    // the old snapshot keeps its original width
    assert(TxTable.read(spark, t, version = 1).columns.toSet == Set("id", "v"))
  }

  test("graft-tx data source: format/SQL reads, time travel, and pushed-filter file skipping") {
    import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThan}
    import spark.implicits._
    val t = tmpTable()
    (0 until 4).foreach { b =>
      val df = ((b * 1000L + 1) to (b * 1000L + 1000)).map(i => (i, s"r$i")).toDF("id", "v")
        .repartition(1)
      if (b == 0) TxTable.create(spark, t, df, Seq("id")) else TxTable.append(spark, t, df, Seq("id"))
    }
    // spark.read.format: latest snapshot
    val latest = spark.read.format("graft-tx").load(t)
    assert(latest.count() == 4000)
    // version option = time travel
    assert(spark.read.format("graft-tx").option("version", "2").load(t).count() == 2000)
    // SQL surface: temp view USING graft-tx
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW tx_spec_v1 USING `graft-tx` " +
      s"OPTIONS (path '$t', version '1')")
    assert(spark.sql("SELECT count(*) FROM tx_spec_v1").head().getLong(0) == 1000)
    // pushed range filter skips manifest files: [1500, 1600] hits 1 of 4
    val kept = graft.sources.TxDataSource.filesFor(t, -1,
      Seq(And(GreaterThanOrEqual("id", 1500L), LessThan("id", 1600L))))
    assert(kept.size == 1, s"expected 1 kept file, got ${kept.map(_.path)}")
    // and the filtered SQL result is still exactly right
    val got = latest.filter(col("id") >= 1500L && col("id") < 1600L)
    val want = TxTable.read(spark, t).filter(col("id") >= 1500L && col("id") < 1600L)
    assert(got.count() == 100)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    // column pruning through the relation: a 1-column projection works
    assert(latest.select("v").filter(col("v") === "r42").count() == 1)
    // snapshot isolation: the view planned at v1 ignores a later append
    TxTable.append(spark, t, Seq((99999L, "late")).toDF("id", "v"), Seq("id"))
    assert(spark.sql("SELECT count(*) FROM tx_spec_v1").head().getLong(0) == 1000)
  }

  test("vacuum reclaims files no kept manifest references; the kept window survives") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 50L).map(i => (i, "a")).toDF("id", "v"), Seq("id"))
    TxTable.merge(spark, t, Seq((1L, "b")).toDF("id", "v"), "id", Seq("id"))   // v2 rewrites
    TxTable.merge(spark, t, Seq((2L, "c")).toDF("id", "v"), "id", Seq("id"))   // v3 rewrites
    // DRY RUN first: same reclaim set, positive byte estimate, and
    // NOTHING touched — every version still readable afterwards
    val (wouldDelete, wouldFree) = TxTable.vacuumDryRun(t, keepFromVersion = 3)
    assert(wouldDelete.nonEmpty && wouldFree > 0L)
    assert(TxTable.read(spark, t, version = 1).count() == 50,
      "dry run must not delete anything")
    assert(TxTable.oldestRetainedVersion(t) == 1, "dry run must not drop records")
    val deleted = TxTable.vacuum(t, keepFromVersion = 3)
    assert(deleted.nonEmpty, "copy-on-write garbage existed and must be reclaimed")
    assert(deleted.toSet == wouldDelete.toSet,
      "the dry run must predict exactly what vacuum reclaims")
    assert(TxTable.read(spark, t).count() == 50)
    assert(TxTable.read(spark, t).filter(col("id") === 2L).head().getString(1) == "c")
    intercept[Exception] { TxTable.read(spark, t, version = 1).count() }
  }

  test("vacuum removes the slot directories it empties and leaves live slots as they are") {
    import spark.implicits._
    def slots(t: String): Map[String, Set[String]] = {
      val data = java.nio.file.Paths.get(t, "data")
      val s = java.nio.file.Files.list(data)
      try s.iterator().asScala.map { dir =>
        val w = java.nio.file.Files.walk(dir)
        try dir.getFileName.toString -> w.iterator().asScala
          .map(p => dir.relativize(p).toString).toSet
        finally w.close()
      }.toMap finally s.close()
    }
    val flat = tmpTable()
    TxTable.create(spark, flat, (1L to 40L).map(i => (i, "a")).toDF("id", "v").repartition(4), Seq("id"))
    TxTable.append(spark, flat, Seq((41L, "b")).toDF("id", "v"), Seq("id"))
    TxTable.merge(spark, flat, Seq((1L, "c")).toDF("id", "v"), "id", Seq("id"))
    TxTable.compact(spark, flat, Seq("id"), targetFiles = 1)
    val part = tmpTable()
    TxTable.createPartitioned(spark, part,
      (1L to 40L).map(i => (i, i % 3)).toDF("id", "dt"), Seq("dt"), Seq("id"))
    TxTable.appendPartitioned(spark, part, Seq((41L, 0L)).toDF("id", "dt"), Seq("dt"), Seq("id"))
    TxTable.compactPartitioned(spark, part, Seq("dt"), Seq("id"))
    for (t <- Seq(flat, part)) {
      val latest = TxTable.latestVersion(t)
      val live = TxTable.manifest(t, latest).files.map(_.path.split("/")(1)).toSet
      val before = slots(t)
      assert(before.keySet != live, s"compaction left no dead slot to reclaim in $t")
      val rows = TxTable.read(spark, t).count()
      TxTable.vacuum(t, latest)
      val after = slots(t)
      assert(after.keySet == live, s"dead slots survived vacuum: ${after.keySet -- live}")
      assert(live.forall(sl => after(sl) == before(sl)), "vacuum touched a live slot")
      assert(TxTable.read(spark, t).count() == rows)
    }
  }

  test("update applies SET at file granularity: matched rows rewritten, same-file bystanders identical, disjoint files by reference") {
    import spark.implicits._
    val t = tmpTable()
    val lo = (1L to 100L).map(i => (i, "old", i % 7)).toDF("k", "status", "w").repartition(1)
    val hi = (100001L to 100100L).map(i => (i, "old", i % 7)).toDF("k", "status", "w").repartition(1)
    TxTable.create(spark, t, lo, Seq("k"))
    TxTable.append(spark, t, hi, Seq("k"))
    val before = TxTable.manifest(t, TxTable.latestVersion(t)).files
    val res = TxTable.updateWhere(spark, t, col("k").between(40L, 60L),
      Map("status" -> lit("new"), "w" -> (col("w") + 100L)), Seq("k"))
    assert(res.rewritten == 1 && res.untouched == 1, res.toString)
    val hiFile = before.find(_.stats("k").minLong == 100001L).get
    assert(TxTable.manifest(t, res.version).files.exists(_.path == hiFile.path),
      "disjoint file must carry over by reference")
    val now = TxTable.read(spark, t)
    assert(now.count() == 200, "UPDATE must not change cardinality")
    assert(now.filter(col("k").between(40, 60) && col("status") =!= "new").count() == 0)
    assert(now.filter(col("k") === 50L).head().getLong(2) == 50L % 7 + 100L,
      "expression SET must see the row's old value")
    assert(now.filter(!col("k").between(40, 60) &&
      (col("status") =!= "old" || col("w") >= 100)).count() == 0,
      "bystander rows must carry through unchanged")
    // old snapshot unaffected; predicate-column SET is refused
    assert(TxTable.read(spark, t, version = 2).filter(col("status") === "new").count() == 0)
    intercept[IllegalArgumentException] {
      TxTable.updateWhere(spark, t, col("k").between(1L, 2L), Map("k" -> lit(0L)), Seq("k"))
    }
    // zero intersecting files: NO-OP, no new version
    val noop = TxTable.updateWhere(spark, t, col("k").between(900000L, 900100L),
      Map("status" -> lit("x")), Seq("k"))
    assert(noop.version == res.version && noop.rewritten == 0)
  }

  test("null-count stats: IS NULL skips null-free files, IS NOT NULL and ranges skip all-null files") {
    import org.apache.spark.sql.sources.{EqualTo, IsNull, IsNotNull}
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), Seq("id", "v"))
    TxTable.append(spark, t, Seq((3L, null), (4L, "d")).toDF("id", "v").repartition(1), Seq("id", "v"))
    TxTable.append(spark, t, Seq[(Long, String)]((5L, null), (6L, null)).toDF("id", "v").repartition(1), Seq("id", "v"))
    val v = TxTable.latestVersion(t)
    def fileOf(minId: Long): String =
      TxTable.manifest(t, v).files.find(_.stats("id").minLong == minId).get.path
    val (f1, f2, f3) = (fileOf(1L), fileOf(3L), fileOf(5L))
    def kept(fs: org.apache.spark.sql.sources.Filter*): Set[String] =
      graft.sources.TxDataSource.filesFor(t, v, fs).map(_.path).toSet
    assert(kept(IsNull("v")) == Set(f2, f3), "null-free file must be skipped under IS NULL")
    assert(kept(IsNotNull("v")) == Set(f1, f2), "all-null file must be skipped under IS NOT NULL")
    assert(kept(EqualTo("v", "a")) == Set(f1),
      "range prunes by stats AND the all-null file (which has no v stats) by null count")
    // end to end through the data source: results stay correct
    val df = spark.read.format("graft-tx").load(t)
    assert(df.filter(col("v").isNull).select("id").as[Long].collect().toSet == Set(3L, 5L, 6L))
    assert(df.filter(col("v").isNotNull).count() == 3)
    assert(df.filter(col("v") === "a").select("id").as[Long].collect().toSet == Set(1L))
  }

  test("appendConcurrent: simultaneous writers all land exactly once via OCC rebase, no data rewrite") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (0L until 10L).toDF("id"), Seq("id"))
    val writers = 4
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futs = (1 to writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            barrier.await() // maximize commit-window overlap
            TxTable.append(spark, t,
              (w * 100L until w * 100L + 10L).toDF("id"), Seq("id"))
          }
        })
      }
      val versions = futs.map(_.get())
      // every writer won exactly one version; none were lost or doubled
      assert(versions.toSet == (2 to writers + 1).toSet,
        s"4 appends over v1 must land as v2..v5, got $versions")
    } finally {
      pool.shutdown()
      ()
    }
    val got = TxTable.read(spark, t).as[Long].collect().toSet
    val want = (0L until 10L).toSet ++
      (1 to writers).flatMap(w => w * 100L until w * 100L + 10L)
    assert(got == want, "every concurrent append's rows must be present exactly once")
    assert(TxTable.read(spark, t).count() == want.size)
    // the rebase is manifest-only: each version adds files, drops none
    val h = TxTable.history(spark, t).orderBy(col("version")).collect()
    assert(h.forall(_.getAs[Long]("files_removed") == 0L))
    assert(h.drop(1).forall(_.getAs[Long]("files_added") >= 1L))
  }

  test("mergeConcurrent: rewriting mutations racing appends and each other re-execute on conflict; every writer's effect lands") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 100L).map(i => (i, "old")).toDF("id", "v").repartition(1), Seq("id"))
    // leg 1: a merge races an append — the merge must either win the
    // version or re-run on top of the appended snapshot
    val b1 = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fApp = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          b1.await()
          TxTable.append(spark, t,
            (1001L to 1010L).map(i => (i, "app")).toDF("id", "v"), Seq("id"))
        }
      })
      val fMrg = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          b1.await()
          TxTable.withConflictRetry(TxTable.merge(spark, t,
            (Seq((50L, "new")) ++ (201L to 205L).map(i => (i, "ins"))).toDF("id", "v"),
            "id", Seq("id"))).version
        }
      })
      assert(Set(fApp.get(), fMrg.get()) == Set(2, 3),
        "the two racing writers must land as v2 and v3 in some order")
    } finally { pool.shutdown(); () }
    val afterLeg1 = TxTable.read(spark, t)
    assert(afterLeg1.count() == 115, "100 base + 10 appended + 5 inserted")
    assert(afterLeg1.filter(col("id") === 50L).head().getString(1) == "new")
    assert(afterLeg1.filter(col("id") === 51L).head().getString(1) == "old")
    assert(afterLeg1.filter(col("id") === 1005L).count() == 1)
    // leg 2: two merges rewriting the SAME file — the loser re-executes
    // against the winner's output, so BOTH updates survive
    val b2 = new java.util.concurrent.CyclicBarrier(2)
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val ms = Seq((10L to 20L), (80L to 90L)).map { band =>
        pool2.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            b2.await()
            TxTable.withConflictRetry(TxTable.merge(spark, t,
              band.map(i => (i, s"band${band.head}")).toDF("id", "v"),
              "id", Seq("id"))).version
          }
        })
      }
      assert(ms.map(_.get()).toSet == Set(4, 5))
    } finally { pool2.shutdown(); () }
    val now = TxTable.read(spark, t)
    assert(now.count() == 115, "merges replaced, never duplicated")
    assert(now.filter(col("id").between(10, 20) && col("v") =!= "band10").count() == 0)
    assert(now.filter(col("id").between(80, 90) && col("v") =!= "band80").count() == 0)
    assert(now.filter(col("id") === 50L).head().getString(1) == "new",
      "leg-1's merge must survive both band rewrites")
  }

  test("legacy manifests without null counts keep every file conservatively (upgrade path)") {
    import org.apache.spark.sql.sources.{IsNull, IsNotNull}
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), Seq("id", "v"))
    // simulate a pre-r12 manifest: strip the "nulls" blocks in place
    val mf = java.nio.file.Paths.get(t, "_log", "v00000001.json")
    val json = new String(Files.readAllBytes(mf), "UTF-8")
    assert(json.contains("\"nulls\""), "new writes must carry null counts")
    val legacy = json.replaceAll("(?s),?\\s*\"nulls\"\\s*:\\s*\\{[^}]*\\}", "")
    Files.write(mf, legacy.getBytes("UTF-8"))
    val files = TxTable.manifest(t, 1).files
    assert(files.forall(_.nullCounts.isEmpty), "legacy manifests parse with empty null counts")
    // unknown null counts → every null-aware filter keeps the file
    def kept(fs: org.apache.spark.sql.sources.Filter*): Int =
      graft.sources.TxDataSource.filesFor(t, 1, fs).size
    assert(kept(IsNull("v")) == files.size)
    assert(kept(IsNotNull("v")) == files.size)
    // and reads through the format stay correct
    assert(spark.read.format("graft-tx").load(t).filter(col("v").isNotNull).count() == 2)
    // the next append re-introduces null counts without disturbing v1
    TxTable.append(spark, t, Seq((3L, "c")).toDF("id", "v").repartition(1), Seq("id", "v"))
    val v2 = TxTable.manifest(t, 2).files
    assert(v2.exists(_.nullCounts.nonEmpty) && v2.exists(_.nullCounts.isEmpty),
      "mixed legacy/new entries coexist in one live set")
    assert(spark.read.format("graft-tx").load(t).count() == 3)
  }

  test("vacuumed table: history lists only retained versions; restore below the horizon names the retention contract") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 10L).toDF("id"), Seq("id"))     // v1
    TxTable.append(spark, t, (11L to 15L).toDF("id"), Seq("id"))    // v2
    TxTable.append(spark, t, (16L to 20L).toDF("id"), Seq("id"))    // v3
    TxTable.append(spark, t, (21L to 25L).toDF("id"), Seq("id"))    // v4
    TxTable.vacuum(t, keepFromVersion = 3)
    assert(TxTable.oldestRetainedVersion(t) == 3)
    // DESCRIBE HISTORY keeps working after vacuum — only retained
    // versions, with the horizon version reporting its full live set
    val h = TxTable.history(spark, t).orderBy(col("version")).collect()
    assert(h.map(_.getAs[Int]("version")).toSeq == Seq(3, 4))
    assert(h.map(_.getAs[Long]("n_rows")).toSeq == Seq(20L, 25L))
    assert(h.head.getAs[Long]("files_added") == h.head.getAs[Long]("n_files"))
    // restore above the horizon still works; below it fails with the
    // retention contract, not a raw missing-file path
    assert(TxTable.restore(spark, t, 3) == 5)
    assert(TxTable.read(spark, t).count() == 20)
    val e = intercept[IllegalStateException] { TxTable.restore(spark, t, 2) }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("[3, 5]"),
      s"expected the retention-window message, got: ${e.getMessage}")
  }

  test("streaming source rate limit: maxVersionsPerTrigger bounds catch-up; exactly-once across a mid-backlog restart") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 10L).toDF("id"), Seq("id"))     // v1
    (1 to 4).foreach { i =>                                          // v2..v5
      TxTable.append(spark, t, (10L * i + 1L to 10L * i + 10L).toDF("id"), Seq("id"))
    }
    val ckpt = Files.createTempDirectory("graft_tx_rl_ck").toString
    val out = Files.createTempDirectory("graft_tx_rl_out").toString
    def start(trigger: Option[org.apache.spark.sql.streaming.Trigger]) = {
      val w = spark.readStream.format("graft-tx").option("path", t)
        .option("maxVersionsPerTrigger", "2").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append")
      trigger.fold(w)(w.trigger).start()
    }
    def sunk(): Set[Long] = spark.read.parquet(out).as[Long].collect().toSet
    def nBatches(): Int = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      .iterator().asScala.count(_.getFileName.toString.matches("\\d+"))
    // steady-state drain: 5 versions at cap 2 = 3 capped batches
    val q1 = start(None)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(sunk() == (1L to 50L).toSet)
    assert(nBatches() == 3, s"5 versions at cap 2 = 3 batches, got ${nBatches()}")
    // CLEAN restart with multiple batches committed: Spark does NOT
    // replay via getBatch, so a fresh instance must seed pacing from
    // the ENGINE's committed offset (5), never its own zero state —
    // pacing from 0 would hand out end=2 < committed=5 and wedge the
    // checkpoint on the append-only error
    (5 to 7).foreach { i =>                                          // v6..v8
      TxTable.append(spark, t, (10L * i + 1L to 10L * i + 10L).toDF("id"), Seq("id"))
    }
    val q2 = start(None)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(sunk() == (1L to 80L).toSet, "restart must resume above the committed offset")
    assert(spark.read.parquet(out).count() == 80, "no duplicates across the restart")
    assert(nBatches() == 5, s"3 new versions at cap 2 = 2 more batches, got ${nBatches()}")
    // Trigger.Once ignores the caps (Delta parity: the engine passes
    // ReadLimit.allAvailable — "process everything available now"):
    // v9..v10 drain as ONE batch despite cap 2... and the uncapped
    // batch still paces the NEXT restart correctly
    (8 to 9).foreach { i =>                                          // v9..v10
      TxTable.append(spark, t, (10L * i + 1L to 10L * i + 10L).toDF("id"), Seq("id"))
    }
    val q3 = start(Some(org.apache.spark.sql.streaming.Trigger.Once()))
    q3.awaitTermination()
    assert(sunk() == (1L to 100L).toSet, "Trigger.Once must drain the whole backlog")
    assert(nBatches() == 6, s"Trigger.Once = one uncapped batch, got ${nBatches()}")
  }

  test("streaming source startingVersion: 'latest' skips the snapshot, a number starts at that version inclusive") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 10L).toDF("id"), Seq("id"))     // v1
    TxTable.append(spark, t, (11L to 15L).toDF("id"), Seq("id"))    // v2
    TxTable.append(spark, t, (16L to 20L).toDF("id"), Seq("id"))    // v3
    // 'latest': nothing before stream start replays; only v4 arrives
    val qL = spark.readStream.format("graft-tx").option("path", t)
      .option("startingVersion", "latest").load()
      .writeStream.format("memory").queryName("tx_sv_latest")
      .outputMode("append").start()
    try {
      qL.processAllAvailable()
      assert(spark.table("tx_sv_latest").count() == 0,
        "startingVersion=latest must not replay the snapshot")
      TxTable.append(spark, t, (21L to 25L).toDF("id"), Seq("id"))  // v4
      qL.processAllAvailable()
      assert(spark.table("tx_sv_latest").as[Long].collect().toSet == (21L to 25L).toSet)
    } finally qL.stop()
    // a NUMBER: version 3 itself is included, 1-2 are not
    val qN = spark.readStream.format("graft-tx").option("path", t)
      .option("startingVersion", "3").load()
      .writeStream.format("memory").queryName("tx_sv_three")
      .outputMode("append").start()
    try {
      qN.processAllAvailable()
      assert(spark.table("tx_sv_three").as[Long].collect().toSet == (16L to 25L).toSet,
        "startingVersion=3 surfaces versions 3 and 4, not the earlier snapshot")
    } finally qN.stop()
    // composes with rate limiting: the post-start backlog drains capped
    val ckpt = Files.createTempDirectory("graft_tx_sv_ck").toString
    val out = Files.createTempDirectory("graft_tx_sv_out").toString
    val qC = spark.readStream.format("graft-tx").option("path", t)
      .option("startingVersion", "2").option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try { qC.processAllAvailable() } finally qC.stop()
    assert(spark.read.parquet(out).as[Long].collect().toSet == (11L to 25L).toSet)
    val n = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      .iterator().asScala.count(_.getFileName.toString.matches("\\d+"))
    assert(n == 3, s"versions 2..4 at cap 1 = 3 batches, got $n")
  }

  test("streaming source rate limit: Trigger.AvailableNow drains the whole backlog in capped batches, then stops") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 10L).toDF("id"), Seq("id"))
    (1 to 4).foreach { i =>                                          // v2..v5
      TxTable.append(spark, t, (10L * i + 1L to 10L * i + 10L).toDF("id"), Seq("id"))
    }
    val ckpt = Files.createTempDirectory("graft_tx_an_ck").toString
    val out = Files.createTempDirectory("graft_tx_an_out").toString
    // AvailableNow wraps a DSv1 source: it must still respect the
    // per-trigger cap AND terminate once the start-time backlog drains
    val q = spark.readStream.format("graft-tx").option("path", t)
      .option("maxVersionsPerTrigger", "2").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    assert(q.awaitTermination(120000), "AvailableNow must self-terminate")
    assert(spark.read.parquet(out).as[Long].collect().toSet == (1L to 50L).toSet)
    val n = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      .iterator().asScala.count(_.getFileName.toString.matches("\\d+"))
    assert(n == 3, s"5 versions at cap 2 = 3 capped batches under AvailableNow, got $n")
  }

  test("streaming source rate limit: maxFilesPerTrigger caps the added-file budget; an oversized version still flows") {
    import spark.implicits._
    val t = tmpTable()
    // every version adds exactly 2 files
    TxTable.create(spark, t, (1L to 10L).toDF("id").repartition(2), Seq("id"))
    TxTable.append(spark, t, (11L to 20L).toDF("id").repartition(2), Seq("id"))
    TxTable.append(spark, t, (21L to 30L).toDF("id").repartition(2), Seq("id"))
    val ckpt = Files.createTempDirectory("graft_tx_fl_ck").toString
    val out = Files.createTempDirectory("graft_tx_fl_out").toString
    // budget 1 < any single version's 2 files: each batch must still
    // admit one version (the atomic unit), so 3 versions = 3 batches
    val q = spark.readStream.format("graft-tx").option("path", t)
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.read.parquet(out).as[Long].collect().toSet == (1L to 30L).toSet)
    val n = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      .iterator().asScala.count(_.getFileName.toString.matches("\\d+"))
    assert(n == 3, s"2-file versions under a 1-file budget = one version per batch, got $n")
  }

  test("log checkpointing: per-commit record bytes are O(delta) while the live set grows; delta-chain resolution equals the tracked truth") {
    import spark.implicits._
    val t = tmpTable()
    // 26 single-file commits: v1 + checkpoints every CheckpointInterval
    // are full records, the rest are action deltas
    var expected = Map.empty[Int, Set[String]] // version -> expected live paths
    TxTable.create(spark, t, Seq((1L, "r")).toDF("id", "v").repartition(1), Seq("id"))
    expected += 1 -> TxTable.manifest(t, 1).files.map(_.path).toSet
    (2 to 26).foreach { ver =>
      TxTable.append(spark, t,
        Seq((ver.toLong * 100, "r")).toDF("id", "v").repartition(1), Seq("id"))
      val m = TxTable.manifest(t, ver)
      assert(m.files.map(_.path).toSet.size == ver, s"v$ver live-set size")
      assert((m.files.map(_.path).toSet -- expected(ver - 1)).size == 1,
        s"v$ver adds exactly one file over v${ver - 1}")
      expected += ver -> m.files.map(_.path).toSet
    }
    def recordBytes(v: Int): Long =
      Files.size(java.nio.file.Paths.get(t, "_log", f"v$v%08d.json"))
    def isFull(v: Int): Boolean =
      new String(Files.readAllBytes(
        java.nio.file.Paths.get(t, "_log", f"v$v%08d.json")), "UTF-8")
        .contains("\"files\"")
    // form assignment: v1 + every k-th are checkpoints, the rest deltas
    val k = TxTable.CheckpointInterval
    (1 to 26).foreach { v =>
      assert(isFull(v) == (v == 1 || v % k == 0), s"v$v form")
    }
    // THE O(delta) claim, measured: a late delta (live set 25 files) is
    // no bigger than an early one (live set 2 files) beyond JSON noise,
    // and stays far below the checkpoint that carries the full set
    assert(recordBytes(25) <= recordBytes(2) * 2,
      s"delta bytes must not scale with the live set: v25=${recordBytes(25)}B vs v2=${recordBytes(2)}B")
    assert(recordBytes(25) * 5 < recordBytes(20),
      s"a delta must be far smaller than a checkpoint: v25=${recordBytes(25)}B vs v20=${recordBytes(20)}B")
    // resolution correctness at every version, including across checkpoints
    (1 to 26).foreach { v =>
      assert(TxTable.manifest(t, v).files.map(_.path).toSet == expected(v), s"v$v resolve")
    }
    // a full read through a delta-resolved snapshot sees every row
    assert(TxTable.read(spark, t).count() == 26)
    assert(TxTable.read(spark, t, version = 13).count() == 13)
  }

  test("log checkpointing: vacuum at a delta version writes the horizon sidecar; every retained version resolves, restore and streaming keep working") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, Seq(1L).toDF("id").repartition(1), Seq("id"))
    (2 to 18).foreach { ver =>
      TxTable.append(spark, t, Seq(ver.toLong).toDF("id").repartition(1), Seq("id"))
    }
    // v13 is a delta (13 % 10 != 0): vacuuming to it must materialize
    // the sidecar or versions 13..19 become unresolvable
    TxTable.vacuum(t, keepFromVersion = 13)
    assert(Files.exists(java.nio.file.Paths.get(t, "_log", "v00000013.checkpoint.json")),
      "vacuum must checkpoint the horizon version before dropping its ancestors")
    assert(TxTable.oldestRetainedVersion(t) == 13)
    (13 to 18).foreach { v =>
      assert(TxTable.manifest(t, v).files.size == v, s"v$v resolves after vacuum")
    }
    assert(TxTable.read(spark, t, version = 13).as[Long].collect().toSet
      == (1L to 13L).toSet)
    // history lists exactly the retained window
    val h = TxTable.history(spark, t).orderBy(col("version")).collect()
    assert(h.map(_.getAs[Int]("version")).toSeq == (13 to 18))
    // streaming from the horizon ITSELF: the action walk reads records
    // v.. (never the vacuumed diff base), so startingVersion = oldest
    // retained version is valid — versions 13..18 surface
    val out = Files.createTempDirectory("graft_tx_ck_out").toString
    val ckpt = Files.createTempDirectory("graft_tx_ck_ck").toString
    val q = spark.readStream.format("graft-tx").option("path", t)
      .option("startingVersion", "13").load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.read.parquet(out).as[Long].collect().toSet == (13L to 18L).toSet)
    // restore to a retained delta version rides the sidecar too
    val rv = TxTable.restore(spark, t, 14)
    assert(TxTable.read(spark, t, rv).count() == 14)
    // a vacuumed-below-horizon version still names the retention contract
    val e = intercept[IllegalStateException] { TxTable.restore(spark, t, 5) }
    assert(e.getMessage.contains("vacuumed"))
    // startingVersion fail-fast validation (ADVICE r12): a version
    // whose diff base fell below the horizon, and one beyond latest+1,
    // both name their real cause at source creation — not the
    // misleading consumer-lag retention error mid-stream
    def startFailure(sv: String, name: String): Throwable = {
      val q = spark.readStream.format("graft-tx").option("path", t)
        .option("startingVersion", sv).load()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      } finally q.stop()
    }
    def causeChain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .map(c => Option(c.getMessage).getOrElse("")).toSeq
    assert(causeChain(startFailure("12", "tx_sv_horizon"))
      .exists(_.contains("below the retention horizon")),
      "startingVersion below the horizon must name the horizon, not consumer lag")
    assert(causeChain(startFailure("99", "tx_sv_beyond"))
      .exists(_.contains("beyond the table's committed range")))
  }

  test("persistent catalog: saveAsTable and CREATE TABLE register graft-tx tables a second session resolves; temp views stay session-local") {
    import spark.implicits._
    val t = tmpTable()
    val base = (1L to 40L).map(i => (i, s"r$i")).toDF("id", "payload")
    // write-path registration: saveAsTable through the
    // CreatableRelationProvider — catalog entry + table create in one
    spark.sql("DROP TABLE IF EXISTS graft_cat_sat")
    base.write.format("graft-tx").option("path", t)
      .option("statsColumns", "id").saveAsTable("graft_cat_sat")
    assert(TxTable.latestVersion(t) == 1)
    TxTable.append(spark, t, (41L to 50L).map(i => (i, s"r$i")).toDF("id", "payload"),
      Seq("id"))
    // a version-pinned catalog table over the same path
    spark.sql("DROP TABLE IF EXISTS graft_cat_v1")
    spark.sql(s"CREATE TABLE graft_cat_v1 USING `graft-tx` OPTIONS (path '$t', version '1')")
    // the SECOND session: same external catalog, fresh temp views —
    // catalog tables resolve, the temporary view does not
    spark.read.format("graft-tx").load(t)
      .createOrReplaceTempView("graft_cat_tmpv")
    val second = spark.newSession()
    assert(second.table("graft_cat_sat").count() == 50,
      "floating catalog table must read the latest snapshot cross-session")
    assert(second.table("graft_cat_v1").count() == 40,
      "pinned catalog table must time-travel cross-session")
    intercept[org.apache.spark.sql.AnalysisException] {
      second.table("graft_cat_tmpv").count()
    }
    // a column rename AFTER registration: the stored schema keeps
    // resolving as a stale-but-consistent view (stored names are the
    // stable physical names — SchemaRelationProvider serves them
    // directly instead of failing Spark's schema-mismatch check)
    TxTable.renameColumn(t, "id", "ident")
    spark.sql("REFRESH TABLE graft_cat_sat")
    val stale = spark.table("graft_cat_sat")
    assert(stale.columns.contains("id"),
      "pre-rename catalog entries keep their stored names")
    assert(stale.agg(sum(col("id"))).head().getLong(0) == (1L to 50L).sum,
      "stored names must keep addressing the physical data")
    // appends surface through the stale view after the standard REFRESH
    TxTable.append(spark, t, Seq((51L, "r51")).toDF("ident", "payload"),
      Seq("ident"))
    spark.sql("REFRESH TABLE graft_cat_sat")
    assert(spark.table("graft_cat_sat").count() == 51)
    // re-registering surfaces the renamed schema
    spark.sql("DROP TABLE graft_cat_sat")
    spark.sql(s"CREATE TABLE graft_cat_sat USING `graft-tx` OPTIONS (path '$t')")
    assert(spark.table("graft_cat_sat").columns.contains("ident"))
    // DROP removes the catalog entry, never the external data
    spark.sql("DROP TABLE graft_cat_sat")
    spark.sql("DROP TABLE graft_cat_v1")
    assert(TxTable.read(spark, t).count() == 51, "DROP TABLE must not touch data")
  }

  test("hive partition layout: <col>=<value> dirs, directory-only pruning, stats compose, reads recover the column, layout-destroying flat ops refused") {
    import spark.implicits._
    val t = tmpTable()
    // dt 1..4 aligned with id bands, landed in TWO single-task writes
    // so every dt dir holds exactly 2 files with disjoint id halves
    // (deterministic — a range partitioner's sampled cuts are not)
    def band(lowerHalf: Boolean) = (1L to 400L)
      .filter(i => ((i - 1) % 100 < 50) == lowerHalf)
      .map(i => (i, (i - 1) / 100 + 1)).toDF("id", "dt").repartition(1)
    assert(TxTable.createPartitioned(spark, t, band(lowerHalf = true),
      Seq("dt"), Seq("id")) == 1)
    TxTable.appendPartitioned(spark, t, band(lowerHalf = false),
      Seq("dt"), Seq("id"))
    val m = TxTable.manifest(t, 2).files
    assert(m.forall(f => f.path.contains("dt=")), "hive-style dirs expected")
    assert(m.forall(f => f.parts.get("dt").nonEmpty), "partition values recorded")
    // reads recover the directory-encoded column
    val r = TxTable.read(spark, t)
    assert(r.columns.toSet == Set("id", "dt"))
    assert(r.count() == 400)
    assert(r.filter(col("dt") === 3).agg(min(col("id")), max(col("id")))
      .head() == org.apache.spark.sql.Row(201L, 300L))
    // append keeps the layout; new partition values extend the table
    TxTable.appendPartitioned(spark, t,
      (401L to 500L).map(i => (i, 5L)).toDF("id", "dt"), Seq("dt"), Seq("id"))
    assert(TxTable.read(spark, t).count() == 500)
    // DIRECTORY signal alone: prunePartitions never consults stats
    val (kept5, skipped5) = TxTable.prunePartitions(t, Map("dt" -> "5"))
    assert(kept5.nonEmpty && kept5.forall(_.parts("dt") == "5"))
    assert(skipped5.forall(_.parts("dt") != "5"))
    val p5 = TxTable.readPartition(spark, t, Map("dt" -> "5"))
    assert(p5.count() == 100 &&
      p5.agg(min(col("id"))).head().getLong(0) == 401L)
    // BOTH signals compose: partition equality halves to one dt dir,
    // the id-range stat then keeps only one of its two files
    val dt2 = TxTable.prunePartitions(t, Map("dt" -> "2"))._1
    assert(dt2.size == 2, s"dt=2 should hold 2 range files, got ${dt2.size}")
    val both = dt2.filter(_.stats("id").intersects("101", "140"))
    assert(both.size == 1,
      s"stats must halve the partition's files, got ${both.size}")
    // a flat append or a flat maintenance rewrite would break the
    // layout (mutations are partition-aware since r14 — covered by
    // their own spec — but flat compact/zorder would de-partition)
    intercept[IllegalArgumentException] {
      TxTable.append(spark, t, Seq((501L, 6L)).toDF("id", "dt"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TxTable.compact(spark, t, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TxTable.zorder(spark, t, "id", "dt", Seq("id"))
    }
    // old snapshots stay readable across partitioned appends
    assert(TxTable.read(spark, t, version = 1).count() == 200)
    // the SQL surface recovers directory-encoded columns too
    assert(spark.read.format("graft-tx").load(t)
      .filter(col("dt") === 5L).count() == 100)
    // partition-preserving compaction: 3 slots -> 1, layout and
    // content identical, both pruning signals still work
    val slotsBefore = TxTable.manifest(t, TxTable.latestVersion(t)).files
      .map(_.path.split('/').take(2).mkString("/")).distinct.size
    assert(slotsBefore == 3, s"expected 3 slots pre-compaction, got $slotsBefore")
    // OPTIMIZE … WHERE: compacting ONE partition touches only its
    // files — dt=2's two halves become one, every other file carries
    // over by reference
    val preOpt = TxTable.manifest(t, TxTable.latestVersion(t)).files
    val ov = TxTable.compactPartition(spark, t, Map("dt" -> "2"),
      Seq("dt"), Seq("id"))
    val postOpt = TxTable.manifest(t, ov).files
    val (dt2After, othersAfter) = postOpt.partition(_.parts("dt") == "2")
    assert(dt2After.size == 1, s"dt=2 should compact to one file, got ${dt2After.size}")
    assert(othersAfter.map(_.path).toSet ==
      preOpt.filter(_.parts("dt") != "2").map(_.path).toSet,
      "non-target partitions must carry over by reference")
    assert(TxTable.readPartition(spark, t, Map("dt" -> "2"))
      .agg(count(lit(1)), min(col("id")), max(col("id"))).head()
      == org.apache.spark.sql.Row(100L, 101L, 200L))
    val cv = TxTable.compactPartitioned(spark, t, Seq("dt"), Seq("id"))
    val after = TxTable.manifest(t, cv).files
    assert(after.map(_.path.split('/').take(2).mkString("/")).distinct.size == 1,
      "compaction must collapse to one slot")
    assert(after.forall(f => f.path.contains("dt=") && f.parts.contains("dt")))
    assert(TxTable.read(spark, t).count() == 500)
    assert(TxTable.readPartition(spark, t, Map("dt" -> "5")).count() == 100)
    assert(TxTable.prunePartitions(t, Map("dt" -> "3"))._1
      .forall(_.parts("dt") == "3"))
  }

  test("column mapping: rename/drop are metadata-only commits — stats prune on the new name, old snapshots keep their own names, appends stay physically stable") {
    import spark.implicits._
    val t = tmpTable()
    val lo = (1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").repartition(1)
    val hi = (1001L to 1100L).map(i => (i, s"a$i")).toDF("id", "v").repartition(1)
    TxTable.create(spark, t, lo, Seq("id"))                         // v1
    TxTable.append(spark, t, hi, Seq("id"))                         // v2
    // RENAME id → key: a metadata-only commit — identical file set
    val v3 = TxTable.renameColumn(t, "id", "key")
    assert(v3 == 3)
    assert(TxTable.manifest(t, 3).files.map(_.path) ==
      TxTable.manifest(t, 2).files.map(_.path), "rename must move zero data")
    // reads surface the new name; the OLD snapshot keeps its own
    assert(TxTable.read(spark, t).columns.toSet == Set("key", "v"))
    assert(TxTable.read(spark, t, version = 2).columns.toSet == Set("id", "v"))
    // skipping still prunes — addressed by the NEW name
    val (kept, skipped) = TxTable.prune(t, "key", 1L, 100L)
    assert(kept.size == 1 && skipped.size == 1,
      s"stats must keep pruning across the rename: ${kept.size}/${skipped.size}")
    assert(TxTable.readPruned(spark, t, "key", 1L, 50L).count() == 50)
    // an append under the NEW logical name lands PHYSICALLY as the
    // original — one stable physical schema forever
    TxTable.append(spark, t,
      (2001L to 2100L).map(i => (i, s"a$i")).toDF("key", "v"), Seq("key"))
    val newFile = TxTable.manifest(t, 4).files
      .filterNot(TxTable.manifest(t, 3).files.map(_.path).toSet contains _.path).head
    assert(spark.read.parquet(s"$t/${newFile.path}").columns.contains("id"),
      "post-rename files must carry the original physical name")
    assert(newFile.stats.contains("id"), "stats stay keyed by the original")
    assert(TxTable.read(spark, t).filter(col("key") > 2000L).count() == 100)
    // the SQL surface maps too: logical-name pushdown still skips files
    import org.apache.spark.sql.sources.LessThanOrEqual
    assert(graft.sources.TxDataSource.filesFor(t, 4,
      Seq(LessThanOrEqual("key", 50L))).size == 1)
    assert(spark.read.format("graft-tx").load(t)
      .filter(col("key") <= 50L).count() == 50)
    // MERGE under the new name: replaced-not-duplicated, key-addressed
    val res = TxTable.merge(spark, t,
      Seq((50L, "UPD")).toDF("key", "v"), "key", Seq("key"))
    assert(res.rewritten == 1, s"merge must stay file-granular, got $res")
    val merged = TxTable.read(spark, t)
    assert(merged.count() == 300)
    assert(merged.filter(col("key") === 50L).head().getString(1) == "UPD")
    // DROP v: projected out of reads at/after this version, kept before
    TxTable.dropColumn(t, "v")
    assert(TxTable.read(spark, t).columns.toSet == Set("key"))
    // pre-drop snapshots keep the column, under THEIR mapping (v4 is
    // post-rename: key; v2 pre-rename: id — checked above)
    assert(TxTable.read(spark, t, version = 4).columns.toSet == Set("key", "v"))
    // the change feed reports in the CURRENT logical view
    val cdf = TxTable.changesBetween(spark, t, 3, 4)
    assert(cdf.columns.contains("key") && !cdf.columns.contains("id"))
    assert(cdf.filter(col("_change") === "insert").count() == 100)
    // mapping survives checkpoint boundaries (v10 is a full record)
    (1 to 6).foreach { i =>
      TxTable.append(spark, t,
        Seq((9000L + i)).toDF("key"), Seq("key"))
    }
    assert(TxTable.latestVersion(t) >= 10)
    assert(TxTable.read(spark, t).columns.toSet == Set("key"))
    assert(TxTable.mappingAt(t)._1 == Map("key" -> "id"))
    // rename BACK clears the mapping entry (explicit-empty delta)
    TxTable.renameColumn(t, "key", "id")
    assert(TxTable.mappingAt(t)._1.isEmpty)
    assert(TxTable.read(spark, t).columns.toSet == Set("id"))
  }

  test("streaming source rate limit: maxBytesPerTrigger paces by recorded file sizes; an oversized version still flows") {
    import spark.implicits._
    val t = tmpTable()
    // 3 versions of ~equal byte weight (one file each)
    TxTable.create(spark, t, (1L to 1000L).toDF("id").repartition(1), Seq("id"))
    TxTable.append(spark, t, (1001L to 2000L).toDF("id").repartition(1), Seq("id"))
    TxTable.append(spark, t, (2001L to 3000L).toDF("id").repartition(1), Seq("id"))
    val oneFile = TxTable.manifest(t, 1).files.head.bytes
    assert(oneFile > 0L, "writes must record file bytes")
    val ckpt = Files.createTempDirectory("graft_tx_mb_ck").toString
    val out = Files.createTempDirectory("graft_tx_mb_out").toString
    // budget ≈ one file: each version exhausts it → one version per
    // batch, and a version bigger than the budget still flows
    val q = spark.readStream.format("graft-tx").option("path", t)
      .option("maxBytesPerTrigger", (oneFile / 2).toString).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.read.parquet(out).as[Long].collect().toSet == (1L to 3000L).toSet)
    val n = Files.list(java.nio.file.Paths.get(ckpt, "offsets"))
      .iterator().asScala.count(_.getFileName.toString.matches("\\d+"))
    assert(n == 3, s"3 versions above a half-file byte budget = 3 batches, got $n")
  }

  test("detail: one metadata row — version window, live totals with bytes, partition and mapping state") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 50L).map(i => (i, s"r$i")).toDF("id", "v"),
      Seq("id"))
    TxTable.append(spark, t, (51L to 80L).map(i => (i, s"r$i")).toDF("id", "v"),
      Seq("id"))
    TxTable.renameColumn(t, "id", "key")
    val d = TxTable.detail(spark, t).head()
    assert(d.getAs[Int]("version") == 3)
    assert(d.getAs[Long]("n_rows") == 80L)
    assert(d.getAs[Long]("n_files") >= 2L)
    assert(d.getAs[Long]("n_bytes") ==
      TxTable.manifest(t, 3).files.map(_.bytes).sum)
    assert(d.getAs[Long]("n_bytes") > 0L)
    assert(d.getAs[String]("renames") == "key<-id")
    assert(d.getAs[String]("partition_cols") == "")
  }

  test("column mapping + streaming source: batches over a renamed table surface the logical name, physical files stream unchanged") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 20L).map(i => (i, s"p$i")).toDF("id", "payload"), Seq("id"))
    TxTable.renameColumn(t, "id", "key")
    // stream starts AFTER the rename: schema pins the logical view
    val q = spark.readStream.format("graft-tx").option("path", t).load()
      .writeStream.format("memory").queryName("tx_cm_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val snap = spark.table("tx_cm_stream")
      assert(snap.columns.toSet == Set("key", "payload"))
      assert(snap.select("key").as[Long].collect().toSet == (1L to 20L).toSet)
      // a post-rename append (logical name in, physical name on disk)
      // streams through under the logical name
      TxTable.append(spark, t,
        (21L to 30L).map(i => (i, s"p$i")).toDF("key", "payload"), Seq("key"))
      q.processAllAvailable()
      assert(spark.table("tx_cm_stream").select("key").as[Long].collect().toSet
        == (1L to 30L).toSet,
        "post-rename appends must stream under the pinned logical schema")
    } finally q.stop()
    // a rename committed MID-STREAM must not shift the batch schema
    // out from under the pinned start-time view (the physical map is
    // captured at source start — stable-id contract)
    val t2 = tmpTable()
    TxTable.create(spark, t2,
      (1L to 10L).map(i => (i, s"p$i")).toDF("id", "payload"), Seq("id"))
    val q2 = spark.readStream.format("graft-tx").option("path", t2).load()
      .writeStream.format("memory").queryName("tx_cm_midstream")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      TxTable.renameColumn(t2, "id", "key")
      TxTable.append(spark, t2,
        (11L to 20L).map(i => (i, s"p$i")).toDF("key", "payload"), Seq("key"))
      q2.processAllAvailable()
      val snap = spark.table("tx_cm_midstream")
      assert(snap.columns.toSet == Set("id", "payload"),
        "mid-stream renames must not change the pinned batch schema")
      assert(snap.select("id").as[Long].collect().toSet == (1L to 20L).toSet)
    } finally q2.stop()
  }

  test("streaming source on a hive-partitioned table: directory-encoded partition values stream intact (batch ≡ stream), across snapshot, multi-slot batches, and ignoreChanges resurface") {
    import spark.implicits._
    val t = tmpTable()
    // deterministic per-value files: dt 1 holds ids 1-3, dt 2 ids 4-6
    val v1 = (1L to 6L).map(i => (i, (i - 1) / 3 + 1)).toDF("id", "dt")
      .repartition(1)
    TxTable.createPartitioned(spark, t, v1, Seq("dt"), Seq("id"))
    def batchRows(): Set[(Long, Long)] = TxTable.read(spark, t)
      .select(col("id"), col("dt")).as[(Long, Long)].collect().toSet
    val q = spark.readStream.format("graft-tx").option("path", t).load()
      .writeStream.format("memory").queryName("tx_part_stream")
      .outputMode("append").start()
    def streamed(): Set[(Long, Long)] = spark.table("tx_part_stream")
      .select(col("id"), col("dt")).as[(Long, Long)].collect().toSet
    try {
      q.processAllAvailable()
      // the r13 bug: every streamed row carried NULL in every partition
      // column (data files don't contain them) — batch and stream must
      // agree INCLUDING the partition values
      assert(streamed() == batchRows(), "snapshot batch ≡ stream")
      assert(streamed().map(_._2) == Set(1L, 2L), "partition values, not NULLs")
      // two appends while the consumer idles → ONE micro-batch spanning
      // two slots and three partition values
      TxTable.appendPartitioned(spark, t,
        Seq((7L, 1L), (8L, 3L)).toDF("id", "dt").repartition(1),
        Seq("dt"), Seq("id"))
      TxTable.appendPartitioned(spark, t,
        Seq((9L, 2L)).toDF("id", "dt").repartition(1), Seq("dt"), Seq("id"))
      q.processAllAvailable()
      assert(streamed() == batchRows(), "multi-slot batch ≡ stream")
      assert(streamed().contains((8L, 3L)), "new partition value streams")
    } finally q.stop()
    // ignoreChanges: a partition compaction's rewritten files resurface
    // WITH their directory-encoded values
    val q2 = spark.readStream.format("graft-tx").option("path", t)
      .option("ignoreChanges", "true").load()
      .writeStream.format("memory").queryName("tx_part_stream_ic")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      TxTable.compactPartition(spark, t, Map("dt" -> "1"), Seq("dt"), Seq("id"))
      q2.processAllAvailable()
      val rows = spark.table("tx_part_stream_ic")
        .select(col("id"), col("dt")).as[(Long, Long)].collect().toSeq
      val dup = rows.groupBy(identity).filter(_._2.size > 1).keys.toSet
      assert(dup.nonEmpty && dup.forall(_._2 == 1L),
        s"resurfaced dt=1 rewrite must carry dt=1, got $dup")
      assert(rows.forall(r => r._2 >= 1L && r._2 <= 3L),
        "no NULL/garbage partition values anywhere in the stream")
    } finally q2.stop()
  }

  test("streaming source startingVersion: horizon validation defers to first-batch seeding — a checkpointed restart survives a vacuum past the configured start; a fresh stream below the horizon still fails fast") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, Seq(1L).toDF("id"), Seq("id")) // v1
    (2 to 6).foreach(v =>
      TxTable.append(spark, t, Seq(v.toLong).toDF("id"), Seq("id"))) // v2..v6
    val ckpt = Files.createTempDirectory("graft_tx_sv_ck").toString
    val out = Files.createTempDirectory("graft_tx_sv_out").toString
    def start(ck: String) =
      spark.readStream.format("graft-tx").option("path", t)
        .option("startingVersion", "2").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append").start()
    val q = start(ckpt)
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.read.parquet(out).as[Long].collect().toSet == (2L to 6L).toSet)
    // vacuum PAST the configured startingVersion (2) but behind the
    // consumer's committed offset (6): the restart must come up clean —
    // r13 validated the horizon in createSource, which also runs on
    // restart, and wedged exactly this healthy checkpoint
    TxTable.vacuum(t, 5)
    TxTable.append(spark, t, Seq(7L).toDF("id"), Seq("id"))
    val q2 = start(ckpt)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(out).as[Long].collect().toSet == (2L to 7L).toSet,
      "checkpointed restart processes new commits; startingVersion ignored")
    // a FRESH stream (new checkpoint, memory sink so batch 0 actually
    // executes) genuinely seeds from startingVersion 2 — below the
    // horizon, so its first batch fails with the retention message,
    // not a raw missing-file trace
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q3 = spark.readStream.format("graft-tx").option("path", t)
        .option("startingVersion", "2").load()
        .writeStream.format("memory").queryName("tx_sv_fresh")
        .outputMode("append").start()
      try q3.processAllAvailable() finally q3.stop()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("below the retention horizon"), msgs)
  }

  test("appendPartitioned refuses a non-empty flat table; renameColumn collision checks the FULL physical schema, not just stats keys") {
    import spark.implicits._
    val t = tmpTable()
    // statsCols deliberately narrower than the schema: v carries no
    // stats entry, so a stats-key-only collision check cannot see it
    TxTable.create(spark, t, Seq((1L, "a")).toDF("id", "v").repartition(1),
      Seq("id"))
    val e = intercept[IllegalArgumentException] {
      TxTable.appendPartitioned(spark, t,
        Seq((2L, "b")).toDF("id", "v").repartition(1), Seq("v"), Seq("id"))
    }
    assert(e.getMessage.contains("flat"), e.getMessage)
    // rename onto the stats-less data column: refused (pre-fix this
    // passed and produced a duplicate logical name)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.renameColumn(t, "id", "v")
    }
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    // a logical name shadowing ANOTHER column's physical name is
    // refused (the logical<->physical folds would become
    // order-dependent); rename-back to one's OWN original still works
    TxTable.renameColumn(t, "id", "id2")
    val e3 = intercept[IllegalArgumentException] {
      TxTable.renameColumn(t, "v", "id")
    }
    assert(e3.getMessage.contains("shadows"), e3.getMessage)
    TxTable.renameColumn(t, "id2", "id")
    assert(TxTable.read(spark, t).columns.toSeq == Seq("id", "v"))
  }

  test("partition-aware mutations: merge/delete/update preserve the hive layout, untouched partitions carry by reference, partition-column delete is metadata-only") {
    import spark.implicits._
    val t = tmpTable()
    // one file per dt dir: dt 1 holds ids 1-3, dt 2 ids 4-6, dt 3 ids 7-9
    val base = (1L to 9L).map(i => (i, (i - 1) / 3 + 1, "base"))
      .toDF("id", "dt", "tag").repartition(1)
    TxTable.createPartitioned(spark, t, base, Seq("dt"), Seq("id"))
    def files() = TxTable.manifest(t, TxTable.latestVersion(t)).files
    def rows() = TxTable.read(spark, t)
      .select(col("id"), col("dt"), col("tag"))
      .as[(Long, Long, String)].collect().toSet
    val v1Files = files().map(_.path).toSet

    // MERGE confined to dt=1: the insert key 0 keeps dt=1's key range
    // off the other partitions, and the PARTITION BOUNDS prune what the
    // key range alone cannot — updates' keys [0, 2] are disjoint here,
    // but the real assertion is rewritten == 1 below
    val mr = TxTable.merge(spark, t,
      Seq((2L, 1L, "upd"), (0L, 1L, "ins")).toDF("id", "dt", "tag"),
      "id", Seq("id"))
    assert(mr.rewritten == 1 && mr.untouched == 2,
      s"partition bounds must confine the rewrite to dt=1: $mr")
    assert(rows() == Set((0L, 1L, "ins"), (1L, 1L, "base"), (2L, 1L, "upd"),
      (3L, 1L, "base"), (4L, 2L, "base"), (5L, 2L, "base"),
      (6L, 2L, "base"), (7L, 3L, "base"), (8L, 3L, "base"), (9L, 3L, "base")))
    val afterMerge = files()
    assert(afterMerge.filter(_.parts("dt") != "1").map(_.path).toSet ==
      v1Files.filter(p => !p.contains("dt=1")),
      "untouched partitions carry by reference")
    assert(afterMerge.forall(f => f.parts.contains("dt") && f.path.contains("dt=")),
      "rewritten files keep the directory layout and parts metadata")

    // a merge whose key range SPANS the table but whose partition
    // bounds hit nothing new still only touches its own partitions
    val mr2 = TxTable.merge(spark, t,
      Seq((9L, 3L, "upd3")).toDF("id", "dt", "tag"), "id", Seq("id"))
    assert(mr2.rewritten == 1, s"dt bounds [3,3] must touch only dt=3: $mr2")

    // METADATA-ONLY partition delete: dt = 3 drops whole files as
    // pure manifest removes — zero data IO, no new paths, no job
    val preDel = files().map(_.path).toSet
    val (dr, drJobs) =
      jobsOf(TxTable.deleteWhere(spark, t, col("dt") === 3L, Seq("id")))
    assert(drJobs == 0, s"a partition-only delete launched $drJobs Spark jobs")
    assert(dr.rewritten == 1 && files().map(_.path).toSet.subsetOf(preDel),
      "partition delete must write no new files")
    assert(rows().forall(_._2 != 3L) && rows().size == 7)
    // the old snapshot still has the dropped partition
    assert(TxTable.read(spark, t, dr.version - 1)
      .filter(col("dt") === 3L).count() == 3)

    // content-column DELETE inside a partitioned table: only the
    // intersecting partition's file rewrites, layout preserved
    val preDel2 = files()
    val dr2 = TxTable.deleteWhere(spark, t, col("id") === 4L, Seq("id"))
    assert(dr2.rewritten == 1 && dr2.untouched == 1, s"$dr2")
    val afterDel2 = files()
    assert(afterDel2.filter(_.parts("dt") == "1").map(_.path).toSet ==
      preDel2.filter(_.parts("dt") == "1").map(_.path).toSet,
      "dt=1 carries by reference through the dt=2 rewrite")
    assert(afterDel2.forall(f => f.parts.contains("dt")))
    assert(rows() == Set((0L, 1L, "ins"), (1L, 1L, "base"), (2L, 1L, "upd"),
      (3L, 1L, "base"), (5L, 2L, "base"), (6L, 2L, "base")))

    // UPDATE inside a partitioned table: bystanders carry through,
    // disjoint partitions by reference
    val ur = TxTable.updateWhere(spark, t, col("id") === 5L,
      Map("tag" -> lit("u5")), Seq("id"))
    assert(ur.rewritten == 1 && ur.untouched == 1, s"$ur")
    assert(rows().contains((5L, 2L, "u5")) && rows().contains((6L, 2L, "base")))

    // UPDATE may move rows ACROSS partitions (SET on a partition
    // column): the rewrite routes them to their new value's directory
    TxTable.updateWhere(spark, t, col("id") === 6L,
      Map("dt" -> lit(9L)), Seq("id"))
    val dt9 = TxTable.readPartition(spark, t, Map("dt" -> "9"))
    assert(dt9.select(col("id")).as[Long].collect().toSeq == Seq(6L))
    assert(files().exists(f => f.parts.get("dt").contains("9") &&
      f.path.contains("dt=9")))
    // pruning signals still compose after the whole mutation chain
    assert(TxTable.prunePartitions(t, Map("dt" -> "1"))._1
      .forall(_.parts("dt") == "1"))
    assert(TxTable.readPartition(spark, t, Map("dt" -> "1")).count() == 4)
  }

  test("partition-only DELETE (Scala or SQL) is a zero-job manifest remove; a predicate mixing in a data column rewrites one file") {
    import spark.implicits._
    val t = tmpTable()
    // one file per dt dir: dt 1 holds ids 1-3, dt 2 ids 4-6, dt 3 ids 7-9
    TxTable.createPartitioned(spark, t,
      (1L to 9L).map(i => (i, (i - 1) / 3 + 1, "base")).toDF("id", "dt", "tag")
        .repartition(1), Seq("dt"), Seq("id"))
    spark.sql("DROP TABLE IF EXISTS tx_part_delete")
    spark.sql(s"CREATE TABLE tx_part_delete USING `graft-tx` OPTIONS (path '$t')")
    try {
      val v1Paths = TxTable.manifest(t, 1).files.map(_.path).toSet
      val (_, sqlJobs) = jobsOf(spark.sql("DELETE FROM tx_part_delete WHERE dt = 3"))
      assert(sqlJobs == 0, s"SQL partition delete launched $sqlJobs Spark jobs")
      val v2 = TxTable.manifest(t, 2).files
      assert(v2.size == 2 && v2.map(_.path).toSet.subsetOf(v1Paths),
        "the dt=3 file leaves the live set, nothing is written")
      // no partition matches: no job, no commit
      val (noop, noopJobs) =
        jobsOf(TxTable.deleteWhere(spark, t, col("dt") > 5L, Seq("id")))
      assert(noopJobs == 0 && noop.version == 2 && noop.rewritten == 0, s"$noop")
      // a data column in the predicate: row-level rewrite of dt=2 only
      val mixed = TxTable.deleteWhere(spark, t,
        col("dt") === 2L && col("id") === 4L, Seq("id"))
      assert(mixed.rewritten == 1 && mixed.untouched == 1, s"$mixed")
      assert(TxTable.read(spark, t).select(col("id")).as[Long].collect().toSet ==
        Set(1L, 2L, 3L, 5L, 6L))
    } finally { spark.sql("DROP TABLE IF EXISTS tx_part_delete"); () }
  }

  test("deletion vectors: point deletes write no data files; reads/prunes/SQL anti-join the tombstones; change feed shows deletes; rewrites materialize; old snapshots unaffected") {
    import spark.implicits._
    val t = tmpTable()
    val base = (1L to 100L).map(i => (i, s"p$i")).toDF("id", "payload")
    TxTable.create(spark, t, base.repartitionByRange(4, col("id")), Seq("id"))
    val v1Files = TxTable.manifest(t, 1).files
    // DV delete of a 3-row band: only the covering file gains tombstones
    val r = TxTable.deleteWithDVWhere(spark, t, col("id").between(10L, 12L))
    assert(r.version == 2 && r.rewritten == 1 && r.untouched == 3, s"$r")
    val v2Files = TxTable.manifest(t, 2).files
    assert(v2Files.map(_.path).toSet == v1Files.map(_.path).toSet,
      "a DV delete must write no data files")
    assert(v2Files.map(_.dvRows).sum == 3)
    // r15: positions live in an executor-written sidecar dataset, not
    // in the manifest — the entry carries only (ref, count)
    assert(v2Files.filter(_.hasDv).forall(f =>
      f.dv.isEmpty && f.dvRef.startsWith("_dv/") && f.dvCount > 0))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(t,
      v2Files.find(_.hasDv).get.dvRef)), "sidecar dataset on disk")
    // read ≡ the copy-on-write twin's semantics
    assert(TxTable.read(spark, t).count() == 97)
    assert(TxTable.read(spark, t).filter(col("id").between(10, 12)).count() == 0)
    assert(TxTable.read(spark, t).agg(sum(col("id"))).head().getLong(0)
      == (1L to 100L).sum - 33L)
    // old snapshot unaffected (the DV lives in v2's entries only)
    assert(TxTable.read(spark, t, 1).count() == 100)
    // change feed: exactly the tombstoned rows as deletes, no inserts
    val feed = TxTable.changesBetween(spark, t, 1, 2)
    assert(feed.filter(col("_change") === "insert").count() == 0)
    assert(feed.filter(col("_change") === "delete").select("id").as[Long]
      .collect().toSet == Set(10L, 11L, 12L))
    // a second DV delete on the same file ACCUMULATES positions
    TxTable.deleteWithDVWhere(spark, t, col("id") === 14L)
    assert(TxTable.read(spark, t).count() == 96)
    // detail accounts live rows and tombstones
    val d = TxTable.detail(spark, t).head()
    assert(d.getAs[Long]("n_rows") == 96L && d.getAs[Long]("n_dv_rows") == 4L)
    // pruned reads and the SQL surface apply DVs too
    assert(TxTable.readPruned(spark, t, "id", 1L, 30L).count() == 26)
    assert(spark.read.format("graft-tx").load(t).count() == 96)
    // a merge touching the dv'd file materializes its DV and must not
    // resurrect tombstoned rows
    TxTable.merge(spark, t, Seq((15L, "upd")).toDF("id", "payload"),
      "id", Seq("id"))
    assert(TxTable.read(spark, t).count() == 96)
    assert(TxTable.read(spark, t).filter(col("id").between(10, 14))
      .select(col("id")).as[Long].collect().toSet == Set(13L))
    assert(TxTable.detail(spark, t).head().getAs[Long]("n_dv_rows") == 0L,
      "the COW rewrite materializes the touched file's DV")
    // streaming: a DV commit is a content change — append-only abort...
    val q = spark.readStream.format("graft-tx").option("path", t).load()
      .writeStream.format("memory").queryName("tx_dv_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tx_dv_stream").count() == 96,
        "snapshot batches apply deletion vectors")
      TxTable.deleteWithDVWhere(spark, t, col("id") === 20L)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    // ...and ignoreChanges rides over it without resurfacing anything
    val q2 = spark.readStream.format("graft-tx").option("path", t)
      .option("ignoreChanges", "true").load()
      .writeStream.format("memory").queryName("tx_dv_stream_ic")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val before = spark.table("tx_dv_stream_ic").count()
      assert(before == 95)
      TxTable.deleteWithDVWhere(spark, t, col("id") === 21L)
      q2.processAllAvailable()
      assert(spark.table("tx_dv_stream_ic").count() == before,
        "a DV version adds no files — nothing resurfaces under ignoreChanges")
    } finally q2.stop()
    // compaction materializes and clears every DV; content unchanged
    val cv = TxTable.compact(spark, t, Seq("id"))
    assert(TxTable.manifest(t, cv).files.forall(!_.hasDv))
    assert(TxTable.read(spark, t).count() == 94)
    assert(TxTable.detail(spark, t).head().getAs[Long]("n_dv_rows") == 0L)
  }

  test("deletion vectors on a hive-partitioned table: layout untouched, directory pruning and the anti-join compose, snapshot batches stream partition values minus tombstones") {
    import spark.implicits._
    val t = tmpTable()
    val base = (1L to 9L).map(i => (i, (i - 1) / 3 + 1)).toDF("id", "dt")
      .repartition(1)
    TxTable.createPartitioned(spark, t, base, Seq("dt"), Seq("id"))
    val prePaths = TxTable.manifest(t, 1).files.map(_.path).toSet
    val r = TxTable.deleteWithDVWhere(spark, t, col("id") === 5L)
    assert(r.rewritten == 1, s"only dt=2's file intersects [5,5]: $r")
    val post = TxTable.manifest(t, 2).files
    assert(post.map(_.path).toSet == prePaths, "no files written")
    assert(post.forall(_.parts.contains("dt")), "partition metadata intact")
    assert(TxTable.read(spark, t).count() == 8)
    // directory pruning composes with the DV anti-join
    assert(TxTable.readPartition(spark, t, Map("dt" -> "2"))
      .select(col("id")).as[Long].collect().toSet == Set(4L, 6L))
    // a streaming snapshot batch applies BOTH the directory-encoded
    // partition values and the tombstones (the combined parts+DV read)
    val q = spark.readStream.format("graft-tx").option("path", t).load()
      .writeStream.format("memory").queryName("tx_dv_part_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tx_dv_part_stream")
        .select(col("id"), col("dt")).as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (6L, 2L),
        (7L, 3L), (8L, 3L), (9L, 3L)))
    } finally q.stop()
  }

  test("streaming change feed with startingVersion=latest: subscribes to changes only — no snapshot replay, first merge streams its exact row diff") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 1000L).map(i => (i, "base")).toDF("id", "tag"), Seq("id"))
    val q = spark.readStream.format("graft-tx").option("path", t)
      .option("readChangeFeed", "true")
      .option("startingVersion", "latest").load()
      .writeStream.format("memory").queryName("tx_cdf_latest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tx_cdf_latest").count() == 0,
        "latest subscribes to future changes — the snapshot must not replay")
      TxTable.merge(spark, t, Seq((1L, "upd")).toDF("id", "tag"),
        "id", Seq("id"))
      q.processAllAvailable()
      val rows = spark.table("tx_cdf_latest")
        .select(col("id"), col("tag"), col("_change_type"))
        .as[(Long, String, String)].collect().toSet
      // r15: a keyed merge's delete+insert pair streams as Delta's
      // update images (the commit's op metadata drives the pairing)
      assert(rows == Set((1L, "base", "update_preimage"),
        (1L, "upd", "update_postimage")),
        s"carry-over rows must cancel and the upsert must pair, got $rows")
    } finally q.stop()
  }

  test("streaming change feed: snapshot streams as inserts; a merge streams paired update images; DV deletes surface; feed ≡ batch tableChanges per window; rate limits compose") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 20L).map(i => (i, "base")).toDF("id", "tag")
        .repartitionByRange(2, col("id")), Seq("id"))
    val q = spark.readStream.format("graft-tx").option("path", t)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("tx_cdf")
      .outputMode("append").start()
    def feedRows(): Seq[(Long, String, String)] = spark.table("tx_cdf")
      .select(col("id"), col("tag"), col("_change_type"))
      .as[(Long, String, String)].collect().toSeq
    try {
      q.processAllAvailable()
      assert(feedRows().size == 20 && feedRows().forall(_._3 == "insert"),
        "first batch = the live snapshot as inserts")
      val snapshotRows = feedRows()
      // two rewriting commits while the consumer idles: an upsert and a
      // DV point delete — a rewriting version must NOT abort a CDF
      // stream (propagating it is the point), and the version cap
      // paces them into separate batches
      TxTable.merge(spark, t,
        Seq((5L, "upd"), (6L, "upd"), (21L, "ins")).toDF("id", "tag"),
        "id", Seq("id"))
      val vMerge = TxTable.latestVersion(t)
      TxTable.deleteWithDVWhere(spark, t, col("id").between(7L, 8L))
      val vDv = TxTable.latestVersion(t)
      q.processAllAvailable()
      val delta = {
        val snapCounts = snapshotRows.groupBy(identity).map { case (k, v) => k -> v.size }
        feedRows().groupBy(identity).flatMap { case (k, v) =>
          Seq.fill(v.size - snapCounts.getOrElse(k, 0))(k)
        }.toSeq
      }
      // the streamed delta ≡ the batch tableChanges over the same
      // per-version windows (r15: both sides pair the merge window's
      // rows into update images; the DV window stays deletes)
      def batchWindow(a: Int, b: Int) =
        TxTable.tableChanges(spark, t, a, b)
          .select(col("id"), col("tag"), col("_change_type"))
          .as[(Long, String, String)].collect().toSeq
      val batchFeed = batchWindow(1, vMerge) ++ batchWindow(vMerge, vDv)
      assert(delta.sorted == batchFeed.sorted,
        s"stream delta ${delta.sorted} != batch feed ${batchFeed.sorted}")
      assert(delta.toSet == Set(
        (5L, "base", "update_preimage"), (6L, "base", "update_preimage"),
        (5L, "upd", "update_postimage"), (6L, "upd", "update_postimage"),
        (21L, "ins", "insert"),
        (7L, "base", "delete"), (8L, "base", "delete")))
      // rate limit composed: the two versions drained as two batches
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3, // snapshot + 2 capped version batches
        s"maxVersionsPerTrigger must pace the CDF drain, got $nonEmpty")
    } finally q.stop()
  }

  test("streaming change feed: a mid-stream rename cannot shift the feed's schema — the diff serves the pinned start-time names") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 10L).map(i => (i, "base")).toDF("id", "tag"), Seq("id"))
    val q = spark.readStream.format("graft-tx").option("path", t)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("tx_cdf_rename")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tx_cdf_rename").count() == 10)
      // a rename commits mid-stream (a metadata-only version: an empty
      // change batch), then a merge UNDER THE NEW NAME — the feed must
      // keep serving the pinned start-time names (physical stability)
      TxTable.renameColumn(t, "id", "key")
      TxTable.merge(spark, t, Seq((3L, "upd")).toDF("key", "tag"),
        "key", Seq("key"))
      q.processAllAvailable()
      val out = spark.table("tx_cdf_rename")
      assert(out.columns.toSet == Set("id", "tag", "_change_type"),
        "mid-stream renames must not change the pinned feed schema")
      val delta = out.filter(col("_change_type").startsWith("update"))
        .select(col("id"), col("tag"), col("_change_type"))
        .as[(Long, String, String)].collect().toSet
      // r15: the merge pairs on the PHYSICAL key (op metadata records
      // "id" even though the merge was issued under the renamed "key")
      assert(delta == Set((3L, "base", "update_preimage"),
        (3L, "upd", "update_postimage")), s"got $delta")
    } finally q.stop()
  }

  test("deleteWithDVConcurrent: racing an append, both writers land via re-execution") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 100L).toDF("id").repartitionByRange(4, col("id")), Seq("id"))
    val fa = Future(TxTable.append(spark, t,
      (101L to 110L).toDF("id"), Seq("id")))
    val fd = Future(TxTable.withConflictRetry(
      TxTable.deleteWithDVWhere(spark, t, col("id").between(5L, 7L))))
    Await.result(fa, 120.seconds)
    Await.result(fd, 120.seconds)
    val ids = TxTable.read(spark, t).select(col("id")).as[Long].collect().toSet
    assert(ids == ((1L to 110L).toSet -- Set(5L, 6L, 7L)),
      "append and DV delete must both land regardless of race order")
  }

  test("zorder rank space == global window at every tie/null/outlier profile, through the guard's constant and recursion paths") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7L)
    // ties, a null run, a continuous band, and a 1e14 sentinel — the
    // shapes that exercise the constant bucket, the null bucket, the
    // small path, and (at cap 2) the sub-bucket recursion
    val vals: Seq[Option[Double]] =
      (1 to 400).map(i => Some(Seq(1.0, 2.0, rnd.nextDouble() * 100.0)(rnd.nextInt(3)))) ++
        Seq(None, None, Some(1.0e14))
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val st = df.agg(min(col("v")).cast("double"), max(col("v")).cast("double"),
      count(lit(1))).head()
    val n = st.getLong(2)
    val want = df.withColumn("_r",
      (((rank().over(Window.orderBy(col("v"))) - 1).cast("double") /
        (n - 1).toDouble) * 65535.0).cast("long"))
      .select(col("id"), col("_r")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (cap <- Seq(1L << 18, 2L)) {
      val got = TxTable.rankSpace16(df, "v", st.getDouble(0), st.getDouble(1),
        n, "_r", cap)
        .select(col("id"), col("_r")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"rank space diverged from the global window at cap $cap")
    }
  }

  test("DV sidecars at 20M rows: accumulated tombstones beyond the old 2^22 cap, scan-local filtered read with NO broadcast and NO anti-join, vacuum reclaims orphaned datasets (r15, VERDICT r14 #1)") {
    val t = tmpTable()
    val n = 20000000L
    TxTable.create(spark, t,
      spark.range(n).select(col("id")).repartitionByRange(8, col("id")),
      Seq("id"))
    // three DV deletes totaling 4.8M tombstones — past the old 2^22
    // per-table ceiling that driver-collected inline DVs imposed
    val bands = Seq((1000000L, 2599999L), (5000000L, 6599999L),
      (9000000L, 10599999L))
    bands.foreach { case (lo, hi) =>
      val r = TxTable.deleteWithDVWhere(spark, t, col("id").between(lo, hi))
      assert(r.rewritten >= 1, s"band [$lo,$hi]: $r")
    }
    val deleted = bands.map { case (lo, hi) => hi - lo + 1 }.sum
    val deletedSum = bands.map { case (lo, hi) => (lo + hi) * (hi - lo + 1) / 2 }.sum
    assert(TxTable.detail(spark, t).head().getAs[Long]("n_dv_rows") == deleted)
    // read ≡ the copy-on-write truth, via the scan-local sidecar filter
    val agg = TxTable.read(spark, t).agg(count(lit(1)), sum(col("id")))
    val row = agg.collect()(0)
    assert(row.getLong(0) == n - deleted)
    assert(row.getLong(1) == n * (n - 1) / 2 - deletedSum)
    // the executed plan must contain NO tombstone broadcast and NO
    // anti-join — the DV filter runs inside the scan stage
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"),
      s"tombstones must never broadcast:\n$plan")
    assert(!plan.toLowerCase.contains("anti"),
      s"the sidecar path must not plan an anti-join:\n$plan")
    // old snapshots unaffected
    assert(TxTable.read(spark, t, 1).count() == n)
    // compaction materializes the DVs; vacuum then reclaims EVERY
    // sidecar dataset (none referenced by the retained manifest)
    TxTable.compact(spark, t, Seq("id"), targetFiles = 8)
    assert(TxTable.manifest(t, TxTable.latestVersion(t)).files.forall(!_.hasDv))
    TxTable.vacuum(t, TxTable.latestVersion(t))
    val dvDir = java.nio.file.Paths.get(t, "_dv")
    import scala.jdk.CollectionConverters._
    val leftover =
      if (!java.nio.file.Files.isDirectory(dvDir)) Nil
      else java.nio.file.Files.walk(dvDir).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).toList
    assert(leftover.isEmpty, s"vacuum must reclaim orphaned sidecars: $leftover")
    assert(TxTable.read(spark, t).count() == n - deleted)
  }

  test("predicate mutations: multi-column conjunct/disjunct DELETE/UPDATE/DV-delete, SQL null semantics, stats-pruned rewrites (r15, VERDICT r14 #3)") {
    import spark.implicits._
    val t = tmpTable()
    // 100 rows in 4 key-clustered files; cat is NULL on every 10th row
    val base = (1L to 100L)
      .map(i => (i, if (i % 10 == 0) null else s"c${i % 3}", i.toDouble))
      .toDF("id", "cat", "v")
    TxTable.create(spark, t, base.repartitionByRange(4, col("id")),
      Seq("id", "cat"))
    def ids() = TxTable.read(spark, t).select(col("id")).as[Long].collect().toSet
    // CONJUNCT delete: the id band confines the rewrite to ONE file
    // even though the cat conjunct alone matches everywhere
    val d1 = TxTable.deleteWhere(spark, t,
      col("id").between(30L, 40L) && col("cat") === "c1", Seq("id", "cat"))
    assert(d1.rewritten == 1 && d1.untouched == 3,
      s"the id conjunct's stats must confine the rewrite: $d1")
    val gone1 = (30L to 40L).filter(i => i % 10 != 0 && i % 3 == 1).toSet
    assert(ids() == (1L to 100L).toSet -- gone1, s"expected ${gone1} gone")
    // NULL SEMANTICS: cat <> 'zzz' is NULL for null-cat rows — they
    // SURVIVE (SQL DELETE semantics), every other row goes
    val t2 = tmpTable()
    TxTable.create(spark, t2, base.repartitionByRange(4, col("id")),
      Seq("id", "cat"))
    TxTable.deleteWhere(spark, t2, col("cat") =!= "zzz", Seq("id", "cat"))
    assert(TxTable.read(spark, t2).select(col("id")).as[Long].collect().toSet ==
      (10L to 100L by 10).toSet,
      "NULL-predicate rows must survive a DELETE WHERE")
    // DISJUNCT delete: two point predicates at opposite ends touch the
    // first and last files only
    val d2 = TxTable.deleteWhere(spark, t,
      col("id") === 5L || col("id") === 95L, Seq("id", "cat"))
    assert(d2.rewritten == 2, s"disjunct must map to its two files: $d2")
    assert(!ids().contains(5L) && !ids().contains(95L))
    // PREDICATE UPDATE: matched rows re-valued, bystanders carried
    // bit-identically, disjoint files untouched
    val preSum = TxTable.read(spark, t).agg(sum(col("v"))).head().getDouble(0)
    val u1 = TxTable.updateWhere(spark, t,
      col("id").between(52L, 60L) && col("cat").isNotNull,
      Map("v" -> (col("v") + 1000.0)), Seq("id", "cat"))
    assert(u1.rewritten == 1, s"$u1")
    val matchedN = (52L to 60L).count(i => i % 10 != 0)
    assert(TxTable.read(spark, t).agg(sum(col("v"))).head().getDouble(0) ==
      preSum + 1000.0 * matchedN)
    // the guard: SET on a column the predicate reads is refused
    intercept[IllegalArgumentException] {
      TxTable.updateWhere(spark, t, col("v") > 0.0,
        Map("v" -> lit(0.0)), Seq("id", "cat"))
    }
    // PREDICATE DV-DELETE: zero files written, matching rows
    // tombstoned, null-cat rows in the band survive
    val prePaths = TxTable.manifest(t, TxTable.latestVersion(t))
      .files.map(_.path).toSet
    val dv = TxTable.deleteWithDVWhere(spark, t,
      col("id").between(70L, 80L) && col("cat").isNotNull)
    assert(dv.rewritten >= 1)
    assert(TxTable.manifest(t, TxTable.latestVersion(t)).files
      .map(_.path).toSet == prePaths, "DV delete writes no data files")
    val dvGone = (70L to 80L).filter(_ % 10 != 0).toSet
    assert(ids().intersect((70L to 80L).toSet) == Set(70L, 80L),
      s"only the null-cat rows of the band survive, gone=$dvGone got ${ids().intersect((70L to 80L).toSet)}")
  }

  test("merge partition pruning is SOUND under partition-moving upserts: a matched key outside the update's partition footprint still rewrites (r15, ADVICE r14 high)") {
    import spark.implicits._
    val t = tmpTable()
    // one file per dt dir: dt 1 holds ids 1-3, dt 2 ids 4-6, dt 3 ids 7-9
    val base = (1L to 9L).map(i => (i, (i - 1) / 3 + 1, "base"))
      .toDF("id", "dt", "tag").repartition(1)
    TxTable.createPartitioned(spark, t, base, Seq("dt"), Seq("id"))
    // the upsert MOVES key 5 from dt=2 to dt=3 (SET on a partition
    // column is legal — update() documents Delta's semantics) and
    // carries a dt=3 bystander, so the update's partition footprint is
    // {3} alone: the dt=2 file holding key 5's OLD row is partition-
    // pruned by footprint but key-intersecting — the r14 prune left the
    // stale (5, 2, base) row alive beside the new (5, 3, moved) row
    val mr = TxTable.merge(spark, t,
      Seq((5L, 3L, "moved"), (8L, 3L, "upd")).toDF("id", "dt", "tag"),
      "id", Seq("id"))
    assert(mr.rewritten == 2 && mr.untouched == 1,
      s"the key-probe must widen the touched set to the dt=2 mover file: $mr")
    val rows = TxTable.read(spark, t).select(col("id"), col("dt"), col("tag"))
      .as[(Long, Long, String)].collect().toSet
    assert(rows == Set((1L, 1L, "base"), (2L, 1L, "base"), (3L, 1L, "base"),
      (4L, 2L, "base"), (6L, 2L, "base"),
      (5L, 3L, "moved"), (7L, 3L, "base"), (8L, 3L, "upd"), (9L, 3L, "base")),
      rows.toString)
    // no duplicate keys — the exact failure mode of the unsound prune
    assert(TxTable.read(spark, t).groupBy(col("id")).count()
      .filter(col("count") > 1).count() == 0)
    // pruning still ENGAGES when the probe finds no movers: the insert
    // key spans past every file's range, the footprint {2} prunes dt=1
    // and dt=3, and the key-column probe confirms no matched key lives
    // in the key-intersecting dt=3 file — it carries by reference
    val preFiles = TxTable.manifest(t, TxTable.latestVersion(t)).files
    val mr2 = TxTable.merge(spark, t,
      Seq((4L, 2L, "u4"), (100L, 2L, "ins")).toDF("id", "dt", "tag"),
      "id", Seq("id"))
    assert(mr2.rewritten == 1,
      s"footprint pruning with a clean probe must confine the rewrite: $mr2")
    val postPaths = TxTable.manifest(t, TxTable.latestVersion(t)).files
      .map(_.path).toSet
    assert(preFiles.filter(_.parts("dt") != "2").forall(f =>
      postPaths.contains(f.path)),
      "every non-footprint partition file must carry by reference")
    assert(TxTable.read(spark, t).filter(col("id") === 100L)
      .select(col("dt")).as[Long].collect().toSeq == Seq(2L))
  }

  test("repeated/overlapping DV deletes: already-tombstoned rows do not re-count, a fully-dead band is a no-op with NO new version (r15, ADVICE r14 low)") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 100L).map(i => (i, s"p$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id")), Seq("id"))
    val r1 = TxTable.deleteWithDVWhere(spark, t, col("id").between(10L, 14L))
    assert(r1.version == 2 && r1.rewritten == 1)
    val vAfter = TxTable.latestVersion(t)
    // the identical band again: every matching row is already dead —
    // no file's DV changes, so NO commit happens at all
    val r2 = TxTable.deleteWithDVWhere(spark, t, col("id").between(10L, 14L))
    assert(r2.version == vAfter && TxTable.latestVersion(t) == vAfter,
      s"a no-op DV delete must not commit an empty version: $r2")
    // an OVERLAPPING band: only the genuinely fresh rows count toward
    // the cap — maxDvRows = 3 admits exactly the 3 new positions
    // (15, 16, 17) even though the band re-matches 5 dead rows
    val r3 = TxTable.deleteWithDVWhere(spark, t, col("id").between(10L, 17L), maxDvRows = 3)
    assert(r3.rewritten == 1, s"$r3")
    assert(TxTable.read(spark, t).select(col("id")).as[Long].collect().toSet ==
      ((1L to 100L).toSet -- (10L to 17L)))
  }

  test("change feed window spanning deleteWithDV then compact: one terminal action per path, no double-counted deletes, later batches stay consistent (r15, ADVICE r14 medium)") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 20L).map(i => (i, "base")).toDF("id", "tag")
        .repartitionByRange(2, col("id")), Seq("id"))
    val q = spark.readStream.format("graft-tx").option("path", t)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("tx_cdf_dvc")
      .outputMode("append").start()
    def feedRows(): Seq[(Long, String, String)] = spark.table("tx_cdf_dvc")
      .select(col("id"), col("tag"), col("_change_type"))
      .as[(Long, String, String)].collect().toSeq
    try {
      q.processAllAvailable()
      val snapshot = feedRows()
      assert(snapshot.size == 20)
      // BOTH commits land inside ONE micro-batch window: the DV'd path
      // is then REMOVED by the compaction in the same range — the r14
      // action fold listed it under removes AND dv-changed, so its
      // surviving rows read on the delete side twice (phantom deletes)
      // and the cached CDF snapshot resurrected the removed path
      TxTable.deleteWithDVWhere(spark, t, col("id").between(3L, 4L))
      TxTable.compact(spark, t, Seq("id"), targetFiles = 1)
      q.processAllAvailable()
      val delta1 = {
        val snapCounts = snapshot.groupBy(identity).map { case (k, v) => k -> v.size }
        feedRows().groupBy(identity).flatMap { case (k, v) =>
          Seq.fill(v.size - snapCounts.getOrElse(k, 0))(k)
        }.toSeq
      }
      assert(delta1.sorted == Seq((3L, "base", "delete"), (4L, "base", "delete")),
        s"net effect of DV-then-compact is exactly the two deletes, got $delta1")
      // the NEXT batch folds forward from the cached snapshot — if the
      // removed path were resurrected there, these carried-over rows
      // would surface as phantom churn
      val before2 = feedRows()
      TxTable.merge(spark, t, Seq((1L, "upd")).toDF("id", "tag"),
        "id", Seq("id"))
      q.processAllAvailable()
      val delta2 = {
        val c = before2.groupBy(identity).map { case (k, v) => k -> v.size }
        feedRows().groupBy(identity).flatMap { case (k, v) =>
          Seq.fill(v.size - c.getOrElse(k, 0))(k)
        }.toSeq
      }
      assert(delta2.toSet == Set((1L, "base", "update_preimage"),
        (1L, "upd", "update_postimage")),
        s"post-compaction batches must diff cleanly, got $delta2")
    } finally q.stop()
  }

  test("CDF base cache: a replayed window and every forward fold hit the LRU — zero manifest resolves after the snapshot seed (r15, ADVICE r14 low #3)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 10L).map(i => (i, "base")).toDF("id", "tag"), Seq("id"))
    val schema = org.apache.spark.sql.types.StructType(
      TxTable.read(spark, t).schema.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType))
    val src = new graft.sources.TxStreamSource(spark.sqlContext, t, schema,
      ignoreChanges = false, changeFeed = true)
    src.getBatch(None, LongOffset(1L)) // snapshot — seeds the v1 base
    TxTable.merge(spark, t, Seq((1L, "u")).toDF("id", "tag"), "id", Seq("id"))
    src.getBatch(Some(LongOffset(1L)), LongOffset(2L)) // fold v1 → v2
    // the engine re-requests the SAME window after a recovery — the r14
    // single-slot cache (advanced to v2) paid an O(live-files) resolve
    // here; the LRU still holds v1
    src.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    TxTable.merge(spark, t, Seq((2L, "u")).toDF("id", "tag"), "id", Seq("id"))
    src.getBatch(Some(LongOffset(2L)), LongOffset(3L)) // forward from v2
    assert(src.cdfResolves == 0,
      s"every CDF base must come from the fold cache, paid ${src.cdfResolves}")
  }

  test("timestampAsOf time travel + metadata-only countRows (r15): wall-clock resolves to the last committed version at or before it; counts come from the manifest alone") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t, (1L to 50L).toDF("id"), Seq("id"))
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(25)
    TxTable.append(spark, t, (51L to 80L).toDF("id"), Seq("id"))
    Thread.sleep(25)
    TxTable.append(spark, t, (81L to 90L).toDF("id"), Seq("id"))
    // between v1 and v2 → v1; at/after the latest commit → latest
    assert(TxTable.versionAtTime(t, afterV1) == 1)
    assert(TxTable.versionAtTime(t, System.currentTimeMillis()) == 3)
    // before the first commit → retention-contract error
    intercept[IllegalStateException] {
      TxTable.versionAtTime(t, TxTable.commitTimestamp(t, 1) - 1000)
    }
    // the SQL surface spelling (epoch-millis form)
    val asOf = spark.read.format("graft-tx").option("path", t)
      .option("timestampAsOf", afterV1.toString).load()
    assert(asOf.count() == 50, "timestampAsOf must read v1's snapshot")
    // metadata-only counts track every mutation tier without a scan
    assert(TxTable.countRows(t) == 90 && TxTable.countRows(t, 1) == 50)
    TxTable.deleteWithDVWhere(spark, t, col("id").between(5L, 9L))
    assert(TxTable.countRows(t) == 85,
      "countRows must subtract deletion-vector tombstones")
    TxTable.deleteWhere(spark, t, col("id").between(81L, 90L), Seq("id"))
    assert(TxTable.countRows(t) == 75)
    assert(TxTable.countRows(t) == TxTable.read(spark, t).count())
  }

  test("CDC round trip: a replica follows the source through applyChanges(tableChanges) — replica ≡ source after every window (r15)") {
    import spark.implicits._
    val src = tmpTable()
    val rep = tmpTable()
    val base = (1L to 30L).map(i => (i, "base", i * 1.0)).toDF("id", "tag", "v")
    TxTable.create(spark, src, base.repartitionByRange(3, col("id")), Seq("id"))
    TxTable.create(spark, rep, base.repartitionByRange(3, col("id")), Seq("id"))
    def rows(t: String) = TxTable.read(spark, t)
      .select(col("id"), col("tag"), col("v"))
      .as[(Long, String, Double)].collect().toSet
    def follow(fromV: Int): Int = {
      val toV = TxTable.latestVersion(src)
      TxTable.applyChanges(spark, rep,
        TxTable.tableChanges(spark, src, fromV, toV), "id", Seq("id"))
      assert(rows(rep) == rows(src),
        s"replica diverged after window ($fromV, $toV]")
      toV
    }
    // window A: a keyed merge (update images + inserts)
    TxTable.merge(spark, src,
      Seq((3L, "upd", 30.0), (7L, "upd", 70.0), (31L, "ins", 31.0))
        .toDF("id", "tag", "v"), "id", Seq("id"))
    var at = follow(1)
    // window B: a DV point delete (merge-on-read deletes in the feed)
    TxTable.deleteWithDVWhere(spark, src, col("id").between(10L, 12L))
    at = follow(at)
    // window C: a keyed delete (deleteKeys — the CDC delete primitive)
    val dk = TxTable.deleteKeys(spark, src,
      Seq(5L, 17L, 31L).toDF("id"), "id", Seq("id"))
    assert(dk.rewritten >= 1)
    at = follow(at)
    // window D: a copy-on-write band delete + another merge, applied
    // as ONE netted window (mixed ops — no pairing, plain diff)
    TxTable.deleteWhere(spark, src, col("id").between(20L, 22L), Seq("id"))
    TxTable.merge(spark, src,
      Seq((1L, "upd2", -1.0)).toDF("id", "tag", "v"), "id", Seq("id"))
    follow(at)
    assert(rows(src).nonEmpty && !rows(src).exists(r => Set(5L, 17L, 31L)(r._1)))
  }

  test("bloom index: point mutations and lookups on an UNCLUSTERED table skip bloom-negative files; no false negatives; post-build files keep (r16)") {
    import spark.implicits._
    val t = tmpTable()
    // round-robin layout: every file's key min/max spans the table, so
    // stats pruning alone keeps all 16 files for any probe
    val n = 8000L
    TxTable.create(spark, t,
      (1L to n).map(i => (i, s"v$i")).toDF("id", "pay").repartition(16),
      Seq("id"))
    // stats-only baseline: a 3-key delete rewrites every file
    val preIdx = TxTable.deleteKeys(spark, t,
      Seq(11L, 22L, 33L).toDF("id"), "id", Seq("id"))
    assert(preIdx.rewritten >= 12,
      s"stats alone keep nearly everything: ${preIdx.rewritten}")
    val nFiles = TxTable.buildBloomIndex(spark, t, "id")
    assert(nFiles == 16)
    // the same shape now rewrites only bloom-positive files (3 keys
    // live in ≤3 files; fpp makes a few extra possible, never all)
    val withIdx = TxTable.deleteKeys(spark, t,
      Seq(44L, 55L, 66L).toDF("id"), "id", Seq("id"))
    assert(withIdx.rewritten <= 6,
      s"bloom skips negative files: rewrote ${withIdx.rewritten}")
    assert(TxTable.read(spark, t).count() == n - 6)
    // NO FALSE NEGATIVES: every planted key answers (sweep a stride)
    val probe = (1L to n by 97L).filterNot(
      Set(11L, 22L, 33L, 44L, 55L, 66L)).map(_.toString)
    val got = TxTable.readPointLookup(spark, t, "id", probe)
    assert(got.count() == probe.size.toLong, "every live key found")
    assert(got.filter(col("pay") =!= concat(lit("v"), col("id"))).count() == 0)
    // a merge through the same index rides keyCandidates' consult
    val mr = TxTable.merge(spark, t,
      Seq((77L, "upd")).toDF("id", "pay"), "id", Seq("id"))
    assert(mr.rewritten <= 4, s"indexed merge: ${mr.rewritten}")
    assert(TxTable.read(spark, t).filter(col("id") === 77L)
      .head().getString(1) == "upd")
    // the index stays LIVE across writes: an append after the build
    // gets its own sidecar in the same writeFiles pass, so later point
    // mutations keep skipping instead of degrading to conservative
    // keeps as files turn over
    TxTable.append(spark, t, Seq((n + 5L, "new")).toDF("id", "pay"), Seq("id"))
    assert(TxTable.readPointLookup(spark, t, "id", Seq((n + 5L).toString))
      .count() == 1, "appended key found through its fresh sidecar")
    val afterAppend = TxTable.deleteKeys(spark, t,
      Seq(88L, 99L).toDF("id"), "id", Seq("id"))
    assert(afterAppend.rewritten <= 4,
      s"post-append point delete still skips: ${afterAppend.rewritten}")
    // compaction rewrites everything — and re-blooms everything
    TxTable.compact(spark, t, Seq("id"))
    val postCompact = TxTable.deleteKeys(spark, t,
      Seq(111L).toDF("id"), "id", Seq("id"))
    assert(TxTable.read(spark, t).filter(col("id") === 111L).count() == 0)
    // VACUUM reclaims the sidecars of files no retained manifest
    // references (the rewritten generations), keeps the live ones
    val idxDir = java.nio.file.Paths.get(t, "_idx")
    def blooms(): Set[String] = {
      val it = java.nio.file.Files.walk(idxDir).iterator()
      val b = scala.collection.mutable.Set[String]()
      while (it.hasNext) { val p = it.next()
        if (p.toString.endsWith(".bloom")) b += p.getFileName.toString }
      b.toSet
    }
    val before = blooms()
    TxTable.vacuum(t, TxTable.latestVersion(t))
    val after = blooms()
    assert(after.size < before.size, s"orphaned sidecars reclaimed")
    assert(TxTable.readPointLookup(spark, t, "id", Seq("303")).count() == 1,
      "live sidecars survive the vacuum")
    // drop → back to stats-only behavior, still correct
    TxTable.dropBloomIndex(t, "id")
    assert(TxTable.readPointLookup(spark, t, "id", Seq("101")).count() == 1)
  }

  test("streaming CDC replica: cdcReplicaSink seeds, follows live commits, and survives a checkpoint restart exactly-once (r16)") {
    import spark.implicits._
    val src = tmpTable()
    val rep = tmpTable()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ck").toString
    val base = (1L to 40L).map(i => (i, "base", i * 1.0)).toDF("id", "tag", "v")
    TxTable.create(spark, src, base.repartitionByRange(4, col("id")), Seq("id"))
    TxTable.merge(spark, src,
      Seq((2L, "pre", 2.5)).toDF("id", "tag", "v"), "id", Seq("id"))
    def rows(t: String) = TxTable.read(spark, t)
      .select(col("id"), col("tag"), col("v"))
      .as[(Long, String, Double)].collect().toSet
    // the sink SEEDS the absent replica from the source's current state
    val q = graft.streaming.EventStreams.cdcReplicaSink(
      spark, src, rep, "id", Seq("id"), ckpt)
    try {
      q.processAllAvailable()
      assert(rows(rep) == rows(src), "seeded replica matches the source")
      // the feed starts AFTER the cloned version: the seed micro-batch
      // reads nothing and the replica still holds exactly the clone's files
      assert(q.recentProgress.head.numInputRows == 0L,
        s"seed batch replayed the snapshot: ${q.recentProgress.head.numInputRows} rows")
      def paths(t: String, v: Int) = TxTable.manifest(t, v).files.map(_.path).toSet
      assert(paths(rep, TxTable.latestVersion(rep)) == paths(rep, 1),
        "the seed batch rewrote cloned data files")
      val seededV = TxTable.latestVersion(rep)
      // live commits flow through: merge, exactly-once append and band
      // delete in one window
      TxTable.merge(spark, src,
        Seq((3L, "upd", 30.0), (41L, "ins", 41.0)).toDF("id", "tag", "v"),
        "id", Seq("id"))
      TxTable.appendBatchExactlyOnce(spark, src,
        Seq((50L, "app", 50.0)).toDF("id", "tag", "v"), 7L, Seq("id"))
      TxTable.deleteWhere(spark, src, col("id").between(10L, 12L), Seq("id"))
      q.processAllAvailable()
      assert(rows(rep) == rows(src), "replica follows live commits")
      assert(TxTable.latestVersion(rep) > seededV)
    } finally q.stop()
    // RESTART from the checkpoint: catch up on commits made while down
    TxTable.deleteKeys(spark, src, Seq(5L, 41L).toDF("id"), "id", Seq("id"))
    val q2 = graft.streaming.EventStreams.cdcReplicaSink(
      spark, src, rep, "id", Seq("id"), ckpt)
    try {
      q2.processAllAvailable()
      assert(rows(rep) == rows(src), "restarted replica catches up")
      // idle triggers commit nothing (empty windows are no-ops)
      val vAfter = TxTable.latestVersion(rep)
      q2.processAllAvailable()
      assert(TxTable.latestVersion(rep) == vAfter)
    } finally q2.stop()
  }

  test("CHECK constraints: manifest-stored, enforced on every write tier before any file lands, SQL null semantics, survive restore (r15)") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      Seq((1L, 10.0), (2L, 0.0), (3L, 5.5)).toDF("id", "v"), Seq("id"))
    TxTable.addCheckConstraint(spark, t, "v_nonneg", "v >= 0")
    assert(TxTable.checkConstraints(t) == Map("v_nonneg" -> "v >= 0"))
    // registration validates EXISTING rows — a violated predicate refuses
    intercept[IllegalArgumentException] {
      TxTable.addCheckConstraint(spark, t, "id_big", "id > 5")
    }
    // valid writes land; a violating append is refused BEFORE any file
    // or version exists
    TxTable.append(spark, t, Seq((4L, 1.0)).toDF("id", "v"), Seq("id"))
    val vBefore = TxTable.latestVersion(t)
    intercept[IllegalArgumentException] {
      TxTable.append(spark, t, Seq((5L, -1.0)).toDF("id", "v"), Seq("id"))
    }
    assert(TxTable.latestVersion(t) == vBefore,
      "a violating append must commit nothing")
    // SQL CHECK null semantics: a NULL predicate PASSES
    TxTable.append(spark, t,
      Seq((6L, Option.empty[Double])).toDF("id", "v"), Seq("id"))
    // merge updates and UPDATE SET are enforced too
    intercept[IllegalArgumentException] {
      TxTable.merge(spark, t, Seq((1L, -9.0)).toDF("id", "v"), "id", Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TxTable.updateWhere(spark, t, col("id") === 1L,
        Map("v" -> lit(-3.0)), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TxTable.appendBatchExactlyOnce(spark, t,
        Seq((7L, -2.0)).toDF("id", "v"), 99L, Seq("id"))
    }
    // multi-constraint single-pass enforcement names the violated one
    TxTable.addCheckConstraint(spark, t, "id_pos", "id > 0")
    val e = intercept[IllegalArgumentException] {
      TxTable.append(spark, t, Seq((8L, -4.0)).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("v_nonneg"), e.getMessage)
    // drop re-admits; restore of a constrained version restores its set
    val constrainedV = TxTable.latestVersion(t)
    TxTable.dropCheckConstraint(t, "v_nonneg")
    TxTable.append(spark, t, Seq((9L, -5.0)).toDF("id", "v"), Seq("id"))
    TxTable.restore(spark, t, constrainedV)
    assert(TxTable.checkConstraints(t).keySet == Set("v_nonneg", "id_pos"),
      "restore must bring back the restored version's constraint set")
    intercept[IllegalArgumentException] {
      TxTable.append(spark, t, Seq((10L, -6.0)).toDF("id", "v"), Seq("id"))
    }
    // history shows the constraint commits
    val ops = TxTable.history(spark, t)
      .orderBy(col("version")).collect().map(_.getAs[String]("operation"))
    assert(ops.contains("add_constraint") && ops.contains("drop_constraint"))
  }

  test("batch change feed on the SQL surface: readChangeFeed + startingVersion/endingVersion serve the paired row diff as a plain relation (r15)") {
    import spark.implicits._
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 20L).map(i => (i, "base")).toDF("id", "tag"), Seq("id"))
    TxTable.merge(spark, t,
      Seq((5L, "upd"), (21L, "ins")).toDF("id", "tag"), "id", Seq("id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("tag"), col("_change_type"))
        .as[(Long, String, String)].collect().toSet
    // the DataFrame reader shape
    val viaRead = spark.read.format("graft-tx").option("path", t)
      .option("readChangeFeed", "true").option("startingVersion", "2").load()
    assert(rows(viaRead) == Set((5L, "base", "update_preimage"),
      (5L, "upd", "update_postimage"), (21L, "ins", "insert")),
      rows(viaRead).toString)
    assert(rows(viaRead) == rows(TxTable.tableChanges(spark, t, 1, 2)),
      "the relation must serve exactly tableChanges' diff")
    // the SQL view shape
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_tx_cdf_batch " +
      s"USING `graft-tx` OPTIONS (path '$t', readChangeFeed 'true', " +
      s"startingVersion '1', endingVersion '1')")
    assert(spark.table("graft_tx_cdf_batch").count() == 20,
      "window [1,1] is the snapshot-as-inserts")
    // window validation
    intercept[IllegalArgumentException] {
      spark.read.format("graft-tx").option("path", t)
        .option("readChangeFeed", "true").load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-tx").option("path", t)
        .option("readChangeFeed", "true").option("startingVersion", "9").load()
    }
  }

  test("zorderPartition: one partition re-lays curve-ordered under its own dirs, others carry by reference, content identical") {
    import spark.implicits._
    val t = tmpTable()
    val df = (1L to 1000L).map(i => (i, (i * 7) % 499, (i - 1) / 500 + 1))
      .toDF("x", "y", "dt").repartition(1)
    TxTable.createPartitioned(spark, t, df, Seq("dt"), Seq("x", "y"))
    val pre = TxTable.manifest(t, 1).files
    val preAgg = TxTable.read(spark, t)
      .agg(count(lit(1)), sum(col("x")), sum(col("y"))).head()
    val v = TxTable.zorderPartition(spark, t, Map("dt" -> "1"), "x", "y",
      Seq("dt"), Seq("x", "y"), numFiles = 4)
    val post = TxTable.manifest(t, v).files
    val (dt1, others) = post.partition(_.parts("dt") == "1")
    assert(others.map(_.path).toSet ==
      pre.filter(_.parts("dt") != "1").map(_.path).toSet,
      "non-target partitions carry by reference")
    assert(dt1.size == 4 &&
      dt1.forall(f => f.path.contains("dt=1") && f.parts("dt") == "1"))
    // BOTH dimensions now skip within the partition: a low band on
    // either column intersects a strict subset of its files
    assert(dt1.count(_.stats("x").intersects("1", "125")) < dt1.size)
    assert(dt1.count(_.stats("y").intersects("1", "124")) < dt1.size)
    assert(TxTable.read(spark, t)
      .agg(count(lit(1)), sum(col("x")), sum(col("y"))).head() == preAgg,
      "zorderPartition is a content-identical commit")
  }

  test("mergeClauses: conditional update/delete/insert + not-matched-by-source, first-match-wins, untouched files carry (r16)") {
    import spark.implicits._
    import TxTable.{InsertClause, MergeClause, MergeDelete, MergeUpdate, srcCol}
    val t = tmpTable()
    // two well-separated key clusters land in different files; the
    // source only touches the low one and NMBS conds stay in-band too
    val lo = (1L to 100L).map(i => (i, "base", i % 7)).toDF("id", "tag", "amt")
      .repartition(1)
    val hi = (100001L to 100100L).map(i => (i, "base", i % 7))
      .toDF("id", "tag", "amt").repartition(1)
    TxTable.create(spark, t, lo, Seq("id"))
    TxTable.append(spark, t, hi, Seq("id"))
    val src = Seq(
      (10L, "d", "del", 0L), (20L, "d", "del", 0L), // matched deletes
      (30L, "u", "upd", 999L), (40L, "u", "upd", 998L), // matched updates
      (50L, "x", "nope", 0L), // matched, NO clause applies -> carries
      (201L, "i", "ins", 11L), (202L, "i", "ins", 12L), // inserts
      (203L, "x", "nope", 0L)) // unmatched, cond false -> ignored
      .toDF("id", "op", "tag", "amt")
    val res = TxTable.mergeClauses(spark, t, src, "id", Seq("id"),
      whenMatched = Seq(
        MergeClause(Some(srcCol("op") === "d"), MergeDelete),
        // first-match-wins probe: this ALSO matches id=10/20 by cond,
        // but the delete clause is declared first
        MergeClause(Some(srcCol("op").isin("d", "u")),
          MergeUpdate(Map("tag" -> srcCol("tag"), "amt" -> srcCol("amt"))))),
      whenNotMatched = Seq(InsertClause(Some(col("op") === "i"))),
      whenNotMatchedBySource = Seq(
        MergeClause(Some(col("id") === 60L), MergeDelete),
        MergeClause(Some(col("id") % 100 === 70L),
          MergeUpdate(Map("tag" -> lit("nmbs"))))))
    // hi file's keys: NMBS cond id%100==70 could match 100070 — that
    // file must be in the rewrite set; the conditional NMBS prune only
    // keeps it because the predicate's stats cannot exclude it
    val now = TxTable.read(spark, t)
    assert(now.count() == 100 + 100 - 2 /*del*/ - 1 /*nmbs del*/ + 2 /*ins*/)
    assert(now.filter(col("id").isin(10L, 20L, 60L)).count() == 0, "deletes")
    assert(now.filter(col("id") === 30L).head().getString(1) == "upd")
    assert(now.filter(col("id") === 30L).head().getLong(2) == 999L)
    assert(now.filter(col("id") === 50L).head().getString(1) == "base",
      "matched row with no applicable clause carries unchanged")
    assert(now.filter(col("id") === 70L).head().getString(1) == "nmbs")
    assert(now.filter(col("id") === 100070L).head().getString(1) == "nmbs",
      "NMBS clause reaches files outside the source key range")
    assert(now.filter(col("id") === 201L).head().getString(1) == "ins")
    assert(now.filter(col("id") === 203L).count() == 0,
      "unmatched source row failing every insert condition is ignored")
    assert(now.filter(col("id") === 71L).head().getString(1) == "base")
    assert(res.rewritten == 2, s"both files held candidate rows: $res")
  }

  test("mergeClauses: conditional-NMBS stats pruning keeps disjoint files untouched; insert-only merge rewrites nothing") {
    import spark.implicits._
    import TxTable.{InsertClause, MergeClause, MergeDelete, srcCol}
    val t = tmpTable()
    val lo = (1L to 100L).map(i => (i, "base")).toDF("id", "tag").repartition(1)
    val hi = (100001L to 100100L).map(i => (i, "base")).toDF("id", "tag")
      .repartition(1)
    TxTable.create(spark, t, lo, Seq("id"))
    TxTable.append(spark, t, hi, Seq("id"))
    val before = TxTable.manifest(t, TxTable.latestVersion(t)).files
    val hiPath = before.find(_.stats("id").minLong == 100001L).get.path
    // NMBS delete whose condition's stats exclude the hi file entirely
    val src1 = Seq((1L, "keep")).toDF("id", "tag")
    TxTable.mergeClauses(spark, t, src1, "id", Seq("id"),
      whenNotMatchedBySource = Seq(
        MergeClause(Some(col("id") >= 10L && col("id") <= 15L), MergeDelete)))
    val after1 = TxTable.manifest(t, TxTable.latestVersion(t)).files
    assert(after1.exists(_.path == hiPath),
      "stats-disjoint file must survive a CONDITIONAL NMBS clause by reference")
    assert(TxTable.read(spark, t).count() == 194)
    // insert-only merge: candidate files are probed for keys but NOT
    // rewritten — the commit adds one new file, carries everything
    val preFiles = TxTable.manifest(t, TxTable.latestVersion(t)).files
      .map(_.path).toSet
    val res = TxTable.mergeClauses(spark, t,
      Seq((200001L, "ins"), (13L, "ins")).toDF("id", "tag"), "id", Seq("id"),
      whenNotMatched = Seq(InsertClause(None)))
    assert(res.rewritten == 0, s"insert-only merge must rewrite nothing: $res")
    val after2 = TxTable.manifest(t, res.version).files
    assert(preFiles.subsetOf(after2.map(_.path).toSet))
    assert(TxTable.read(spark, t).count() == 196)
    assert(TxTable.read(spark, t).filter(col("id") === 13L).count() == 1,
      "key 13 was NMBS-deleted above, so it re-inserts as unmatched")
  }

  test("mergeClauses: hive partitions x DV'd files x CHECK constraints compose; CDF window stays pairable (r16)") {
    import spark.implicits._
    import TxTable.{InsertClause, MergeClause, MergeDelete, MergeUpdate, srcCol}
    val t = tmpTable()
    val base = (1L to 600L).map(i => (i, (i - 1) / 200 + 1, "base", i % 5))
      .toDF("id", "pt", "tag", "amt")
    TxTable.createPartitioned(spark, t, base, Seq("pt"), Seq("id"))
    TxTable.addCheckConstraint(spark, t, "amt_nonneg", "amt >= 0")
    // DV-tombstone a band so a candidate file carries a deletion vector
    TxTable.deleteWithDVWhere(spark, t, col("id").between(90L, 99L))
    val src = Seq(
      (10L, 1L, "d", "del", 0L),
      (30L, 1L, "u", "upd", 400L),
      (95L, 1L, "i", "ins", 7L), // DV-deleted key: must re-insert as unmatched
      (601L, 3L, "i", "ins", 8L))
      .toDF("id", "pt", "op", "tag", "amt")
    val res = TxTable.mergeClauses(spark, t, src, "id", Seq("id"),
      whenMatched = Seq(
        MergeClause(Some(srcCol("op") === "d"), MergeDelete),
        MergeClause(Some(srcCol("op") === "u"),
          MergeUpdate(Map("tag" -> srcCol("tag"), "amt" -> srcCol("amt"))))),
      whenNotMatched = Seq(InsertClause(Some(col("op") === "i"))))
    val now = TxTable.read(spark, t)
    assert(now.count() == 600 - 10 /*dv band*/ - 1 /*del*/ + 2 /*ins*/)
    assert(now.filter(col("id") === 95L).head().getAs[String]("tag") == "ins",
      "a DV-tombstoned key is NOT MATCHED and re-inserts")
    assert(now.filter(col("id") === 30L).head().getAs[Long]("amt") == 400L)
    val after = TxTable.manifest(t, res.version).files
    assert(after.forall(_.parts.contains("pt")), "layout preserved")
    // CDF: the clause window pairs the updated key into update images
    val feed = TxTable.tableChanges(spark, t, res.version - 1, res.version)
    val types = feed.filter(col("id") === 30L)
      .select(col("_change_type")).collect().map(_.getString(0)).sorted
    assert(types.sameElements(Array("update_postimage", "update_preimage")),
      s"merge-op stamp keeps the window pairable: ${types.mkString(",")}")
    assert(feed.filter(col("id") === 10L).select(col("_change_type"))
      .collect().map(_.getString(0)).sameElements(Array("delete")))
    // CHECK constraint gates the clause write like every other path
    val bad = Seq((40L, 1L, "u", "neg", -1L)).toDF("id", "pt", "op", "tag", "amt")
    val e = intercept[IllegalArgumentException] {
      TxTable.mergeClauses(spark, t, bad, "id", Seq("id"),
        whenMatched = Seq(MergeClause(Some(srcCol("op") === "u"),
          MergeUpdate(Map("amt" -> srcCol("amt"))))))
    }
    assert(e.getMessage.contains("amt_nonneg"))
  }

  test("mergeClauses: empty source + unconditional NMBS delete empties the table; SET on the key column refuses") {
    import spark.implicits._
    import TxTable.{MergeClause, MergeDelete, MergeUpdate}
    val t = tmpTable()
    TxTable.create(spark, t,
      (1L to 50L).map(i => (i, "x")).toDF("id", "tag"), Seq("id"))
    val empty = Seq.empty[(Long, String)].toDF("id", "tag")
    val res = TxTable.mergeClauses(spark, t, empty, "id", Seq("id"),
      whenNotMatchedBySource = Seq(MergeClause(None, MergeDelete)))
    assert(TxTable.countRows(t) == 0)
    assert(TxTable.manifest(t, res.version).files.isEmpty,
      "an all-deleted rewrite commits no files")
    intercept[IllegalArgumentException] {
      TxTable.mergeClauses(spark, t, empty, "id", Seq("id"),
        whenMatched = Seq(MergeClause(None,
          MergeUpdate(Map("id" -> lit(0L))))))
    }
  }

  test("mergeClauses NMBS split: join-free rewrite for files outside the matched candidates; target-only contract refuses source refs (r16)") {
    import spark.implicits._
    import TxTable.{MergeClause, MergeDelete, MergeUpdate, MergeUpdateAll}
    val t = tmpTable()
    // 8 key-clustered files; the source hits only the first file's
    // band, the NMBS condition hits every file
    TxTable.create(spark, t,
      (1L to 800L).map(i => (i, s"s${i % 4}", "base")).toDF("id", "seg", "tag")
        .repartitionByRange(8, col("id")), Seq("id"))
    val src = (1L to 50L).map(i => (i, "hot")).toDF("id", "tag")
    val res = TxTable.mergeClauses(spark, t, src, "id", Seq("id"),
      whenMatched = Seq(MergeClause(None, MergeUpdate(Map("tag" -> lit("hot"))))),
      whenNotMatchedBySource = Seq(MergeClause(Some(col("seg") === "s2"),
        MergeUpdate(Map("tag" -> lit("cold"))))))
    assert(res.rewritten == 8, "NMBS condition stats cannot exclude any file")
    val now = TxTable.read(spark, t)
    assert(now.filter(col("tag") === "hot").count() == 50)
    // matched rows escape the NMBS clause even where seg = s2
    assert(now.filter(col("tag") === "cold").count() ==
      (51L to 800L).count(_ % 4 == 2))
    assert(now.count() == 800)
    // the target-only NMBS contract is CHECKED, not assumed — it is
    // what makes the join-free path sound
    val e1 = intercept[IllegalArgumentException] {
      TxTable.mergeClauses(spark, t, src, "id", Seq("id"),
        whenNotMatchedBySource = Seq(MergeClause(None, MergeUpdateAll))) }
    assert(e1.getMessage.contains("no source row"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TxTable.mergeClauses(spark, t, src, "id", Seq("id"),
        whenNotMatchedBySource = Seq(MergeClause(
          Some(TxTable.srcCol("tag").isNull), MergeDelete))) }
    assert(e2.getMessage.contains("TARGET columns only"), e2.getMessage)
  }

  test("deleteKeys with partition columns in the key frame rewrites only its partition footprint (r16, VERDICT-r15 wrong #2)") {
    import spark.implicits._
    val t = tmpTable()
    // 12 partitions; keys span the WHOLE key range in every partition,
    // so key-range pruning alone cannot exclude anything
    val base = (1L to 1200L).map(i => (i, i % 12 + 1, "x"))
      .toDF("id", "pt", "pay")
    TxTable.createPartitioned(spark, t, base, Seq("pt"), Seq("id"))
    val pre = TxTable.manifest(t, 1).files
    assert(pre.map(_.parts("pt")).distinct.size == 12)
    // delete keys confined to partitions 3 and 7, carrying pt
    val keys = (1L to 1200L).filter(i => i % 12 + 1 == 3 || i % 12 + 1 == 7)
      .filter(_ % 2 == 0).map(i => (i, i % 12 + 1)).toDF("id", "pt")
    val res = TxTable.deleteKeys(spark, t, keys, "id", Seq("id"))
    val post = TxTable.manifest(t, res.version).files
    val rewritten = post.map(_.path).toSet -- pre.map(_.path).toSet
    assert(rewritten.forall(p => p.contains("pt=3") || p.contains("pt=7")),
      s"only the key frame's partitions rewrite: $rewritten")
    val carried = pre.filter(f => f.parts("pt") != "3" && f.parts("pt") != "7")
    assert(carried.forall(f => post.exists(_.path == f.path)),
      "all 10 untouched partitions carry by reference")
    assert(TxTable.read(spark, t).count() == 1200 - keys.count())
    // a bare key set (no pt column) still deletes correctly
    val res2 = TxTable.deleteKeys(spark, t,
      Seq(Tuple1(5L)).toDF("id"), "id", Seq("id"))
    assert(TxTable.read(spark, t).filter(col("id") === 5L).count() == 0)
    assert(res2.version > res.version)
  }

  test("mergeClauses differential: mixed clause set matches an independent driver-side reference (r16)") {
    import spark.implicits._
    import TxTable.{InsertClause, MergeClause, MergeDelete, MergeUpdate, srcCol}
    val t = tmpTable()
    val target = (1L to 500L).map(i => (i, "base", i % 13, i % 7))
    TxTable.create(spark, t, target.toDF("id", "tag", "amt", "grp"),
      Seq("id"))
    // source: every 3rd key up to 600 — ~2/3 matched, 1/3 not; op from
    // a fixed mix; inserts carry their own grp/amt
    val source = (3L to 600L by 3L).map { i =>
      val op = (i / 3) % 4 match {
        case 0 => "d"; case 1 => "u"; case 2 => "i"; case _ => "x"
      }
      (i, op, s"s$i", i % 11, i % 7)
    }
    TxTable.mergeClauses(spark, t,
      source.toDF("id", "op", "tag", "amt", "grp"), "id", Seq("id"),
      whenMatched = Seq(
        MergeClause(Some(srcCol("op") === "d" && col("grp") =!= 0L),
          MergeDelete),
        MergeClause(Some(srcCol("op") === "u"),
          MergeUpdate(Map("tag" -> srcCol("tag"),
            "amt" -> (col("amt") + srcCol("amt")))))),
      whenNotMatched = Seq(InsertClause(Some(col("op") === "i"))),
      whenNotMatchedBySource = Seq(
        MergeClause(Some(col("grp") === 5L),
          MergeUpdate(Map("tag" -> lit("stale")))),
        MergeClause(Some(col("amt") > 10L), MergeDelete)))
    // INDEPENDENT reference: plain Scala over the same inputs
    val srcByKey = source.map(r => r._1 -> r).toMap
    val expected = target.flatMap { case (id, tag, amt, grp) =>
      srcByKey.get(id) match {
        case Some((_, "d", _, _, _)) if grp != 0 => None // matched delete
        case Some((_, "u", sTag, sAmt, _)) =>
          Some((id, sTag, amt + sAmt, grp)) // matched update
        case Some(_) => Some((id, tag, amt, grp)) // matched, no clause
        case None if grp == 5 => Some((id, "stale", amt, grp)) // NMBS upd
        case None if amt > 10 => None // NMBS delete (second clause)
        case None => Some((id, tag, amt, grp))
      }
    } ++ source.collect { // unmatched inserts with op 'i'
      case (id, "i", sTag, sAmt, sGrp) if id > 500 => (id, sTag, sAmt, sGrp)
    }
    val got = TxTable.read(spark, t)
      .select(col("id"), col("tag"), col("amt"), col("grp"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == expected.toSet,
      s"missing=${expected.toSet -- got}, extra=${got -- expected.toSet}")
  }

  test("applyChanges r16: ONE commit per window, single feed evaluation, exactly-once replay via windowId (VERDICT-r15 #4)") {
    import spark.implicits._
    val src = tmpTable()
    val rep = tmpTable()
    val base = (1L to 40L).map(i => (i, "base", i * 1.0)).toDF("id", "tag", "v")
    TxTable.create(spark, src, base.repartitionByRange(4, col("id")), Seq("id"))
    TxTable.create(spark, rep, base.repartitionByRange(4, col("id")), Seq("id"))
    // a window mixing deletes and upserts — previously TWO commits
    TxTable.merge(spark, src,
      Seq((3L, "upd", 30.0), (41L, "ins", 41.0)).toDF("id", "tag", "v"),
      "id", Seq("id"))
    TxTable.deleteKeys(spark, src, Seq(Tuple1(9L)).toDF("id"), "id", Seq("id"))
    val toV = TxTable.latestVersion(src)
    val feed = TxTable.tableChanges(spark, src, 1, toV)
    // single-evaluation assertion: count row materializations of the
    // feed plan through an accumulator — the persisted frame must
    // evaluate each row ONCE across the whole apply
    val acc = spark.sparkContext.longAccumulator("feed_evals")
    val enc = org.apache.spark.sql.Encoders.row(feed.schema)
    val counted = feed.map { r => acc.add(1); r }(enc)
    val nFeed = feed.count()
    val repV0 = TxTable.latestVersion(rep)
    TxTable.applyChanges(spark, rep, counted, "id", Seq("id"),
      windowId = Some(toV.toLong))
    assert(TxTable.latestVersion(rep) == repV0 + 1,
      "a mixed delete+upsert window must land as ONE commit")
    assert(acc.value == nFeed,
      s"feed evaluated ${acc.value} row-passes for $nFeed rows — must persist once")
    def rows(t: String) = TxTable.read(spark, t)
      .select(col("id"), col("tag"), col("v"))
      .as[(Long, String, Double)].collect().toSet
    assert(rows(rep) == rows(src))
    // exactly-once: replaying the SAME window is a no-op — no version,
    // no divergence
    TxTable.applyChanges(spark, rep, TxTable.tableChanges(spark, src, 1, toV),
      "id", Seq("id"), windowId = Some(toV.toLong))
    assert(TxTable.latestVersion(rep) == repV0 + 1,
      "replayed window must commit nothing")
    assert(rows(rep) == rows(src))
    // a LATER window with a fresh id applies normally
    TxTable.merge(spark, src, Seq((5L, "upd2", 5.5)).toDF("id", "tag", "v"),
      "id", Seq("id"))
    val toV2 = TxTable.latestVersion(src)
    TxTable.applyChanges(spark, rep,
      TxTable.tableChanges(spark, src, toV, toV2), "id", Seq("id"),
      windowId = Some(toV2.toLong))
    assert(rows(rep) == rows(src))
    assert(TxTable.latestVersion(rep) == repV0 + 2)
  }
}
