package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sources.TxTable

/** A crash between a mutation's data write and its version publish
  * leaves files no version references. Re-running the same call must
  * then finish the job: every write lands in a writer-unique slot, so
  * the re-run never collides with the crashed attempt's files, and
  * vacuum reclaims them. Also: a fixed-seed generated op sequence with
  * crash-and-replay checked against an in-memory model, and the CDC
  * replica re-seeding over an unpublished seed's debris.
  */
class TxCrashReplaySpec extends SparkSpecBase {

  private def tmpTable(): String =
    Files.createTempDirectory("graft_crash").resolve("t").toString

  /** (id, p, v) — the model spec's row; p is the partition column. */
  private type Row3 = (Long, Int, Long)

  /** The state a crash right before publish leaves: the latest
    * version's data files stay on disk, its log record is gone.
    * Returns the paths that version added (now orphans).
    */
  private def unpublishLatest(t: String): Set[String] = {
    val v = TxTable.latestVersion(t)
    val added = TxTable.manifest(t, v).files.map(_.path).toSet --
      TxTable.manifest(t, v - 1).files.map(_.path)
    Files.delete(Paths.get(t, "_log", f"v$v%08d.json"))
    added
  }

  /** The table's rows as a sorted multiset: a duplicate shows. */
  private def rows(t: String): Seq[(Long, String)] = {
    import spark.implicits._
    TxTable.read(spark, t).select(col("id"), col("v"))
      .as[(Long, String)].collect().toSeq.sorted
  }

  test("crash before publish: re-running the same call succeeds, lands once, and vacuum lists the orphans") {
    import spark.implicits._
    def frame(ids: Seq[Long], v: String): DataFrame = ids.map(i => (i, v)).toDF("id", "v")
    val ops: Seq[(String, String => Any)] = Seq(
      "append" -> (t => TxTable.append(spark, t, frame(21L to 25L, "app"), Seq("id"))),
      "appendBatchExactlyOnce" -> (t => TxTable.appendBatchExactlyOnce(spark, t,
        frame(30L to 32L, "b7"), 7L, Seq("id"))),
      "merge" -> (t => TxTable.merge(spark, t,
        Seq((5L, "m"), (40L, "mi")).toDF("id", "v"), "id", Seq("id"))),
      "applyChanges" -> (t => TxTable.applyChanges(spark, t,
        Seq((3L, "x", "delete"), (6L, "ch", "update_postimage"), (50L, "new", "insert"))
          .toDF("id", "v", "_change_type"), "id", Seq("id"), windowId = Some(9L))),
      "deleteWhere" -> (t => TxTable.deleteWhere(spark, t,
        col("id").between(2L, 4L), Seq("id"))),
      "updateWhere" -> (t => TxTable.updateWhere(spark, t, col("id") === 7L,
        Map("v" -> lit("u")), Seq("id"))),
      "compact" -> (t => TxTable.compact(spark, t, Seq("id"), targetFiles = 1)))
    ops.foreach { case (name, op) =>
      val t = tmpTable()
      TxTable.create(spark, t,
        frame(1L to 20L, "base").repartitionByRange(2, col("id")), Seq("id"))
      val before = rows(t)
      op(t)
      val expected = rows(t)
      assert(name == "compact" || expected != before,
        s"$name: the op must change the table")
      val orphans = unpublishLatest(t)
      assert(orphans.nonEmpty, s"$name: the crashed attempt wrote no files")
      assert(TxTable.latestVersion(t) == 1 && rows(t) == before,
        s"$name: a reader sees the prior version after the crash")
      op(t) // the re-run: a PATH_ALREADY_EXISTS here is the wedge
      assert(TxTable.latestVersion(t) == 2, name)
      assert(rows(t) == expected, s"$name: the re-run lands exactly the op, once")
      if (name == "appendBatchExactlyOnce" || name == "applyChanges") {
        op(t) // the ledger recorded the re-run: a further call is a replay
        assert(TxTable.latestVersion(t) == 2 && rows(t) == expected,
          s"$name: a replay after the re-run must be a no-op")
      }
      val (reclaim, _) = TxTable.vacuumDryRun(t, 1)
      assert(orphans.subsetOf(reclaim.toSet),
        s"$name: vacuum must list the crashed attempt's files ${orphans -- reclaim}")
    }
  }

  test("fixed-seed model check: a generated op sequence with crash-and-replay matches an in-memory model after every op") {
    import spark.implicits._
    sealed trait Op { def crash: Boolean }
    final case class Append(rs: Seq[Row3], crash: Boolean) extends Op
    final case class Merge(rs: Seq[Row3], crash: Boolean) extends Op
    final case class Delete(p: Option[Int], band: Option[(Long, Long)], crash: Boolean) extends Op
    final case class Update(lo: Long, hi: Long, delta: Long, crash: Boolean) extends Op
    final case class DvDelete(lo: Long, hi: Long, crash: Boolean) extends Op
    final case class Compact(crash: Boolean) extends Op

    val row: Gen[Row3] = for {
      id <- Gen.choose(0L, 200L); p <- Gen.choose(0, 2); v <- Gen.choose(0L, 99L)
    } yield (id, p, v)
    val band: Gen[(Long, Long)] =
      for { lo <- Gen.choose(0L, 200L); w <- Gen.choose(0L, 30L) } yield (lo, lo + w)
    val crash = Gen.frequency(3 -> false, 1 -> true)
    val op: Gen[Op] = Gen.frequency(
      3 -> Gen.zip(Gen.listOfN(4, row), crash).map { case (r, c) => Append(r, c) },
      3 -> Gen.zip(Gen.listOfN(4, row), crash).map { case (r, c) =>
        Merge(r.groupBy(_._1).map(_._2.head).toSeq, c) },
      // partition-only, band-only or mixed predicate
      3 -> Gen.zip(Gen.choose(0, 2), band, Gen.choose(0, 2), crash)
        .map { case (p, b, kind, c) =>
          Delete(Some(p).filter(_ => kind != 1), Some(b).filter(_ => kind != 0), c) },
      2 -> Gen.zip(band, Gen.choose(1L, 1000L), crash)
        .map { case ((lo, hi), d, c) => Update(lo, hi, d, c) },
      2 -> Gen.zip(band, crash).map { case ((lo, hi), c) => DvDelete(lo, hi, c) },
      1 -> crash.map(Compact(_)))
    val program = Gen.listOfN(30, op).apply(Gen.Parameters.default, Seed(20261018L)).get

    def df(rs: Seq[Row3]): DataFrame = rs.toDF("id", "p", "v")
    def inBand(id: Long, b: (Long, Long)): Boolean = id >= b._1 && id <= b._2
    val t = tmpTable()
    var model: Vector[Row3] = (0L until 60L).map(i => (i, (i % 3).toInt, i)).toVector
    TxTable.createPartitioned(spark, t, df(model), Seq("p"), Seq("id"))
    def read(): Vector[Row3] = TxTable.read(spark, t)
      .select(col("id"), col("p").cast("int"), col("v")).as[Row3].collect().toVector

    program.zipWithIndex.foreach { case (o, step) =>
      val (run, next): (() => Any, Vector[Row3]) = o match {
        case Append(rs, _) =>
          (() => TxTable.appendPartitioned(spark, t, df(rs), Seq("p"), Seq("id")),
            model ++ rs)
        case Merge(rs, _) =>
          val keys = rs.map(_._1).toSet
          (() => TxTable.merge(spark, t, df(rs), "id", Seq("id")),
            model.filterNot(r => keys(r._1)) ++ rs)
        case Delete(p, b, _) =>
          val pred: Column = (p.map(x => col("p") === x.toLong) ++
            b.map { case (lo, hi) => col("id").between(lo, hi) }).reduce(_ && _)
          (() => TxTable.deleteWhere(spark, t, pred, Seq("id")),
            model.filterNot(r => p.forall(_ == r._2) && b.forall(inBand(r._1, _))))
        case Update(lo, hi, d, _) =>
          (() => TxTable.updateWhere(spark, t, col("id").between(lo, hi),
            Map("v" -> (col("v") + d)), Seq("id")),
            model.map(r => if (inBand(r._1, (lo, hi))) (r._1, r._2, r._3 + d) else r))
        case DvDelete(lo, hi, _) =>
          (() => TxTable.deleteWithDVWhere(spark, t, col("id").between(lo, hi)),
            model.filterNot(r => inBand(r._1, (lo, hi))))
        case Compact(_) => // compactPartitioned refuses an empty table
          (() => if (model.nonEmpty)
            TxTable.compactPartitioned(spark, t, Seq("p"), Seq("id")), model)
      }
      val v0 = TxTable.latestVersion(t)
      run()
      if (o.crash && TxTable.latestVersion(t) > v0) {
        Files.delete(Paths.get(t, "_log", f"v${v0 + 1}%08d.json"))
        run()
      }
      model = next
      assert(read().sorted == model.sorted, s"step $step ($o) diverged from the model")
    }
  }

  test("CDC replica: a root holding only an unpublished seed's debris is cleaned and re-seeded") {
    import spark.implicits._
    val src = tmpTable()
    val rep = tmpTable()
    val ckpt = Files.createTempDirectory("graft_crash_ck").toString
    TxTable.create(spark, src, (1L to 30L).map(i => (i, "base")).toDF("id", "v"), Seq("id"))
    TxTable.buildBloomIndex(spark, src, "id")
    // what a seed killed mid-clone leaves: linked data and index files,
    // a temp log record, no published version
    val srcFile = TxTable.manifest(src, 1).files.head.path
    val debris = Paths.get(rep, srcFile)
    Files.createDirectories(debris.getParent)
    Files.copy(Paths.get(src, srcFile), debris)
    Files.createDirectories(Paths.get(rep, "_idx"))
    Files.createDirectories(Paths.get(rep, "_log"))
    Files.write(Paths.get(rep, "_log", ".tmp-v00000001.json-1"), Array[Byte](1, 2))
    val q = graft.streaming.EventStreams.cdcReplicaSink(
      spark, src, rep, "id", Seq("id"), ckpt)
    try {
      q.processAllAvailable()
      assert(rows(rep) == rows(src), "the re-run seeds the replica")
      TxTable.merge(spark, src, Seq((2L, "upd"), (31L, "ins")).toDF("id", "v"),
        "id", Seq("id"))
      q.processAllAvailable()
      assert(rows(rep) == rows(src), "the recovered replica follows live commits")
    } finally q.stop()
  }

  test("CDC replica: a root holding anything besides table debris still refuses, and nothing is deleted") {
    import spark.implicits._
    val src = tmpTable()
    val rep = tmpTable()
    TxTable.create(spark, src, (1L to 5L).map(i => (i, "base")).toDF("id", "v"), Seq("id"))
    Files.createDirectories(Paths.get(rep, "data"))
    Files.createDirectories(Paths.get(rep, "checkpoints"))
    Files.write(Paths.get(rep, "notes.txt"), "keep me".getBytes)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.EventStreams.cdcReplicaSink(spark, src, rep, "id",
        Seq("id"), Files.createTempDirectory("graft_crash_ck2").toString)
    }
    assert(e.getMessage.contains("checkpoints") && e.getMessage.contains("notes.txt"),
      e.getMessage)
    assert(Files.exists(Paths.get(rep, "notes.txt")) &&
      Files.isDirectory(Paths.get(rep, "checkpoints")) &&
      Files.isDirectory(Paths.get(rep, "data")))
    assert(TxTable.latestVersion(rep) == 0)
  }
}
