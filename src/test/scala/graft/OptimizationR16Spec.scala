package graft

import org.apache.spark.sql.functions._

/** Focused specs for the r16 optimization round's internal rewrites —
  * each one pins a changed operator's semantics against the formulation
  * it replaced (the optimization contract: same results, fewer passes).
  */
class OptimizationR16Spec extends SparkSpecBase {
  import spark.implicits._

  test("diffBothWays == exceptAll pair on multisets (duplicates, nulls, both-ways rows)") {
    // duplicates: (1,a) twice on one side, once on the other (net +1);
    // (2,b) cancels exactly; (3,c) deleted twice (net -2); a NULL row
    // groups as equal (exceptAll's null semantics); (5,e) 2-vs-1.
    val added = Seq(
      (1L, "a"), (1L, "a"), (2L, "b"), (4L, null.asInstanceOf[String]),
      (5L, "e"), (5L, "e")).toDF("k", "t")
    val removed = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (3L, "c"),
      (4L, null.asInstanceOf[String]), (5L, "e")).toDF("k", "t")
    val expected = added.exceptAll(removed).withColumn("_c", lit("insert"))
      .unionByName(removed.exceptAll(added).withColumn("_c", lit("delete")))
      .as[(Long, String, String)].collect().sorted.toSeq
    val fused = graft.sources.TxTable.diffBothWays(added, removed, "_c")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(fused == expected)
    // and the multiset multiplicities are right, not just the distinct set
    assert(fused.count(_ == ((1L, "a", "insert"))) == 1)
    assert(fused.count(_ == ((3L, "c", "delete"))) == 2)
    assert(!fused.exists(_._1 == 2L), "exact cancellation emits nothing")
    assert(!fused.exists(_._1 == 4L), "null rows group as equal and cancel")
    assert(fused.count(_ == ((5L, "e", "insert"))) == 1,
      "2-vs-1 duplicates net to exactly one insert")
  }

  test("diffBothWays: empty sides degenerate to pure insert / pure delete") {
    val rows = Seq((1L, "x"), (1L, "x")).toDF("k", "t")
    val empty = rows.filter(lit(false))
    val ins = graft.sources.TxTable.diffBothWays(rows, empty, "_c")
      .as[(Long, String, String)].collect().toSeq
    assert(ins.sorted == Seq((1L, "x", "insert"), (1L, "x", "insert")))
    val del = graft.sources.TxTable.diffBothWays(empty, rows, "_c")
      .as[(Long, String, String)].collect().toSeq
    assert(del.sorted == Seq((1L, "x", "delete"), (1L, "x", "delete")))
  }

  test("footer-based stats harvest == the distributed read-back, per file, every supported type") {
    import graft.sources.TxTable
    val t = java.nio.file.Files.createTempDirectory("graft_footer").resolve("t").toString
    val df = spark.range(0, 300).toDF("id")
      .withColumn("l", col("id") * 7L - 100L)
      .withColumn("d", col("id").cast("double") / 3.0)
      .withColumn("s", concat(lit("k"), lpad(col("id").cast("string"), 5, "0")))
      .withColumn("dt", date_add(lit(java.sql.Date.valueOf("2023-11-05")), col("id").cast("int")))
      .withColumn("ts", timestamp_micros(col("id") * 86400000000L + 123456L))
      .withColumn("n", when(col("id") % 3 === 0, col("id")).otherwise(lit(null).cast("long")))
      .withColumn("an", lit(null).cast("long")) // all-null column
      .repartition(3) // multi-file slot
    val statsCols = Seq("l", "d", "s", "dt", "n", "an")
    val before = TxTable.footerHarvests
    TxTable.create(spark, t, df, statsCols)
    assert(TxTable.footerHarvests == before + 1,
      "the footer fast path must actually engage for this slot")
    val entries = TxTable.manifest(t, 1).files
    assert(entries.size == 3)
    // independent re-derivation of what the read-back pass recorded:
    // per written file, rows + cast-to-string min/max + null counts
    val slotDir = entries.head.path.split('/').take(2).mkString("/") // data/<slot>
    val slot = spark.read.parquet(s"$t/$slotDir")
    val expect = slot.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        statsCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"),
          count(col(c)).as(s"cnt_$c"))): _*)
      .collect()
      .map(r => new java.net.URI(r.getAs[String]("f")).getPath.split("/").last -> r)
      .toMap
    entries.foreach { e =>
      val name = e.path.split("/").last
      val r = expect(name)
      assert(e.rows == r.getAs[Long]("rows"), s"rows of $name")
      statsCols.foreach { c =>
        val (mn, mx) = (r.getAs[String](s"min_$c"), r.getAs[String](s"max_$c"))
        if (mn == null) assert(!e.stats.contains(c), s"all-null $c records no stat")
        else {
          // parquet normalizes zero bounds (min -0.0 / max +0.0 — a SOUND
          // widening, since Double.compare orders -0.0 < 0.0); the only
          // permitted divergence from the read-back rendering
          def eq(a: String, b: String): Boolean =
            a == b || (Set(a, b) == Set("-0.0", "0.0"))
          assert(eq(e.stats(c).min, mn), s"min of $c in $name: ${e.stats(c).min} vs $mn")
          assert(eq(e.stats(c).max, mx), s"max of $c in $name: ${e.stats(c).max} vs $mx")
        }
        assert(e.nullCounts(c) == e.rows - r.getAs[Long](s"cnt_$c"), s"nulls of $c")
      }
    }
    // mutations through the footer path stay value-correct end to end
    TxTable.deleteWhere(spark, t, col("l") > lit(1200L), Seq("l"))
    val survivors = TxTable.read(spark, t).agg(count(lit(1)), sum(col("l")))
      .as[(Long, Long)].head()
    val want = df.filter(!(col("l") > 1200L) || col("l").isNull)
      .agg(count(lit(1)), sum(col("l"))).as[(Long, Long)].head()
    assert(survivors == want)
  }

  test("footer harvest falls back on timestamp stats columns (INT96 writes carry no footer stats) and stays correct") {
    import graft.sources.TxTable
    val t = java.nio.file.Files.createTempDirectory("graft_footer_ts").resolve("t").toString
    val df = spark.range(0, 40).toDF("id")
      .withColumn("ts", timestamp_micros(col("id") * 86400000000L + 123456L))
    val footerBefore = TxTable.footerHarvests
    val rbBefore = TxTable.readBackHarvests
    TxTable.create(spark, t, df, Seq("id", "ts"))
    assert(TxTable.footerHarvests == footerBefore, "must not claim footer parity")
    assert(TxTable.readBackHarvests == rbBefore + 1, "read-back ran instead")
    val e = TxTable.manifest(t, 1).files
    assert(e.forall(_.stats.contains("ts")), "read-back records the ts stats")
  }

  test("footer harvest falls back (and stays correct) on strings at the truncation bound") {
    import graft.sources.TxTable
    val t = java.nio.file.Files.createTempDirectory("graft_footer_long").resolve("t").toString
    val df = spark.range(0, 50).toDF("id")
      .withColumn("s", concat(lit("x" * 60), col("id").cast("string"))) // ≥48 chars
    TxTable.create(spark, t, df, Seq("id", "s"))
    val e = TxTable.manifest(t, 1).files
    assert(e.nonEmpty && e.forall(_.stats.contains("s")),
      "fallback read-back still records long-string stats")
    val mn = e.map(_.stats("s").min).min
    assert(mn.startsWith("x" * 60), "stat is the exact untruncated string")
  }

  test("fanOutScan spreads an under-parallel frame and is a no-op on a parallel one") {
    val sc = spark.sparkContext
    val slim = spark.range(0, 1000).toDF("id").coalesce(1)
    val spread = graft.util.Cols.fanOutScan(slim)
    assert(spread.rdd.getNumPartitions == sc.defaultParallelism)
    // content preserved exactly (round-robin moves rows, never changes them)
    assert(spread.agg(sum(col("id")), count(lit(1))).as[(Long, Long)].head()
      == ((999L * 1000 / 2, 1000L)))
    val wide = spark.range(0, 1000).toDF("id")
      .repartition(sc.defaultParallelism + 4)
    assert(graft.util.Cols.fanOutScan(wide) eq wide,
      "an already-parallel frame passes through untouched (no added exchange)")
  }
}
