package graft

import org.apache.spark.sql.functions._

/** Focused specs for the r17 optimization round's internal rewrites —
  * each one pins a changed operator's semantics against the formulation
  * it replaced (the optimization contract: same results, fewer passes).
  */
class OptimizationR17Spec extends SparkSpecBase {
  import spark.implicits._

  test("HashCapAgg == distinct + hash-ordered row_number window cap") {
    import org.apache.spark.sql.expressions.Window
    // duplicates, a hot key, sparse keys, and ids large enough to
    // exercise the multiply-overflow-free range the window expr used
    val rows = Seq(
      (1L, 10L), (1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (1L, 14L),
      (1L, 15L), (1L, 16L), (1L, 17L), (1L, 18L),
      (2L, 9999999L), (2L, 123456789L),
      (3L, 7L)).toDF("w", "x")
    val cap = 4
    val windowed = rows.distinct()
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("w"))
          .orderBy(expr("(x * 1103515245 + 12345) % 1000000007"), col("x"))))
      .filter(col("crk") <= cap).select(col("w"), col("x"))
      .as[(Long, Long)].collect().toSet
    val agg = rows.groupBy(col("w"))
      .agg(graft.functions.HashCapAgg.column(col("x"), cap).as("xs"))
      .select(col("w"), explode(col("xs")).as("x"))
      .as[(Long, Long)].collect().toSet
    assert(agg == windowed)
    // and the array comes back in (hash, x) ascending order — the
    // order the window ranked by
    val ordered = rows.filter(col("w") === 1L).groupBy(col("w"))
      .agg(graft.functions.HashCapAgg.column(col("x"), cap).as("xs"))
      .select(col("xs")).as[Seq[Long]].head()
    def mix(x: Long): Long = (x * 1103515245L + 12345L) % 1000000007L
    assert(ordered == ordered.sortBy(x => (mix(x), x)))
    assert(ordered.size == cap)
  }

  test("footer harvest engages on PARTITIONED slots and matches the read-back per file") {
    import graft.sources.TxTable
    val t = java.nio.file.Files.createTempDirectory("graft_footer_part").resolve("t").toString
    val df = spark.range(0, 240).toDF("id")
      .withColumn("l", col("id") * 13L - 55L)
      .withColumn("s", concat(lit("v"), lpad(col("id").cast("string"), 4, "0")))
      .withColumn("p", (col("id") % 3).cast("int"))          // int-inferred dir
      .withColumn("tag", concat(lit("t x"), (col("id") % 2))) // string dir WITH a space (escaped)
    val statsCols = Seq("l", "s", "p") // includes a partition column
    val before = TxTable.footerHarvests
    TxTable.createPartitioned(spark, t, df, Seq("p", "tag"), statsCols)
    assert(TxTable.footerHarvests == before + 1,
      "the footer fast path must engage for a partitioned slot")
    val entries = TxTable.manifest(t, 1).files
    assert(entries.nonEmpty)
    assert(entries.forall(_.parts.keySet == Set("p", "tag")))
    // independent re-derivation of what the read-back pass recorded:
    // per file, rows + cast-to-string min/max + null counts over data
    // AND inferred partition columns, plus the recorded field order
    val slotDir = entries.head.path.split('/').take(2).mkString("/") // data/<slot>
    val slot = spark.read.parquet(s"$t/$slotDir")
    val allCols = (statsCols ++ Seq("p", "tag")).distinct
    val expect = slot.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        allCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"),
          count(col(c)).as(s"cnt_$c"))): _*)
      .collect()
      .map(r => new java.net.URI(r.getAs[String]("f")).getPath -> r)
      .toMap
    assert(entries.size == expect.size)
    entries.foreach { e =>
      val abs = java.nio.file.Paths.get(t).toAbsolutePath.resolve(e.path).toString
      val r = expect(abs)
      assert(e.rows == r.getAs[Long]("rows"), s"rows of ${e.path}")
      allCols.foreach { c =>
        assert(e.stats(c).min == r.getAs[String](s"min_$c"), s"min of $c in ${e.path}")
        assert(e.stats(c).max == r.getAs[String](s"max_$c"), s"max of $c in ${e.path}")
        assert(e.nullCounts(c) == e.rows - r.getAs[Long](s"cnt_$c"), s"nulls of $c")
      }
      // partition VALUES match the inferred column contents
      assert(e.parts("p") == e.stats("p").min)
      assert(e.parts("tag") == e.stats("tag").min)
      assert(e.cols == slot.schema.fieldNames.toSeq, "read-back field order")
    }
    // mutations against the footer-harvested partitioned table stay
    // value-correct end to end (stats drive the file pruning)
    TxTable.deleteWhere(spark, t, col("l") > lit(2000L), Seq("l"))
    val survivors = TxTable.read(spark, t).agg(count(lit(1)), sum(col("l")))
      .as[(Long, Long)].head()
    val want = df.filter(!(col("l") > 2000L)).agg(count(lit(1)), sum(col("l")))
      .as[(Long, Long)].head()
    assert(survivors == want)
  }

  test("footer harvest 64-file bail engages cleanly at a larger file count") {
    import graft.sources.TxTable
    val t = java.nio.file.Files.createTempDirectory("graft_footer_many").resolve("t").toString
    val readBackBefore = TxTable.readBackHarvests
    val footerBefore = TxTable.footerHarvests
    TxTable.create(spark, t,
      spark.range(0, 650).toDF("id").repartition(65), Seq("id"))
    assert(TxTable.footerHarvests == footerBefore, "65 files must not ride the driver loop")
    assert(TxTable.readBackHarvests == readBackBefore + 1, "the distributed pass must run")
    val entries = TxTable.manifest(t, 1).files
    assert(entries.map(_.rows).sum == 650L)
  }

  test("all-deleted rewrite commits an empty slot without a pre-write probe") {
    import graft.sources.TxTable
    val t = java.nio.file.Files.createTempDirectory("graft_empty_slot").resolve("t").toString
    val df = spark.range(0, 100).toDF("id").withColumn("k", col("id") * 2L)
    TxTable.create(spark, t, df, Seq("k"))
    // every row matches: the rewrite writes an empty slot, which must
    // leave NO entries and NO dead slot directory behind
    val res = TxTable.deleteWhere(spark, t, col("k") >= lit(0L), Seq("k"))
    assert(res.rewritten > 0)
    // the commit records zero live files (reading a zero-file table is
    // a pre-existing, unrelated limitation — the manifest is the contract)
    assert(TxTable.manifest(t, TxTable.latestVersion(t)).files.isEmpty)
    val slots = java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
      .iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (slots.hasNext) names += slots.next().getFileName.toString
    assert(!names.exists(_.endsWith("-d")), s"dead slot dir left behind: $names")
    // and the emptied table keeps working (mergeSchema: a zero-file
    // snapshot declares no columns — pre-existing empty-table semantics)
    TxTable.append(spark, t, df.filter(col("id") < 5), Seq("k"),
      mergeSchema = true)
    assert(TxTable.read(spark, t).count() == 5L)
  }
}
