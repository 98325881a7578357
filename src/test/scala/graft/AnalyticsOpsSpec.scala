package graft

import org.apache.spark.sql.functions._
import graft.operators.{Affinity, Quality, Relational, RetailEtl, Similarity, TextAnalysis, TimeSeries, Training}

/** Value-level unit tests for the r5 batch: BPE pair counting,
  * length-bucket batching profile, 2-D skyline, and linear-interpolation
  * resampling. The DuckDB oracle covers the testdata bindings; these pin
  * the operator cores on constructed inputs where the expected output is
  * known by hand.
  */
class AnalyticsOpsSpec extends SparkSpecBase {

  test("dq_benford: digit extraction and ppm arithmetic are exact on the driver binding") {
    val rows = SparkEntry.queries("dq_benford")(spark, SfDir).collect()
    assert(rows.length == 9)
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    val nTotal = rows.map(_.getAs[Long]("n_obs")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("obs_ppm") == r.getAs[Long]("n_obs") * 1000000L / nTotal)
      assert(r.getAs[Long]("dev_ppm") ==
        math.abs(r.getAs[Long]("obs_ppm") - r.getAs[Long]("exp_ppm")))
    }
    // the Benford expectations sum to ~1e6 (floor rounding leaves 0..9 ppm slack)
    val expSum = rows.map(_.getAs[Long]("exp_ppm")).sum
    assert(expSum >= 999995L && expSum <= 1000005L, s"exp sum $expSum")
  }

  test("seasonalityOn: planted hot weekday reads above 1e6 ppm, flat series reads exactly 1e6") {
    import spark.implicits._
    // 2024-01-01 is a Monday; two weeks of daily events, Mondays 3x hot
    val rows = for (d <- 0 until 14) yield {
      val v = if (d % 7 == 0) 300.0 else 100.0 // d=0 is Monday
      (s"k", f"2024-01-${d + 1}%02d 12:00:00", v)
    }
    val e = rows.toDF("k", "s", "value")
      .select(col("k"), col("s").cast("timestamp").as("ts"), col("value"))
    val out = TimeSeries.seasonalityOn(e, "k", "ts", "value")
      .orderBy(col("iso_dow")).collect()
    assert(out.length == 7)
    val mon = out.find(_.getAs[Long]("iso_dow") == 1L).get
    // mean = (2*300 + 12*100)/14 cents-exact; Monday index = 300/mean
    // = 300*14/180 = 2333333 ppm (integer-division floor)
    assert(mon.getAs[Long]("seasonal_ppm") == 2333333L)
    assert(mon.getAs[Long]("n_events") == 2L && mon.getAs[Long]("sum_cents") == 60000L)
    // a flat series is exactly 1e6 on every weekday
    val flat = (0 until 14).map(d => ("f", f"2024-01-${d + 1}%02d 12:00:00", 50.0))
      .toDF("k", "s", "value")
      .select(col("k"), col("s").cast("timestamp").as("ts"), col("value"))
    val fo = TimeSeries.seasonalityOn(flat, "k", "ts", "value").collect()
    assert(fo.forall(_.getAs[Long]("seasonal_ppm") == 1000000L))
  }

  test("cumDistinctOn: running total equals the distinct prefix count and ends at the global distinct") {
    import spark.implicits._
    val e = Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-02 10:00:00"),
      (2L, "2024-01-02 11:00:00"), (3L, "2024-01-03 09:00:00"),
      (2L, "2024-01-03 12:00:00"))
      .toDF("user_id", "s").select(col("user_id"), col("s").cast("timestamp").as("ts"))
    val rows = TimeSeries.cumDistinctOn(e, "user_id", "ts")
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      ("2024-01-01", 1L, 1L, 1L),   // user 1 first seen
      ("2024-01-02", 2L, 1L, 2L),   // users 1,2 active; 2 is new
      ("2024-01-03", 2L, 1L, 3L)))  // users 2,3 active; 3 is new
  }

  test("attribution conserves purchase credit up to integer-division truncation") {
    val df = TimeSeries.attribution(spark, SfDir)
    val agg = df.agg(sum("credit_micro"), sum("n_touches")).head
    val credit = agg.getLong(0)
    val touches = agg.getLong(1)
    // GLOBAL distinct touched purchases, re-derived from the events —
    // summing the per-day distinct column double-counts any purchase
    // whose 30-min touch window spans midnight, which overshoots the
    // conservation bound on valid data
    val e = graft.util.Tables.events(spark, SfDir)
      .withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("click_us"))
    val nPurchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("prc_id"), col("us").as("prc_us"))
      .join(clicks, Seq("user_id"))
      .filter(col("click_us") <= col("prc_us") &&
        col("click_us") > col("prc_us") - 1800000000L)
      .agg(countDistinct(col("prc_id"))).head.getLong(0)
    assert(credit > 0, "testdata should contain attributed purchases")
    // each touched purchase emits n_touch * (1e6 div n_touch) micro-credit:
    // at most 1e6, and short by less than n_touch
    assert(credit <= 1000000L * nPurchases)
    assert(credit >= 1000000L * nPurchases - touches - nPurchases)
  }

  test("surpriseOn: constant corpus has zero surprise, rare tokens raise it") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a"), (2L, "a a a a"), (3L, "a a a zzz"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.surpriseOn(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    // 12 occurrences total: 'a' ×11 → T div c = 1 → 0 bits;
    // 'zzz' ×1 → T div c = 12 → floor(log2 12) = 3 bits, and it's a hapax
    assert(rows(0) == ((1L, 0L, 0L)))
    assert(rows(1) == ((2L, 0L, 0L)))
    assert(rows(2) == ((3L, (1000L * 3) / 4, 1L)))
  }

  test("kcorePeelOn strips pendant chains, keeps the triangle") {
    import spark.implicits._
    // triangle 1-2-3 with a pendant path 3-4-5: the 2-core is the triangle
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a_item", "b_item")
    val core = Affinity.kcorePeelOn(edges, 2, 8)
      .orderBy("item").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(core.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("kcorePeelOn reaches its fixpoint inside the round bound on testdata") {
    val r8 = Affinity.kcore(spark, SfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r12 = Affinity.kcorePeelOn(
      Affinity.copurchase(spark, SfDir), 2, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r8 == r12, "8 peel rounds must already be the fixpoint on testdata")
  }

  test("communityLpOn: planted cliques settle on their min label, bridge does not merge them") {
    import spark.implicits._
    // two K4s {1..4} and {10..13} joined by one bridge 4-10: after
    // convergence every clique member carries the clique's min label,
    // and one bridge edge must NOT merge the communities (each node has
    // 3 in-clique neighbors vs 1 bridge neighbor)
    def k4(base: Long) = for {
      i <- 0 until 4; j <- (i + 1) until 4
    } yield (base + i, base + j)
    val edges = (k4(1) ++ k4(10) :+ (4L, 10L))
      .toDF("a_item", "b_item")
    val got = Affinity.communityLpOn(edges).collect()
      .map(r => r.getAs[Long]("item") -> r.getAs[Long]("community")).toMap
    assert((1L to 4L).forall(got(_) == 1L), s"left clique: $got")
    assert((10L to 13L).forall(got(_) == 10L), s"right clique: $got")
  }

  test("communityLpOn is partition-invariant (deterministic sync ties)") {
    import spark.implicits._
    val edges = (for { i <- 1L to 30L; j <- i + 1 to math.min(i + 3, 30L) }
      yield (i, j)).toDF("a_item", "b_item")
    val a = Affinity.communityLpOn(edges.repartition(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Affinity.communityLpOn(edges.repartition(13)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "LPA labels changed under repartitioning")
  }

  test("corenessOn assigns known core numbers: triangle 2, pendant path 1, K4 3") {
    import spark.implicits._
    // K4 {10,11,12,13} bridged to triangle {1,2,3} by edge 3-10, with a
    // pendant path 3-4-5: coreness must be 3 on the K4, 2 on the
    // triangle, 1 on the path — the bridge must NOT promote either side
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), // triangle
      (3L, 4L), (4L, 5L), // pendant path
      (3L, 10L), // bridge
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L)) // K4
      .toDF("a_item", "b_item")
    val got = Affinity.corenessOn(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 1L, 5L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L)
    assert(got == want)
  }

  test("corenessOn agrees with kcorePeelOn survivors at every k on testdata") {
    // node has coreness >= k  <=>  node survives the k-core peel: the
    // h-index fixpoint and the peel loop are independent algorithms, so
    // their agreement cross-checks both (and pins that CorenessIters
    // covers the testdata graph's convergence, since the peel's own
    // fixpoint is pinned by the test above)
    val core = Affinity.coreness(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val kMax = core.values.max
    assert(kMax >= 2L, s"testdata graph unexpectedly shallow (kMax=$kMax)")
    (2L to kMax).foreach { k =>
      val peeled = Affinity.kcorePeelOn(
        Affinity.copurchase(spark, SfDir), k.toInt, 64)
        .collect().map(_.getLong(0)).toSet
      val byCoreness = core.collect { case (n, c) if c >= k => n }.toSet
      assert(peeled == byCoreness, s"k=$k: peel survivors != coreness>=k")
    }
  }

  test("rollingMedianWideOn (two-heap) matches the sorted-frame form at frames 2, 5 and 64") {
    import graft.operators.TimeSeries
    val obs = graft.util.Tables.orders(spark, SfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
    Seq(2, 5, 64).foreach { frame =>
      val sorted = TimeSeries.rollingMedianOn(
        obs, "o_custkey", "day", "o_orderkey", "o_totalprice", frame)
        .select(col("o_orderkey"), col("n_window").as("n_s"), col("med_cents").as("m_s"))
      val wide = TimeSeries.rollingMedianWideOn(
        obs, "o_custkey", "day", "o_orderkey", "o_totalprice", frame)
        .select(col("o_orderkey"), col("n_window").as("n_w"), col("med_cents").as("m_w"))
      val diff = sorted.join(wide, Seq("o_orderkey"), "full")
        .filter(col("n_s").isNull || col("n_w").isNull ||
          col("n_s") =!= col("n_w") || col("m_s") =!= col("m_w"))
        .count()
      assert(diff == 0, s"frame $frame: $diff rows disagree between two-heap and sorted-frame")
    }
  }

  test("trendOn fits the exact OLS slope in integer arithmetic") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // key 1: perfect +1.00/day line; key 2: one order (no x spread)
    val obs = Seq((1L, "2024-01-01", 1.00), (1L, "2024-01-02", 2.00),
      (1L, "2024-01-03", 3.00), (2L, "2024-05-05", 9.99))
      .toDF("k", "d", "v")
      .select(col("k"), col("d").cast("date").as("day"), col("v"))
    val rows = TimeSeries.trendOn(obs, "k", "day", "v")
      .orderBy("k").collect()
    val r1 = rows(0)
    // n=3, x=(d,d+1,d+2), y=(100,200,300): num/den reduces to 100 exactly
    assert(r1.getAs[Long]("slope_den") > 0)
    assert(r1.getAs[Long]("slope_num") == 100 * r1.getAs[Long]("slope_den"))
    assert(r1.getAs[Double]("slope_cpd") == 100.0)
    val r2 = rows(1)
    assert(r2.getAs[Long]("slope_den") == 0 && r2.isNullAt(r2.fieldIndex("slope_cpd")))
  }

  test("theilSenOn shrugs off the outlier that drags the OLS slope") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // 6 clean days on an exact +1.00/day line, then a wild 1000.00:
    // 15 clean pairwise slopes of exactly 100 c/day, 6 contaminated
    // ones all larger -> the rank-11 lower median stays 100; OLS on
    // the same series is pulled far above it. Same-day-only key 2
    // has no valid pair and must vanish.
    val obs = ((1 to 6).map(i => (1L, f"2024-01-$i%02d", i * 1.00)) :+
      ((1L, "2024-01-07", 1000.00))) ++
      Seq((2L, "2024-02-01", 5.0), (2L, "2024-02-01", 6.0))
    val df = obs.toDF("k", "d", "v")
      .select(col("k"), col("d").cast("date").as("day"), col("v"))
    val ts = TimeSeries.theilSenOn(df, "k", "day", "v").collect()
    assert(ts.length == 1, "same-day-only key must vanish")
    val r = ts.head
    assert(r.getAs[Long]("n_pairs") == 21L)
    assert(r.getAs[Double]("slope_cpd") == 100.0)
    assert(r.getAs[Long]("med_num") == 100L * r.getAs[Long]("med_den"))
    val ols = TimeSeries.trendOn(df.filter(col("k") === 1L), "k", "day", "v").head
    assert(ols.getAs[Double]("slope_cpd") > 5000.0,
      s"the outlier should drag OLS far past 100: ${ols.getAs[Double]("slope_cpd")}")
  }

  test("changepointOn finds the exact level-shift point of a step series") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // 4 days at 1.00 then 4 days at 9.00: |CUSUM| peaks at the last
    // pre-shift observation (t=4)
    val obs = (1 to 8).map(i =>
      (1L, i.toLong, f"2024-01-$i%02d", if (i <= 4) 1.00 else 9.00))
      .toDF("k", "id", "d", "v")
      .select(col("k"), col("id"), col("d").cast("date").as("day"), col("v"))
    val r = TimeSeries.changepointOn(obs, "k", "day", "id", "v").head
    assert(r.getAs[Long]("n_obs") == 8L)
    assert(r.getAs[Long]("cp_idx") == 4L)
    assert(r.getAs[java.sql.Date]("cp_day").toString == "2024-01-04")
    // C_4 = n*ps - t*S = 8*400 - 4*4000 = -12800 (cents scale)
    assert(r.getAs[Long]("cusum") == -12800L)
  }

  test("autocorrOn: linear series r=1, alternating series r=-1, constant NULL, singleton absent") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // key 1: linear ramp (consecutive pairs perfectly correlated);
    // key 2: strict alternation (perfectly anti-correlated);
    // key 3: constant (zero variance -> NULL); key 4: one obs (no pair)
    val rows =
      (1 to 6).map(i => (1L, i.toLong, f"2024-01-$i%02d", i * 1.00)) ++
      (1 to 6).map(i => (2L, i.toLong, f"2024-01-$i%02d", if (i % 2 == 0) 9.00 else 1.00)) ++
      (1 to 4).map(i => (3L, i.toLong, f"2024-01-$i%02d", 5.00)) :+
      ((4L, 1L, "2024-01-01", 7.00))
    val obs = rows.toDF("k", "id", "d", "v")
      .select(col("k"), col("id"), col("d").cast("date").as("day"), col("v"))
    val got = TimeSeries.autocorrOn(obs, "k", "day", "id", "v")
      .orderBy("k").collect()
    assert(got.length == 3, "singleton key must vanish (no pair)")
    assert(got(0).getAs[Double]("ac1") == 1.0)
    assert(got(1).getAs[Double]("ac1") == -1.0)
    assert(got(2).getAs[Long]("ac1_dena") == 0L &&
      got(2).isNullAt(got(2).fieldIndex("ac1")))
    // moments are exact: n_pairs = n-1 for each surviving key
    assert(got.map(_.getAs[Long]("n_pairs")).toSeq == Seq(5L, 5L, 3L))
  }

  test("acfOn: alternation flips sign by lag parity; lag-1 slice equals autocorrOn") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // strict alternation: odd lags perfectly anti-correlated, even lags
    // perfectly correlated — the parity signature only a multi-lag
    // profile can show
    val rows = (1 to 9).map(i =>
      (1L, i.toLong, f"2024-01-$i%02d", if (i % 2 == 0) 9.00 else 1.00))
    val obs = rows.toDF("k", "id", "d", "v")
      .select(col("k"), col("id"), col("d").cast("date").as("day"), col("v"))
    val got = TimeSeries.acfOn(obs, "k", "day", "id", "v")
      .orderBy("lag").collect()
    assert(got.map(_.getAs[Int]("lag")).toSeq == Seq(1, 2, 3, 4))
    assert(got.map(_.getAs[Double]("ac")).toSeq == Seq(-1.0, 1.0, -1.0, 1.0),
      got.mkString(";"))
    assert(got.map(_.getAs[Long]("n_pairs")).toSeq == Seq(8L, 7L, 6L, 5L))
    // the lag-1 slice is the existing operator, moment for moment
    val a1 = TimeSeries.autocorrOn(obs, "k", "day", "id", "v").head
    val l1 = got(0)
    assert(a1.getAs[Long]("ac1_num") == l1.getAs[Long]("ac_num"))
    assert(a1.getAs[Double]("ac1") == l1.getAs[Double]("ac"))
  }

  test("trend and autocorr are exactly invariant under time translation (random series)") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // n·Σ(x+c)y − Σ(x+c)Σy and n·Σ(x+c)² − (Σ(x+c))² both reduce to the
    // untranslated forms ALGEBRAICALLY, so in integer arithmetic the
    // raw num/den columns — not just the ratio — must survive a
    // 97-day shift bit-for-bit. Random series, deterministic seed.
    val rnd = new scala.util.Random(42)
    val rows = (1 to 50).flatMap { k =>
      (1 to (2 + rnd.nextInt(18))).map { i =>
        (k.toLong, i.toLong, java.sql.Date.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(300))),
          rnd.nextInt(100000) / 100.0)
      }
    }
    val obs = rows.toDF("k", "id", "day", "v")
    val shifted = obs.withColumn("day", date_add(col("day"), 97))
    def trendMap(df: org.apache.spark.sql.DataFrame) =
      TimeSeries.trendOn(df, "k", "day", "v").collect()
        .map(r => r.getAs[Long]("k") ->
          ((r.getAs[Long]("slope_num"), r.getAs[Long]("slope_den")))).toMap
    assert(trendMap(obs) == trendMap(shifted))
    def acMap(df: org.apache.spark.sql.DataFrame) =
      TimeSeries.autocorrOn(df, "k", "day", "id", "v").collect()
        .map(r => r.getAs[Long]("k") -> ((r.getAs[Long]("ac1_num"),
          r.getAs[Long]("ac1_dena"), r.getAs[Long]("ac1_denb")))).toMap
    assert(acMap(obs) == acMap(shifted))
  }

  test("reservoirOn equals the window-sort form and caps every stratum at k") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Curate
    // 3 strata of sizes 50 / 3 / 1: big stratum capped at k, sub-k ones
    // kept whole; sample identical to the explicit ORDER BY window form
    val df = ((1 to 50).map(i => (i.toLong, "big")) ++
      (51 to 53).map(i => (i.toLong, "small")) :+ ((58L, "one")))
      .toDF("doc_id", "source")
    val k = 5
    val got = Curate.reservoirOn(df, "source", "doc_id", k)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val pr = expr("((doc_id % 2147483647) * 1000003 + 12289) % 2147483647")
    val w = Window.partitionBy(col("source")).orderBy(pr.desc, col("doc_id").desc)
    val want = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.count(_._1 == "big") == k)
    assert(got.count(_._1 == "small") == 3)
    assert(got.count(_._1 == "one") == 1)
  }

  test("reservoirOn rejects ids outside the 22-bit pack range loudly") {
    import spark.implicits._
    import graft.operators.Curate
    val df = Seq((4194304L, "big_id")).toDF("doc_id", "source")
    val e = intercept[Exception] {
      Curate.reservoirOn(df, "source", "doc_id", 5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("pack range")),
      s"expected the raise_error message, got: ${messages(e)}")
  }

  test("freshnessOn flags the silent key by lag, not by any constraint") {
    import spark.implicits._
    import graft.operators.Quality
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // 'live' produced up to 12:00; 'quiet' stopped at 09:00 (3h stale);
    // every individual row is perfectly valid
    val ev = Seq(("live", t("2024-03-01 11:00:00")), ("live", t("2024-03-01 12:00:00")),
      ("quiet", t("2024-03-01 08:00:00")), ("quiet", t("2024-03-01 09:00:00")))
      .toDF("src", "ts")
    val got = Quality.freshnessOn(ev, "src", "ts", 3600L)
      .orderBy("src").collect()
    assert(got(0).getAs[Long]("lag_sec") == 0L && got(0).getAs[Int]("is_stale") == 0)
    assert(got(1).getAs[Long]("lag_sec") == 3L * 3600 && got(1).getAs[Int]("is_stale") == 1)
  }

  test("minhashEvalOn reports perfect recall/precision when LSH and exact agree") {
    import spark.implicits._
    import graft.operators.Dedup
    // two identical docs (one exact pair, found by both sides) plus
    // unrelated filler: recall and precision are both 1000000 ppm
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "red orange yellow green blue indigo violet pink"))
      .toDF("doc_id", "text")
    val r = Dedup.minhashEvalOn(docs, "doc_id", "text", 0.5).head
    assert(r.getAs[Long]("n_exact") == 1L)
    assert(r.getAs[Long]("n_hit") == 1L)
    assert(r.getAs[Long]("recall_ppm") == 1000000L)
    assert(r.getAs[Long]("precision_ppm") == 1000000L)
  }

  test("rollingMedianOn computes the exact lower median of the trailing frame") {
    import spark.implicits._
    val obs = Seq((1L, 1L, "2024-01-01", 0.10), (1L, 2L, "2024-01-02", 1.00),
      (1L, 3L, "2024-01-03", 0.20))
      .toDF("k", "id", "s", "v")
      .select(col("k"), col("id"), col("s").cast("date").as("day"), col("v"))
    val rows = TimeSeries.rollingMedianOn(obs, "k", "day", "id", "v")
      .orderBy("id").collect().map(r => (r.getAs[Long]("n_window"), r.getAs[Long]("med_cents")))
    // cents: 10, 100, 20 → frames [10], [10,100], [10,100,20]
    assert(rows.toSeq == Seq((1L, 10L), (2L, 10L), (3L, 20L)))
  }

  test("profileDriftOn emits one row per metric; drift is non-negative or null on an empty slice") {
    val rows = Quality.dqProfileDrift(spark, SfDir).collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("n_rows", "min_cents", "max_cents", "n_customers", "n_priorities"))
    rows.foreach { r =>
      // a slice with no rows has null min/max → null drift (honest, not 0)
      if (!r.isNullAt(3)) assert(r.getLong(3) >= 0L)
    }
  }

  test("dimStatsOn: constant dimension has zero variance, exact quantized mean") {
    import spark.implicits._
    // dim 0 constant 0.5 → qx = floor(1.5·2^20 + .5) for every vector;
    // dim 1 alternates ±0.5 → nonzero variance
    val vecs = Seq(
      Array(0.5f, 0.5f), Array(0.5f, -0.5f), Array(0.5f, 0.5f), Array(0.5f, -0.5f))
      .toDF("vec")
    val rows = Similarity.dimStatsOn(vecs).orderBy("d").collect()
    val q = math.floor(1.5 * 1048576.0 + 0.5).toLong
    assert(rows(0).getAs[Long]("mean_q") == q)
    assert(rows(0).getAs[Double]("var_q") == 0.0)
    assert(rows(1).getAs[Double]("var_q") > 0.0)
  }

  test("qualityMix: high tier keeps everything, low tier keeps nothing") {
    val rows = Training.qualityMix(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tier, nDocs, nKept) = (r.getString(1), r.getLong(2), r.getLong(3))
      tier match {
        case "high" => assert(nKept == nDocs, s"high tier must keep all: $r")
        case "low"  => assert(nKept == 0L, s"low tier must keep none: $r")
        case "mid"  => assert(nKept <= nDocs)
      }
    }
  }

  test("bigramSurpriseOn: deterministic continuations are free, rare ones cost bits") {
    import spark.implicits._
    // corpus bigrams: (a b)×4, (b a)×1, (b c)×1, (c a)×1.
    // contexts: a→4, b→2, c→1. bits = floor(log2(ctx // count)):
    // (a b): 4//4 → 0; (b a): 2//1 → 1; (b c): 2//1 → 1; (c a): 1//1 → 0
    val docs = Seq((1L, "a b a b"), (2L, "a b c a b")).toDF("doc_id", "text")
    val rows = TextAnalysis.bigramSurpriseOn(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc1: (a b),(b a),(a b) → bits 0,1,0 → avg = 1000/3 = 333
    assert(rows(0) == ((1L, 3L, 333L, 1L)))
    // doc2: (a b),(b c),(c a),(a b) → bits 0,1,0,0 → avg = 1000/4 = 250
    assert(rows(1) == ((2L, 4L, 250L, 1L)))
  }

  test("entryPathsOn builds ordered depth-3 paths per user") {
    import spark.implicits._
    val e = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (1L, 2L, "2024-01-01 10:01:00", "click"),
      (1L, 3L, "2024-01-01 10:02:00", "purchase"),
      (1L, 4L, "2024-01-01 10:03:00", "view"), // beyond depth — ignored
      (2L, 5L, "2024-01-01 11:00:00", "view"))
      .toDF("user_id", "event_id", "s", "event_type")
      .select(col("user_id"), col("event_id"), col("s").cast("timestamp").as("ts"), col("event_type"))
    val paths = TimeSeries.entryPathsOn(e, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(paths == Map("view>click>purchase" -> 1L, "view" -> 1L))
  }

  test("point-in-time lookup attributes every order to exactly one dimension version") {
    val attributed = RetailEtl.pitLookup(spark, SfDir)
      .agg(sum("n_orders")).head.getLong(0)
    val orders = spark.read.parquet(s"$SfDir/orders.parquet").count()
    // SCD2 versions partition each customer's timeline from their first
    // order onward, so the validity join is exactly 1:1 — duplicates or
    // drops here are the classic point-in-time bug
    assert(attributed == orders, s"attributed $attributed of $orders orders")
  }

  test("recallEval reports consistent per-probe hit ratios") {
    val rows = Similarity.recallEval(spark, SfDir).collect()
    assert(rows.length == 8, "one row per probe")
    rows.foreach { r =>
      val (nTrue, nHits, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nTrue == 5L)
      assert(nHits >= 0L && nHits <= nTrue)
      assert(ppm == (1000000L * nHits) / nTrue)
    }
  }

  test("bpePairsOn counts adjacent pairs with a deterministic tie-break") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val rows = TextAnalysis.bpePairsOn(docs, "text", k = 10)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[String]("pair"), r.getAs[Long]("n")))
    // doc1 pairs: (a b), (b a), (a b); doc2: (b a) → both count 2,
    // "a b" < "b a" so it takes rank 1
    assert(rows.toSeq == Seq((1, "a b", 2L), (2, "b a", 2L)))
  }

  test("bpePairsOn ignores docs with fewer than two tokens") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "solo"), (3L, "  ")).toDF("doc_id", "text")
    assert(TextAnalysis.bpePairsOn(docs, "text").count() == 0)
  }

  test("bpeTrainOn learns the planted merge sequence, leftmost-first on equal runs") {
    import spark.implicits._
    // round 1: "x x" (6 adjacent occurrences — pair COUNTING sees every
    // overlapping adjacency: 4 in the 5-run + 2 in the 3-run; the
    // APPLICATION is then leftmost-first non-overlapping);
    // after merging, "new york" (3) out-counts everything for round 2;
    // round 3 then merges the nested ("new york", "city") pair.
    val docs = Seq(
      (1L, "x x x x x new york city"),
      (2L, "x x x new york city"),
      (3L, "new york city tour")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainOn(docs, "text", rounds = 3).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("s1"),
        r.getAs[String]("s2"), r.getAs[Long]("n"))).toSeq
    assert(got == Seq(
      (1, "x", "x", 6L),
      (2, "new", "york", 3L),
      (3, "new york", "city", 3L)), s"merge table: $got")
    // leftmost-first application: 5 x's collapse to (x x)(x x)(x),
    // so round 2's counts see "x x"->"x x" exactly once (doc 1)
    val round2Counts = {
      val after1 = docs.select(
        graft.functions.BpeMergeApply.column(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " "), "x", "x").as("w"))
      after1.selectExpr("filter(w, s -> s = 'x x') AS xs")
        .selectExpr("size(xs) AS k").collect().map(_.getInt(0)).sorted.toSeq
    }
    assert(round2Counts == Seq(0, 1, 2), s"merged-run shapes: $round2Counts")
  }

  test("lengthBucketsOn bins to the smallest fitting power of two with exact waste") {
    import spark.implicits._
    def words(n: Int): String = Seq.fill(n)("w").mkString(" ")
    val docs = Seq((1L, words(1)), (2L, words(64)), (3L, words(65)), (4L, words(100)))
      .toDF("doc_id", "text")
    val byBucket = Training.lengthBucketsOn(docs, "text")
      .collect().map(r => r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("padded_tokens"), r.getAs[Long]("waste_ppm")))).toMap
    // bucket 64: docs of 1 and 64 tokens → sum 65, padded 128,
    // waste = floor(63e6 / 128) = 492187
    assert(byBucket(64) == ((2L, 65L, 128L, 492187L)))
    // bucket 128: docs of 65 and 100 tokens → sum 165, padded 256,
    // waste = floor(91e6 / 256) = 355468
    assert(byBucket(128) == ((2L, 165L, 256L, 355468L)))
    assert(byBucket.size == 2)
  }

  test("q53 skyline matches the brute-force dominance filter") {
    val o = SparkEntry.queries("q53_skyline")(spark, SfDir)
      .collect().map(r => (r.getAs[Long]("o_orderkey"),
        r.getAs[java.sql.Date]("d").toLocalDate, r.getAs[Long]("cents")))
    val all = graft.util.Tables.orders(spark, SfDir)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
      .collect().map(r => (r.getAs[Long]("o_orderkey"),
        r.getAs[java.sql.Date]("d").toLocalDate, r.getAs[Long]("cents")))
    val brute = all.filter { case (_, d, c) =>
      !all.exists { case (_, d2, c2) => !d2.isAfter(d) && c2 > c }
    }.sortBy(t => (t._2.toEpochDay, t._1))
    assert(o.nonEmpty && o.toSeq == brute.toSeq)
  }

  test("interpLinearOn draws exact integer lines across gaps") {
    import spark.implicits._
    val perDay = Seq(
      (1L, "2024-01-01", 100L), (1L, "2024-01-05", 500L), // even slope
      (2L, "2024-01-01", 0L), (2L, "2024-01-04", 100L)    // truncating slope
    ).toDF("user_id", "day_s", "cents")
      .select(col("user_id"), to_date(col("day_s")).as("day"), col("cents"))
    val got = TimeSeries.interpLinearOn(perDay, "user_id", "day", "cents")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("interp_cents"), r.getAs[Boolean]("is_gap")))
      .sortBy(t => (t._1, t._2))
    val expect = Seq(
      (1L, "2024-01-01", 100L, false), (1L, "2024-01-02", 200L, true),
      (1L, "2024-01-03", 300L, true), (1L, "2024-01-04", 400L, true),
      (1L, "2024-01-05", 500L, false),
      // 100/3 per day, truncated: 33, 66
      (2L, "2024-01-01", 0L, false), (2L, "2024-01-02", 33L, true),
      (2L, "2024-01-03", 66L, true), (2L, "2024-01-04", 100L, false))
    assert(got.toSeq == expect)
  }

  test("mergeIntervalsOn coalesces overlapping and touching spans, splits gaps") {
    import spark.implicits._
    val iv = Seq(
      // key 1: [1..5] ∪ [4..8] overlap; [8..9] touches (start = prior end);
      // [11..12] gaps → two spans
      (1L, 10L, "2024-01-01", "2024-01-05"),
      (1L, 11L, "2024-01-04", "2024-01-08"),
      (1L, 12L, "2024-01-08", "2024-01-09"),
      (1L, 13L, "2024-01-11", "2024-01-12"),
      // key 2: containment — [1..9] swallows [2..3]
      (2L, 20L, "2024-01-01", "2024-01-09"),
      (2L, 21L, "2024-01-02", "2024-01-03")
    ).toDF("k", "id", "s", "e")
      .select(col("k"), col("id"), to_date(col("s")).as("s"), to_date(col("e")).as("e"))
    val got = TimeSeries.mergeIntervalsOn(iv, "k", "s", "e", "id")
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[java.sql.Date]("span_start").toString,
        r.getAs[java.sql.Date]("span_end").toString, r.getAs[Long]("n_intervals")))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01", "2024-01-09", 3L),
      (1L, "2024-01-11", "2024-01-12", 1L),
      (2L, "2024-01-01", "2024-01-09", 2L)))
  }

  test("madOutliersOn flags by exact integer-cent deviation medians") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", 10.0), (2L, "a", 11.0), (3L, "a", 12.0),
      (4L, "a", 13.0), (5L, "a", 100.0), // devs {200,100,0,100,8800}, MAD 100
      // MAD-0 group: devs {0,0,50} → flag degrades to dev > 0, null score
      (6L, "b", 50.0), (7L, "b", 50.0), (8L, "b", 50.5)
    ).toDF("id", "g", "v")
    val got = graft.operators.Quality.madOutliersOn(df, "g", "v", "id", 5.0)
      .collect()
      .map(r => (r.getAs[Long]("id"), Option(r.getAs[java.lang.Double]("mad_score"))))
      .sortBy(_._1)
    assert(got.toSeq == Seq((5L, Some(88.0)), (8L, None)))
  }

  test("containmentOn finds doc-in-doc pairs that jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon"
    val long = short + " " + (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, "unrelated words only here now"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.containmentOn(docs, "doc_id", "text", 0.9)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("cont"), r.getAs[Double]("jac")))
    // doc1's 3 shingles all appear in doc2 → containment 1.0, but the
    // jaccard is 3/43 — far below any near-dup threshold
    assert(got.length == 1)
    val (a, b, cont, jac) = got.head
    assert(a == 1L && b == 2L && cont == 1.0 && jac < 0.1)
    spark.catalog.clearCache()
  }

  test("noveltyOn scores corpus-unique shingles per doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),       // shingles: abc, bcd
      (2L, "a b c x"),       // shingles: abc, bcx
      (3L, "q r s t u")      // shingles: qrs, rst, stu — all unique
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.noveltyOn(docs, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novelty")))
      .sortBy(_._1)
    // "a b c" is shared by docs 1 and 2 (df 2); the rest are df-1
    assert(got.toSeq == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 3L, 3L, 1.0)))
    spark.catalog.clearCache()
  }

  test("pqOn encodes identical subvectors identically with zero error on exact codebooks") {
    import spark.implicits._
    // 16-dim vectors, 2 subspaces of 8: every distinct subvector has a
    // dedicated centroid (≤ 16 seeds), so reconstruction is exact
    val vecs = Seq(
      (0L, Array.fill(16)(0.9f)),
      (1L, Array.fill(16)(-0.9f)),
      (2L, Array.tabulate(16)(i => if (i < 8) 0.9f else -0.9f)),
      (3L, Array.tabulate(16)(i => if (i < 8) -0.9f else 0.9f)),
      (4L, Array.fill(16)(0.9f)) // duplicate of 0
    ).toDF("id", "vec")
    val got = graft.operators.Similarity.pqOn(vecs, subDim = 8)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("pq_code"), r.getAs[Long]("dist2_total")))).toMap
    assert(got.size == 5)
    assert(got.values.forall(_._2 == 0L), s"nonzero reconstruction error: $got")
    assert(got(4L)._1 == got(0L)._1) // identical vectors → identical code
    assert(got(1L)._1 != got(0L)._1) // distinct vectors → distinct codes here
    spark.catalog.clearCache()
  }

  test("pqAdcOn ranks an identical vector at ADC distance zero") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array.fill(16)(0.9f)),
      (1L, Array.fill(16)(-0.9f)),
      (2L, Array.tabulate(16)(i => if (i < 8) 0.9f else -0.9f)),
      (3L, Array.tabulate(16)(i => if (i < 8) -0.9f else 0.9f)),
      (4L, Array.fill(16)(0.9f)) // duplicate of 0
    ).toDF("id", "vec")
    val rows = graft.operators.Similarity.pqAdcOn(vecs, probeMaxId = 1, subDim = 8)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("adc_dist2"), r.getAs[Int]("rk")))
    // probe 0's nearest database vector is its duplicate (id 4) at ADC 0
    assert(rows.head == ((0L, 4L, 0L, 1)))
    assert(rows.forall { case (_, v, _, _) => v != 0L }) // self excluded
    spark.catalog.clearCache()
  }

  test("epochOrderOn deals every doc once per epoch with contiguous shard positions") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val rows = graft.operators.Training.epochOrderOn(docs, "doc_id", epochs = 2, shards = 4)
      .collect().map(r => (r.getAs[Int]("epoch"), r.getAs[Int]("shard"),
        r.getAs[Int]("pos"), r.getAs[Long]("doc_id")))
    // each epoch is a full permutation of the corpus
    (0 to 1).foreach { e =>
      val ep = rows.filter(_._1 == e)
      assert(ep.map(_._4).sorted.toSeq == (0L until 50L))
      // positions are contiguous 1..n within each shard
      ep.groupBy(_._2).foreach { case (_, xs) =>
        assert(xs.map(_._3).sorted.toSeq == (1 to xs.length))
      }
    }
    // the two epochs order the corpus differently
    val o0 = rows.filter(_._1 == 0).sortBy(t => (t._2, t._3)).map(_._4).toSeq
    val o1 = rows.filter(_._1 == 1).sortBy(t => (t._2, t._3)).map(_._4).toSeq
    assert(o0 != o1)
  }

  test("levRerankOn picks the edit-distance-closest candidate, not the jaccard winner") {
    import spark.implicits._
    val baseText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, baseText),                          // left
      (1L, baseText),                          // exact copy → lev 0
      (3L, baseText + " extra trailing words") // still a candidate, lev > 0
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.levRerankOn(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", 0.2)
      .collect().map(r => (r.getAs[Long]("l_id"), r.getAs[Long]("r_id"),
        r.getAs[Int]("lev")))
    assert(got.toSeq == Seq((0L, 1L, 0)))
    spark.catalog.clearCache()
  }

  test("mixTempOn upweights small sources by exact integer sqrt-quantized targets") {
    import spark.implicits._
    import graft.operators.Training
    // sources sized 100 / 25 / 1, budget 10. q = floor(sqrt(n)*2^20) =
    // (10485760, 5242880, 1048576), sum 16777216; targets (10*q) div sum
    // = (6, 3, 0). Proportional mixing would give (7, 1, 0) — the √
    // temperature hands the small source 3x its proportional share.
    val docs = ((1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 125).map(i => (i.toLong, "mid")) :+ ((126L, "tiny")))
      .toDF("doc_id", "source")
    val got = Training.mixTempOn(docs, "doc_id", "source", 10L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("big", 100L, 6L, 6L), ("mid", 25L, 3L, 3L), ("tiny", 1L, 0L, 0L)))
  }

  test("activeUsersOn: WAU counts a user once across multiple active days in the window") {
    import spark.implicits._
    import graft.operators.TimeSeries
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1 active on days 0 and 2 (twice on day 0); user 2 on day 2;
    // user 3 only on day 9 — outside day 2's window, inside day 9's
    val ev = Seq(
      (1L, t("2024-03-01 10:00:00")), (1L, t("2024-03-01 11:00:00")),
      (1L, t("2024-03-03 10:00:00")), (2L, t("2024-03-03 12:00:00")),
      (3L, t("2024-03-10 09:00:00")))
      .toDF("user_id", "ts")
    val got = TimeSeries.activeUsersOn(ev, "user_id", "ts")
      .orderBy("day_ord").collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("dau"), r.getAs[Long]("wau")))
    assert(got.toSeq == Seq(
      ("2024-03-01", 1L, 1L),   // day 0: user 1 (deduped same-day)
      ("2024-03-03", 2L, 2L),   // day 2: users 1,2; WAU window covers day 0 but user 1 counts ONCE
      ("2024-03-10", 1L, 1L)))  // day 9: only user 3 in [3..9]
  }

  test("trianglesOn lists each K4 triangle once, id-canonical, pendant-blind") {
    import spark.implicits._
    import graft.operators.Affinity
    // K4 on {1,2,3,4} (4 triangles) plus pendant edge 4-9 (no new ones)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 9L))
      .toDF("a_item", "b_item")
    val got = Affinity.trianglesOn(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("degree orientation bounds out-degree on a planted hub star (id-order would fan deg² wedges)") {
    import spark.implicits._
    import graft.operators.Affinity
    // hub id 0 with 5000 leaves: id-ordering points ALL edges out of
    // the hub (C(5000,2) ≈ 1.2e7 wedges on one key); degree-ordering
    // points every edge INTO the hub, so no wedge forms at all
    val hubDeg = 5000
    val edges = (1 to hubDeg).map(i => (0L, i.toLong)).toDF("a_item", "b_item")
    val maxOut = Affinity.orientedEdges(edges)
      .groupBy(col("s")).agg(count(lit(1)).as("outdeg"))
      .agg(max(col("outdeg"))).head.getLong(0)
    assert(maxOut == 1L, s"hub fan-out survived orientation: max outdeg $maxOut")
    assert(Affinity.trianglesOn(edges).count() == 0L)
  }

  test("pagerankOn / pprOn: the driver and distributed paths return identical typed rows") {
    import spark.implicits._
    def both(edges: org.apache.spark.sql.DataFrame): Unit =
      Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        Affinity.pagerankOn(_), Affinity.pprOn(_)).foreach { op =>
        val (local, dist) = onBothPaths {
          val out = op(edges)
          (out.schema.map(f => (f.name, f.dataType)), out.collect().map(_.toSeq).toSet)
        }
        assert(local == dist, s"driver ${local} vs distributed ${dist}")
      }
    both(Affinity.copurchase(spark, SfDir))
    // INT ids, negative ids, a degree tie for the last seed slot
    both(Seq((-3, 1), (1, 2), (2, -3), (2, 7), (-8, 7)).toDF("a_item", "b_item"))
    both(Seq.empty[(Long, Long)].toDF("a_item", "b_item"))
  }

  test("khopOn / bipartiteProjectOn / linkPredOn take INT and negative ids, keep their type, match BIGINT") {
    import spark.implicits._
    // the INT/negative-id graph of the pagerank case above: the hub caps
    // (HashCapAgg) read it widened to BIGINT, in the BIGINT order
    val intEdges = Seq((-3, 1), (1, 2), (2, -3), (2, 7), (-8, 7)).toDF("a_item", "b_item")
    val longEdges = intEdges.select(col("a_item").cast("long"), col("b_item").cast("long"))
    val ops = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        Seq[String])](
      ("khopOn", Affinity.khopOn(_), Seq("id")),
      ("bipartiteProjectOn",
        Affinity.bipartiteProjectOn(_, "a_item", "b_item", minShared = 1L), Seq("a_right", "b_right")),
      ("linkPredOn", e => Affinity.linkPredOn(
        e.select(col("a_item").as("a"), col("b_item").as("b")), minCommon = 1L), Seq("u", "w")))
    ops.foreach { case (name, op, idCols) =>
      val onInt = op(intEdges)
      idCols.foreach(c => assert(onInt.schema(c).dataType.typeName == "integer", s"$name: ${onInt.schema}"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(df.columns.map(c => col(c).cast("long")): _*).collect().map(_.toSeq).toSet
      val got = rows(onInt)
      assert(got.nonEmpty && got == rows(op(longEdges)), s"$name: INT $got vs BIGINT ${rows(op(longEdges))}")
    }
  }

  test("pagerankOn on the driver: the job count does not grow with the round count") {
    val edges = Affinity.copurchase(spark, SfDir)
    def jobs(iters: Int): Int = jobsOf(Affinity.pagerankOn(edges, iters).collect())._2
    // each distributed round is a join + a sum shuffle (Spark stages);
    // rounds over a collected edge list run none
    assert(jobs(1) == jobs(5))
    // the gate reads a multi-partition checkpoint in one job
    val pinned = edges.repartition(4).localCheckpoint()
    val (rows, reads) = jobsOf(graft.util.Local.collectIfFits(pinned))
    assert(reads == 1)
    assert(rows.map(_.length.toLong).contains(pinned.count()))
  }

  test("Local.collectIfFits: a skewed frame that fits is read whole, one row past the budget is None") {
    // 100 (u, v) rows: 24-byte UnsafeRows (null bits + two longs)
    withConf("spark.sql.autoBroadcastJoinThreshold", "2400") {
      def oneOfFour(n: Int) = spark.range(n).select(col("id").as("u"), col("id").as("v"))
        .repartition(4, lit(0)).localCheckpoint()
      val (skewed, budget, over) = (oneOfFour(60), oneOfFour(100), oneOfFour(101))
      // 60 rows in one partition exceed its 600-byte share: a second, whole read
      val (rows, reads) = jobsOf(graft.util.Local.collectIfFits(skewed))
      assert(rows.map(_.map(_.getLong(0)).sorted.toSeq).contains(0L until 60L) && reads == 2)
      assert(graft.util.Local.collectIfFits(budget).map(_.length).contains(100))
      assert(graft.util.Local.collectIfFits(over).isEmpty)
    }
  }

  test("Local.collectIfFits budgets bytes: 64-float vectors the row rule admitted are None") {
    // 200 (id, array<float>[64]) rows: Spark's defaultSize counts 12
    // bytes a row (2400 in all), the UnsafeRows hold 296 each (59200)
    val vectors = spark.range(200)
      .select(col("id"), array((0 until 64).map(d => (col("id") + d).cast("float")): _*).as("v"))
      .localCheckpoint()
    assert(200L * vectors.schema.defaultSize <= 10000L)
    withConf("spark.sql.autoBroadcastJoinThreshold", "10000") {
      assert(graft.util.Local.collectIfFits(vectors).isEmpty)
    }
    withConf("spark.sql.autoBroadcastJoinThreshold", "59200") {
      assert(graft.util.Local.collectIfFits(vectors).map(_.length).contains(200))
    }
  }

  test("khopOn counts 1-hop and 2-hop reach on a path graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_item", "b_item")
    val got = graft.operators.Affinity.khopOn(edges)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_1hop"), r.getAs[Long]("n_reach2")))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 2L), (2L, 2L, 3L), (3L, 2L, 3L), (4L, 1L, 2L)))
  }

  test("bfsOn assigns min hop distances from multiple seeds and stops at the round bound") {
    import spark.implicits._
    // two chains meeting: seeds 1 and 10; node 4 is 3 hops from seed 1
    // but only reached if rounds allow; 20 is isolated from the seeds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 4L), (20L, 21L))
      .toDF("a_item", "b_item")
    val seeds = Seq(1L, 10L).toDF("id")
    val got = Affinity.bfsOn(edges, seeds, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // 4 is 2 hops via 10→11→4, not 3 via the other chain (min-dist)
    assert(got.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 2L),
      (10L, 0L), (11L, 1L)), s"got ${got.toSeq}")
    // bound respected: rounds=1 reaches only direct neighbors
    val one = Affinity.bfsOn(edges, seeds, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(one.toSeq == Seq((1L, 0L), (2L, 1L), (10L, 0L), (11L, 1L)))
  }

  test("ssspOn: strong-tie 2-hop path undercuts a weak direct edge; matches driver-side Dijkstra") {
    import spark.implicits._
    // planted: direct 1–3 weak (w 500); 1–2 and 2–3 strong (w 100 each)
    // — weighted distance to 3 must be 200, where hop-BFS would say 1
    val edges = Seq((1L, 3L, 500L), (1L, 2L, 100L), (2L, 3L, 100L), (3L, 4L, 250L))
      .toDF("a_item", "b_item", "w")
    val got = Affinity.ssspOn(edges, Seq(1L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 100L, 3L -> 200L, 4L -> 450L), s"got $got")
    // independent-algorithm convergence check (the unrolled oracle runs
    // the SAME k rounds, so oracle-green alone cannot prove the bound
    // suffices): classic Dijkstra over the collected testdata graph
    // must agree exactly with the bounded delta iteration
    val g = Affinity.copurchase(spark, SfDir)
      .selectExpr("a_item", "b_item", "CAST(1000 div n_baskets AS LONG) AS w")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = (g.map(e => (e._1, (e._2, e._3))) ++ g.map(e => (e._2, (e._1, e._3))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seeds = adj.keys.filter(_ % 97 == 0).toSeq
    val dij = scala.collection.mutable.Map[Long, Long](seeds.map(_ -> 0L): _*)
    val pq = scala.collection.mutable.PriorityQueue[(Long, Long)](
      seeds.map(s => (0L, s)): _*)(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (dij(u) == d) adj.getOrElse(u, Array.empty[(Long, Long)]).foreach { case (v, w) =>
        if (dij.get(v).forall(_ > d + w)) { dij(v) = d + w; pq.enqueue((d + w, v)) }
      }
    }
    val sssp = Affinity.sssp(spark, SfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sssp == dij.toMap,
      s"bounded delta iteration diverged from Dijkstra on ${
        (sssp.toSet diff dij.toSet).take(3)} / ${(dij.toSet diff sssp.toSet).take(3)}")
  }

  test("gopherRulesOn flags each rule independently with exact integer metrics") {
    import spark.implicits._
    // 55 distinct words + 5 stopwords: 60 words, top-word 1/60, mwl ~5.5
    val good = (1 to 55).map(i => s"word$i").mkString(" ") + " the a is of to"
    val shortDoc = "the tiny a doc"                       // fails word count
    val repeated = ("spam " * 60).trim + " the a end"     // fails top-word 10%
    val noStops = (1 to 60).map(i => s"tok$i").mkString(" ") // fails stopword rule
    val df = Seq((1L, good), (2L, shortDoc), (3L, repeated), (4L, noStops))
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRulesOn(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Int]("pass") == 1, s"good doc failed: ${got(1L)}")
    assert(got(2L).getAs[Int]("r_words") == 0 && got(2L).getAs[Int]("pass") == 0)
    assert(got(3L).getAs[Int]("r_rep") == 0, s"repetition not flagged: ${got(3L)}")
    assert(got(4L).getAs[Int]("r_stop") == 0, s"stopword rule not flagged: ${got(4L)}")
    // exact metric check on the short doc: 4 words, 11 non-ws chars
    assert(got(2L).getAs[Int]("n_words") == 4)
    assert(got(2L).getAs[Long]("mwl_milli") == (1000L * 11) / 4)
  }

  test("entropyOn: exact fixed-point entropy — uniform doc hits log2(k)·2^12, constant doc hits 0") {
    import spark.implicits._
    val docs = Seq(
      // 8 distinct tokens x2 each: H = log2(16) - (16·log2(2))/16 = 3 bits exactly
      (1L, (0 until 8).flatMap(i => Seq(s"t$i", s"t$i")).mkString(" ")),
      (2L, "x x x x x x x x"),          // one token: H = 0
      (3L, "a b c d")                   // uniform singletons: H = log2(4) = 2 bits
    ).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.entropyOn(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_distinct"),
          x.getAs[Long]("entropy_fp"))).toMap
    val fp = 1L << graft.operators.TextAnalysis.EntF
    assert(r(1L) == ((16L, 8L, 3 * fp)), r(1L).toString)
    assert(r(2L) == ((8L, 1L, 0L)), r(2L).toString)
    assert(r(3L) == ((4L, 4L, 2 * fp)), r(3L).toString)
    // bound: H never exceeds log2(n_distinct) (+1 fixed-point ulp slack
    // for the truncating division)
    graft.operators.TextAnalysis.entropy(spark, SfDir).collect().foreach { row =>
      val h = row.getAs[Long]("entropy_fp").toDouble / fp
      val k = row.getAs[Long]("n_distinct").toDouble
      assert(h <= math.log(k) / math.log(2) + 1.0 / fp && h >= 0.0,
        s"doc ${row.getAs[Long]("doc_id")}: H=$h bits over log2($k)")
    }
  }

  test("q67 decomposition equals Spark's own correlated EXISTS SQL on random lineitems") {
    import spark.implicits._
    // the oracle proves the rewrite against DuckDB; this proves it
    // against Spark's OWN subquery planner on adversarial random data
    // (shared faults, sole suppliers, clean orders all arise)
    val rnd = new scala.util.Random(42)
    val li = (1 to 3000).map { _ =>
      (rnd.nextInt(300).toLong + 1, rnd.nextInt(20).toLong + 1,
        if (rnd.nextInt(4) == 0) "R" else "N")
    }.toDF("l_orderkey", "l_suppkey", "l_returnflag")
    li.createOrReplaceTempView("li_rand")
    val viaExists = spark.sql(
      """WITH blamed AS (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey FROM li_rand l1
        |  WHERE l1.l_returnflag = 'R'
        |   AND EXISTS (SELECT 1 FROM li_rand l2
        |               WHERE l2.l_orderkey = l1.l_orderkey
        |                 AND l2.l_suppkey <> l1.l_suppkey)
        |   AND NOT EXISTS (SELECT 1 FROM li_rand l3
        |                   WHERE l3.l_orderkey = l1.l_orderkey
        |                     AND l3.l_suppkey <> l1.l_suppkey
        |                     AND l3.l_returnflag = 'R'))
        |SELECT l_suppkey, count(*) AS n FROM blamed GROUP BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = li.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("fault"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("fault")).as("n_fault"),
        max(when(col("fault") === 1, col("l_suppkey"))).as("fault_supp"))
      .filter(col("n_supp") >= 2 && col("n_fault") === 1)
      .groupBy(col("fault_supp")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaExists,
      s"decomposition diverges: only-agg=${viaAgg.toSet.diff(viaExists.toSet)} only-exists=${viaExists.toSet.diff(viaAgg.toSet)}")
    assert(viaExists.nonEmpty, "degenerate random draw — no blamed orders at all")
  }

  test("q67 sole-blame semantics: only the unique at-fault supplier of a multi-supplier order is blamed") {
    import spark.implicits._
    // order 100: supp 1 returned, supp 2 clean  -> blame supp 1
    // order 200: supp 1 and supp 3 both returned -> shared fault, nobody
    // order 300: supp 3 returned, sole supplier  -> no co-supplier, nobody
    // order 400: nothing returned                -> nobody
    val li = Seq(
      (100L, 1L, "R"), (100L, 2L, "N"),
      (200L, 1L, "R"), (200L, 3L, "R"),
      (300L, 3L, "R"),
      (400L, 2L, "N"), (400L, 3L, "N"))
      .toDF("l_orderkey", "l_suppkey", "l_returnflag")
    // run the aggregate decomposition directly on the planted frame
    val per = li.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("l_returnflag") === "R", col("l_suppkey"))).as("n_fault"),
        max(when(col("l_returnflag") === "R", col("l_suppkey"))).as("fault_supp"))
    val blamed = per.filter(col("n_supp") >= 2 && col("n_fault") === 1)
      .groupBy(col("fault_supp").as("l_suppkey")).agg(count(lit(1)).as("n_orders"))
      .collect().map(r => r.getAs[Long]("l_suppkey") -> r.getAs[Long]("n_orders")).toMap
    assert(blamed == Map(1L -> 1L), blamed.toString)
  }

  test("volumeAnomalyOn: a halved day flags, steady volume doesn't, warmup days stay NULL") {
    import spark.implicits._
    // key 'a': 100 events/day for 7 days, then a day at 40 (a silent
    // 60% drop -> 400000 ppm < the 500000 floor)
    def day(d: Int, n: Int, k: String) = (0 until n).map(i =>
      (k, java.sql.Timestamp.valueOf(f"2024-03-${d}%02d 10:00:${i % 60}%02d.${i}%06d")))
    val ev = ((1 to 7).flatMap(day(_, 100, "a")) ++ day(8, 40, "a")).toDF("event_type", "ts")
    val r = graft.operators.Quality.volumeAnomalyOn(ev, "event_type", "ts")
      .orderBy("day_ord").collect()
    assert(r.length == 8)
    // days 1-3 are warmup (0..2 prior days): NULL verdicts
    (0 until 3).foreach(i => assert(r(i).isNullAt(r(i).fieldIndex("flag")), r(i).toString))
    // steady days read exactly 1000000 ppm, no flag
    (3 until 7).foreach { i =>
      assert(r(i).getAs[Long]("vol_ppm") == 1000000L && r(i).getAs[Int]("flag") == 0, r(i).toString)
    }
    // the drop day: 40 vs trailing mean 100 -> 400000 ppm, flagged
    assert(r(7).getAs[Long]("vol_ppm") == 400000L && r(7).getAs[Int]("flag") == 1, r(7).toString)
  }

  test("compressRatioOn: repetition compresses far below high-entropy text; deterministic; empty-safe") {
    import spark.implicits._
    // a hash-derived hex stream approximates incompressible text;
    // pure repetition approaches the deflate floor
    val noisy = (0 until 200).map(i =>
      java.lang.Long.toHexString((i.toLong * 0x9e3779b97f4a7c15L) ^ (i.toLong << 21)))
      .mkString(" ")
    val docs = Seq(
      (1L, "spam " * 400),
      (2L, noisy),
      (3L, "")).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis.compressRatioOn(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("raw_len"), x.getAs[Long]("ratio_milli"))).toMap
    assert(r(1L)._2 < 100, s"repetition should compress below 10%: ${r(1L)}")
    assert(r(2L)._2 > 400, s"high-entropy text should resist compression: ${r(2L)}")
    assert(r(3L) == ((0L, 0L)), "empty doc: zero lengths, no division")
    // determinism: bit-identical on a second pass
    val again = graft.operators.TextAnalysis.compressRatioOn(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("deflated_len")).toMap
    val first = graft.operators.TextAnalysis.compressRatioOn(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("deflated_len")).toMap
    assert(again == first)
  }

  test("zipfOn: an exact power-law head fits slope -1; uniform counts fit slope 0") {
    import spark.implicits._
    // counts 64 and 32 at ranks 1 and 2: log-log points (0, 6·2^12)
    // and (1·2^12, 5·2^12) — all powers of two, so the fixed-point
    // chain is exact end to end and the slope is exactly -1
    val two = Seq.fill(64)("a") ++ Seq.fill(32)("b")
    val r2 = graft.operators.TextAnalysis.zipfOn(
      Seq(two.mkString(" ")).toDF("text"), "text").head
    assert(r2.getAs[Long]("n_fit") == 2L)
    assert(r2.getAs[Double]("zipf_slope") == -1.0, r2.toString)
    // uniform counts: slope exactly 0
    val flat = Seq.fill(4)(Seq("p", "q", "r", "s")).flatten
    val rf = graft.operators.TextAnalysis.zipfOn(
      Seq(flat.mkString(" ")).toDF("text"), "text").head
    assert(rf.getAs[Double]("zipf_slope") == 0.0, rf.toString)
    // degenerate single-token vocab: explicit NULL
    val one = graft.operators.TextAnalysis.zipfOn(
      Seq("x x x").toDF("text"), "text").head
    assert(one.isNullAt(one.fieldIndex("zipf_slope")), one.toString)
  }

  test("assortativityOn: star graph is perfectly disassortative (r = -1), uniform cycle undefined-degenerate") {
    import spark.implicits._
    // star: center 0 with leaves 1..5 — every edge joins deg 5 to deg 1,
    // the textbook r = -1 case
    val star = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    val rs = graft.operators.Affinity.assortativityOn(star).head
    assert(rs.getAs[Long]("m_ends") == 10L)
    assert(rs.getAs[Double]("assortativity_r") == -1.0, rs.toString)
    // two disjoint edges: all degrees 1, zero variance — the
    // correlation is undefined and the report says so with an explicit
    // NULL (ANSI division would throw; a NaN would hash-diverge)
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val rp = graft.operators.Affinity.assortativityOn(pairs).head
    assert(rp.getAs[Long]("m_ends") == 4L)
    assert(rp.isNullAt(rp.fieldIndex("assortativity_r")), rp.toString)
  }

  test("linkPredOn predicts exactly the square's diagonals, never existing edges") {
    import spark.implicits._
    // 4-cycle 1-2-3-4-1: the only distance-2 pairs are the diagonals
    // (1,3) and (2,4), each with two common neighbors and full Jaccard
    // overlap (deg 2 everywhere: 2/(2+2-2) = 1)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val r = graft.operators.Affinity.linkPredOn(edges).collect()
      .map(x => (x.getAs[Long]("u"), x.getAs[Long]("w")) ->
        (x.getAs[Long]("cn"), x.getAs[Long]("jacc_milli"))).toMap
    assert(r.keySet == Set((1L, 3L), (2L, 4L)), r.toString)
    assert(r.values.forall(_ == (2L, 1000L)), r.toString)
    // adding the diagonal removes it from predictions (anti-join)
    val withDiag = edges.union(Seq((1L, 3L)).toDF("a", "b"))
    val r2 = graft.operators.Affinity.linkPredOn(withDiag).collect()
      .map(x => (x.getAs[Long]("u"), x.getAs[Long]("w"))).toSet
    assert(!r2.contains((1L, 3L)), s"existing edge predicted: $r2")
  }
}
