package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Automated physical-plan assertions (VERDICT r1 item 1): the
  * 100×-scale plan properties claimed in SURVEY §5 — pushdown, column
  * pruning, broadcast-vs-shuffle strategy, WindowGroupLimit — asserted
  * as a regression gate instead of the manual ExplainAudit run.
  *
  * Broadcast policy check: planning with autoBroadcastJoinThreshold=-1
  * distinguishes hint-forced broadcasts from AQE-decided ones. A hard
  * broadcast() hint survives the disabled threshold; a data-scaled side
  * must NOT (it would be a multi-GB driver broadcast at 100×), while
  * bounded dims (region/nation — 5/25 rows at any SF) MUST (the hint is
  * deliberate there).
  */
class PlanAuditSpec extends SparkSpecBase {

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, SfDir)

  test("q2_filter_project: filters push to the parquet scan") {
    val p = planOf(q("q2_filter_project"))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(p_size,10)"), p)
    assert(p.contains("GreaterThan(p_retailprice,950.0)"), p)
  }

  test("q2_filter_project: scan reads only the needed columns") {
    val p = planOf(q("q2_filter_project"))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(readSchema.nonEmpty, p)
    Seq("p_partkey", "p_brand", "p_retailprice", "p_size").foreach { c =>
      assert(readSchema.contains(c), s"missing $c in $readSchema")
    }
    // p_name/p_type/p_comment must be pruned away
    Seq("p_name", "p_type", "p_comment").foreach { c =>
      assert(!readSchema.contains(c), s"unpruned $c in $readSchema")
    }
  }

  test("q4_broadcast_join: bounded dims broadcast even with threshold disabled") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("q4_broadcast_join"))
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("q6_window_topn: rank filter rewrites to WindowGroupLimit") {
    val p = planOf(q("q6_window_topn"))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("etl_star_topn: rank filter rewrites to WindowGroupLimit") {
    val p = planOf(q("etl_star_topn"))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("embed_pca: projection plan is join-free and aggregation-free (axes ride as literals)") {
    val p = planOf(q("embed_pca"))
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(readSchema.contains("vec_id") && readSchema.contains("embedding"), readSchema)
  }

  test("sim_range_search: probe side broadcasts even with threshold disabled") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("sim_range_search"))
      assert(p.contains("BroadcastHashJoin"), p)
    }
  }

  test("sim_ivf_refine: cells/probes/queries broadcast; the corpus side never does") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("sim_ivf_refine"))
      // the cell table and the tiny probe/query frames are deliberate
      // hint-broadcasts (constant-bounded: IvfK cells, 8 probes); with
      // the threshold off, any OTHER broadcast would mean the N-scaled
      // candidate side is being driver-collected
      assert(p.contains("BroadcastExchange"), p)
      // stage-2 candidate rejoin must be a hash join keyed on c_id,
      // with the SHORTLIST (bounded R·Q rows) as the broadcast-able
      // side never forced — i.e. at least one non-broadcast join
      // remains for the corpus-scaled side
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    }
  }

  test("q16_subquery_avg: fact-keyed aggregate is NOT hint-broadcast") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("q16_subquery_avg"))
      assert(!p.contains("BroadcastExchange"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
    }
  }

  test("q16_subquery_avg: agg shuffle on l_partkey is reused for the join (no extra exchange)") {
    // Both join children hash-partition on l_partkey; the aggregate's
    // exchange must satisfy the join's requirement — at 100 TB a second
    // full-fact shuffle here would double the job's largest stage.
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("q16_subquery_avg"))
      val exchanges = p.linesIterator.count(l => l.contains("Exchange") && l.contains("hashpartitioning"))
      assert(exchanges <= 2, s"expected <=2 hash exchanges (one per join side), got $exchanges:\n$p")
    }
  }

  test("data-scaled join sides are AQE-decided, not hint-forced") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      for (name <- Seq("q3_join_agg", "etl_fact_build", "etl_star_revenue", "etl_star_topn")) {
        val p = planOf(q(name))
        assert(!p.contains("BroadcastHashJoin"), s"$name still hint-broadcasts a data-scaled side:\n$p")
      }
    }
  }

  test("data-scaled dims still broadcast under the default threshold at small SF") {
    // Sanity check of the other direction: removing the hints must not
    // have forced shuffles at small scale — AQE/threshold still picks
    // broadcast when the dim side genuinely fits.
    val p = planOf(q("etl_fact_build"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q33_lateral: correlated LATERAL LIMIT decorrelates to a window, not a per-row rescan") {
    val p = planOf(q("q33_lateral"))
    assert(p.contains("Window") || p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), s"lateral fell back to a cartesian rescan:\n$p")
  }

  test("q35_histogram: single aggregation with map-side partial combine") {
    val p = planOf(q("q35_histogram"))
    assert(p.contains("partial_count"), p) // map-side combine before the shuffle
    // exactly one hash shuffle (the agg); the only other exchange is the
    // final sort's range partitioning
    assert(p.sliding("hashpartitioning(".length).count(_ == "hashpartitioning(") == 1, p)
  }

  test("runtime bloom filter prunes the fact side of a selective dim-filtered shuffle join") {
    // The 100 TB scan-reduction path: when a shuffle join's build side
    // carries a selective filter, Spark injects a bloom-filter runtime
    // filter (might_contain) into the probe-side scan so most fact rows
    // die before the exchange. Threshold lowered because testdata stats
    // are far below the 10 GB production default — the assertion is
    // that OUR join shape stays eligible for the rewrite.
    import org.apache.spark.sql.functions.col
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      withConf("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0") {
        val l = spark.read.parquet(s"$SfDir/lineitem.parquet")
        val o = spark.read.parquet(s"$SfDir/orders.parquet")
          .filter(col("o_totalprice") > 400000)
        val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag")).count()
        val p = planOf(j)
        assert(p.contains("might_contain"),
          s"no runtime bloom filter injected on the probe side:\n$p")
      }
    }
  }

  test("contamination_check: eval shingle set is the broadcast build side of a semi join") {
    // the corpus-sized probe stream must never shuffle for candidate
    // generation — only the bounded eval set moves
    val p = planOf(q("contamination_check"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"eval-set semi join not broadcast:\n$p")
  }

  test("contamination_bloom: word table broadcasts scan-side; the exact verify stays a semi join") {
    // the 100 TB contract: the probe stream tests bloom membership via
    // BROADCAST joins of the <=1024-row word table (no shuffle before
    // the per-doc aggregate), and only survivors reach the semi join
    val p = planOf(q("contamination_bloom"))
    assert(p.contains("BroadcastHashJoin"),
      s"bloom word table must broadcast to the probe scan:\n$p")
    assert(p.contains("LeftSemi"),
      s"exact verification semi join missing:\n$p")
  }

  test("q68_link_pred: existing edges leave via an anti join, never a full outer") {
    val p = planOf(q("q68_link_pred"))
    assert(p.contains("LeftAnti"), s"edge removal should be an anti join:\n$p")
  }

  test("text_zipf: the vocabulary head is a distributed top-K, never a global sort or window") {
    // at 100 TB the vocabulary is huge; the fit must ride
    // TakeOrderedAndProject (per-partition heads + driver merge), not
    // a full Sort or an unpartitioned rank window over the vocab
    val p = planOf(q("text_zipf"))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab head should be a sort-limit top-K:\n$p")
  }

  test("embed_class_centroid: centroid table broadcasts back to the exploded stream") {
    val p = planOf(q("embed_class_centroid"))
    assert(p.contains("BroadcastHashJoin"),
      s"|labels|x|dims| centroid table should broadcast, not shuffle the exploded stream:\n$p")
  }

  test("dedup_semantic: the cluster-exemplar table broadcasts to the member scan") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("dedup_semantic"))
      assert(p.contains("BroadcastHashJoin"),
        s"k-row exemplar table should broadcast, never shuffle the members:\n$p")
    }
  }

  test("pipeline_dsir: the bucket-weight model broadcasts; no cartesian anywhere") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("pipeline_dsir"))
      // two deliberate broadcasts: the 1-row totals and the B-row
      // weight table — the property that makes DSIR run at corpus
      // scale (the model is constant-size whatever N is)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"constant-size model tables should broadcast:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"the 1-row totals must ride a broadcast, not a cartesian:\n$p")
    }
  }

  test("sim_graph_beam: probes broadcast; edges and candidates meet in hash equi-joins") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("sim_graph_beam"))
      assert(p.contains("BroadcastHashJoin"),
        s"the probe set should broadcast into every scoring join:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"beam expansion must stay equi-join-shaped:\n$p")
    }
  }

  test("q71_percentile_exact: every data-scaled rank window is bucket-partitioned, never the 5-value group key alone") {
    // the r12 verdict's scale-killer: a row_number window partitioned
    // by event_type funnels the corpus through 5 reducers. The bucket-
    // rank device must keep every row_number partition keyed by
    // (group, bucket); the only group-alone window (the bucket prefix
    // sum) consumes aggregate rows, not data
    val p = planOf(q("q71_percentile_exact"))
    val rankWindows = p.linesIterator
      .filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rankWindows.nonEmpty, s"no rank window found:\n$p")
    assert(rankWindows.forall(_.contains("bkt#")),
      s"a row_number window rides a low-cardinality partition:\n${rankWindows.mkString("\n")}")
  }

  test("q21_stats_agg: exact percentiles without an ImperativeAggregate value buffer") {
    // percentile()'s aggregate buffers every group's values in executor
    // memory — the bucket-rank device replaces it; correlation/stddev
    // stay single-pass mergeable states
    val p = planOf(q("q21_stats_agg"))
    assert(!p.contains("percentile("),
      s"exact percentile() aggregate back in the plan:\n$p")
    val rankWindows = p.linesIterator
      .filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rankWindows.nonEmpty && rankWindows.forall(_.contains("bkt#")),
      s"the percentile tier must ride the bucket-rank device:\n${rankWindows.mkString("\n")}")
  }

  test("q73_trimmed_mean: boundary-bucket ranking only — every row_number window is bucket-partitioned") {
    val p = planOf(q("q73_trimmed_mean"))
    val rankWindows = p.linesIterator
      .filter(_.contains("row_number() windowspecdefinition")).toSeq
    assert(rankWindows.nonEmpty, s"no rank window found:\n$p")
    assert(rankWindows.forall(_.contains("bkt#")),
      s"a row_number window rides a low-cardinality partition:\n${rankWindows.mkString("\n")}")
  }

  test("pipeline_pack: per-shard window — no single-partition exchange anywhere") {
    val p = planOf(q("pipeline_pack"))
    assert(!p.contains("Exchange SinglePartition"),
      s"packing serialized through one partition:\n$p")
    assert(p.contains("hashpartitioning(shard"), s"window not partitioned by shard:\n$p")
  }

  test("asof_join: one hash shuffle, no join operator at all (union + window)") {
    // the scale-safe as-of rewrite: both sides union and sort ONCE per
    // key — a range/theta join would explode pairs or nested-loop
    val p = planOf(q("asof_join"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"asof fell back to a pair-exploding join:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && l.contains("hashpartitioning"))
    assert(hashExchanges <= 1, s"asof should shuffle once on the key, got $hashExchanges:\n$p")
  }

  test("range_join_bucketed: interval containment runs as an equi-join, not a nested loop") {
    val p = planOf(q("range_join_bucketed"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to a nested loop:\n$p")
    assert(p.contains("Join"), p)
  }

  test("q46_topk_agg: custom aggregate partial-aggregates map-side (k longs per group on the shuffle)") {
    val p = planOf(q("q46_topk_agg"))
    assert(p.contains("partial_graft_topk"),
      s"TopKAgg not map-side combined — full rows would ride the shuffle:\n$p")
  }

  test("q55_attribution: band join is a user-key hash join, never a pair-exploding loop") {
    val p = planOf(q("q55_attribution"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"attribution band join fell back to a nested loop:\n$p")
    assert(p.contains("hashpartitioning(user_id") || p.contains("BroadcastHashJoin"),
      s"band join should equi-join on user_id:\n$p")
  }

  test("ts_cum_distinct: running sum runs over day-cardinality aggregates, not raw events") {
    // the single-partition window is fine ONLY because its input is the
    // per-day aggregate; both aggregates must sit below the window
    val p = planOf(q("ts_cum_distinct"))
    // first block of the formatted explain = the operator tree, root
    // first; the window must sit ABOVE (i.e. print before) the
    // aggregates that bound its input to day cardinality
    val tree = p.linesIterator.takeWhile(_.nonEmpty).toSeq
    val windowAt = tree.indexWhere(l => l.contains("Window"))
    val aggsBelow = tree.zipWithIndex
      .count { case (l, i) => l.contains("HashAggregate") && i > windowAt }
    assert(windowAt >= 0, s"no window in plan:\n$p")
    assert(aggsBelow >= 2,
      s"window must consume aggregated day rows (aggregates below it in the tree):\n$p")
  }

  test("sim_mips_ann: M2 and the probe set broadcast; candidates never replicate") {
    val p = planOf(q("sim_mips_ann"))
    assert(!p.contains("CartesianProduct"),
      s"MIPS augmentation must not cross-join the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"probe set / M2 should broadcast:\n$p")
  }

  test("etl_fact_build: lineitem scan prunes to the fact columns") {
    val p = planOf(q("etl_fact_build"))
    val lineitemScans = p.linesIterator.filter(l => l.contains("ReadSchema:") && l.contains("l_orderkey")).mkString
    assert(!lineitemScans.contains("l_comment") && !lineitemScans.contains("l_returnflag"), lineitemScans)
  }

  test("q52_pagerank: the pair-exploding copurchase subtree materializes once (checkpointed iteration base)") {
    // every iteration joins the symmetrized edge list; before the eager
    // localCheckpoint() the plan carried iters+1 copies of the
    // basket-pair explosion and relied on ReuseExchange to deduplicate
    // them at runtime — one nondeterministic expression away from
    // recomputing the explosion per round. The checkpoint truncates the
    // lineage, so the final plan contains NO explosion subtree at all:
    // iterations scan the materialized RDD. (persist() would also pin
    // the base but measured 2x slower — columnar encode/decode on every
    // scan; see pagerankOn's doc.) The distributed path is the one
    // that iterates over the checkpoint: threshold -1 selects it.
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = planOf(q("q52_pagerank"))
      val explosions = p.linesIterator.count(_.contains("flatten(transform(sequence"))
      assert(explosions == 0,
        s"copurchase pair explosion survived the checkpoint boundary:\n$p")
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"iterations should scan the checkpointed edge list:\n$p")
    }
    // default config: the graph fits, the rounds ran on the driver, and
    // the operator returns a LocalRelation — no explosion, no shuffle;
    // the binding adds only its output sort's range exchange on top
    val core = planOf(graft.operators.Affinity.pagerankOn(graft.operators.Affinity.copurchaseOn(
      graft.util.Tables.lineitem(spark, SfDir), "l_orderkey", "l_partkey", 2L)))
    assert(core.contains("LocalTableScan") && !core.contains("Exchange") &&
      !core.contains("flatten(transform(sequence"), s"small-graph PageRank should plan as a local scan:\n$core")
    val p = planOf(q("q52_pagerank"))
    val exchanges = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange.*"""))
    assert(!p.contains("flatten(transform(sequence") && p.contains("LocalTableScan") &&
      exchanges == 1 && p.contains("rangepartitioning(id"),
      s"q52 on the driver path should be its local scan plus the output sort:\n$p")
  }

  test("text_repetition: pure scan-side plan — no exchange at all before the output sort") {
    // a repetition signal is a function of ONE document; the operator
    // core must not shuffle (the prior form window-shuffled every token
    // of the corpus three times). The testdata binding's orderBy is the
    // only permitted exchange.
    val core = graft.operators.TextAnalysis.repetitionOn(
      graft.util.Tables.documents(spark, SfDir), "doc_id", "text")
    val p = planOf(core)
    assert(!p.contains("Exchange"), s"scan-side operator grew a shuffle:\n$p")
    assert(!p.contains("Window"), s"scan-side operator grew a window:\n$p")
  }

  test("ts_active_users: cache-pinned distinct pairs, contribution explode, no history self-join") {
    val p = planOf(q("ts_active_users"))
    // the distinct (user, day) frame feeds DAU and WAU — must come
    // from the pinned cache, not two distinct computations
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"),
      s"shared distinct frame not cache-pinned:\n$p")
    // WAU arrives by exploding the bounded 7-day contribution range,
    // never by joining each report day against 7 days of history
    assert(p.contains("Generate") || p.contains("explode"),
      s"contribution explode missing:\n$p")
  }

  test("etl_rfm: no unpartitioned window at all — quartiles are bucketed two-phase ranks") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = q("etl_rfm").queryExecution.sparkPlan
    val roots = withCachedPlans(plan)
    val unpart = roots.flatMap(_.collect { case w: WindowExec if w.partitionSpec.isEmpty => w })
    assert(unpart.isEmpty,
      s"etl_rfm regressed to a global window sort (${unpart.size} unpartitioned):\n$plan")
    // the bucket-count prefix sum ran once inside the eager checkpoint
    // (itself a PARTITIONED window over grouping id); the query plan
    // shows only the three axis rank windows, each over its bucket,
    // reading the checkpointed offset table as a concrete RDD leaf
    val part = roots.flatMap(_.collect { case w: WindowExec if w.partitionSpec.nonEmpty => w })
    assert(part.size == 3, s"expected 3 partitioned axis-rank windows, got ${part.size}:\n$plan")
    assert(plan.toString.contains("ExistingRDD"),
      s"bucket-count offsets not checkpoint-pinned (re-planned prefix-sum subtrees):\n$plan")
  }

  /** The audited plan plus every cached subtree reachable from it —
    * persist() must not hide a window from the audit.
    */
  private def withCachedPlans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val cached = p.collect { case i: InMemoryTableScanExec => i.relation.cachedPlan }
    p +: cached.flatMap(withCachedPlans)
  }

  test("unpartitioned-window audit: every driver query's unpartitioned windows are allowlisted bounded-input sites") {
    // VERDICT r6 item 2: the etl_rfm class of bug — a WindowExec with no
    // PARTITION BY moves ALL rows to one task, so it is only admissible
    // over provably bounded cardinalities. Each allowlist entry below
    // was audited by hand; any NEW unpartitioned window (or an extra one
    // in a listed query) fails this gate until audited and added.
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.SparkPlan
    val allow: Map[String, Int] = Map(
      // prefix sums over range-BUCKET counts (dimSerialOn): cardinality
      // = value-range / bucketWidth, never row count
      "etl_dim_serial"        -> 3,
      // running sums/maxes over CALENDAR-bounded aggregates (days/months)
      "ts_concurrency"        -> 1, // per-day sweep deltas
      "ts_cum_distinct"       -> 1, // per-day first-seen counts
      "q53_skyline"           -> 1, // per-month max price
      // fixed-size parameter sweeps / top-K after aggregate+limit
      "dedup_threshold_sweep" -> 1, // <=21 threshold bands
      "text_bpe_pairs"        -> 1, // top-50 pair rows post-limit
      "text_vocab_coverage"   -> 1, // rank deciles over the top-1k vocab
      "pipeline_token_budget" -> 1, // prefix sum over <=21 quality buckets
      "text_zipf"             -> 1, // rank over the top-100 vocab head (post-limit)
      // cumulative rank over disorder SECONDS: cardinality = worst
      // observed disorder in seconds, never event count
      "stream_watermark_size" -> 1)
    def unpartitioned(p: SparkPlan): Int = {
      // subqueriesAll can surface LOGICAL plans for not-yet-planned
      // subquery expressions despite its Seq[SparkPlan] signature —
      // upcast so the type test is real, and audit only the physical ones.
      // Cached subtrees (persist-pinned frames) are audited too — a
      // persist() must not hide a global window from the gate.
      val subs: Seq[Any] = p.subqueriesAll
      val roots = (p +: subs.collect { case sp: SparkPlan => sp })
        .flatMap(withCachedPlans)
      roots.map(_.collect {
        case w: WindowExec if w.partitionSpec.isEmpty           => w: SparkPlan
        case g: WindowGroupLimitExec if g.partitionSpec.isEmpty => g: SparkPlan
      }.size).sum
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = unpartitioned(fn(spark, SfDir).queryExecution.sparkPlan)
      if (n > allow.getOrElse(name, 0)) Some(s"$name: $n unpartitioned windows (allowed ${allow.getOrElse(name, 0)})")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("pipeline_reservoir: heap aggregate, not a per-stratum window sort") {
    // the point of the operator: the window form sorts every row of
    // every stratum after a full exchange; the heap form ships k-long
    // heaps through a map-side-combined ObjectHashAggregate
    val core = graft.operators.Curate.reservoirOn(
      graft.util.Tables.documents(spark, SfDir), "source", "doc_id", 20)
    val p = planOf(core)
    assert(!p.contains("Window"), s"reservoir grew a window sort:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"heap aggregate missing:\n$p")
    assert(p.toLowerCase.contains("partial_graft_topk"),
      s"map-side partial aggregation missing — heaps must combine before the shuffle:\n$p")
  }

  test("sim_filtered_ann: the attribute pre-filter pushes to the candidate parquet scan") {
    // the whole point of PRE-filtering: ineligible vectors are dropped
    // at the scan (PushedFilters), never hashed x16 or shuffled
    val p = planOf(q("sim_filtered_ann"))
    assert(p.contains("GreaterThanOrEqual(label,5)"),
      s"label filter should be a pushed parquet filter:\n$p")
  }

  test("dq_skew_profile: top-10 keys ride a distributed top-K, never a global sort") {
    val p = planOf(q("dq_skew_profile"))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 should be per-partition heads + driver merge:\n$p")
    assert(!p.contains("Window"), s"no window belongs in the skew profile:\n$p")
  }

  test("etl_late_dim: unknown keys leave via an anti join; date filters push to the scan") {
    val p = planOf(q("etl_late_dim"))
    assert(p.contains("LeftAnti"), s"unknown-key minting must be an anti join:\n$p")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate") || p.contains("LessThan(o_orderdate"),
      s"cutoff filters should reach the orders scan:\n$p")
  }

  test("text_perplexity: the documents scan reads only the consumed columns") {
    val p = planOf(q("text_perplexity"))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema:")).mkString
    assert(readSchema.contains("text") && readSchema.contains("lang"), readSchema)
    Seq("source", "n_chars").foreach { c =>
      assert(!readSchema.contains(c), s"unpruned $c in $readSchema")
    }
  }

  test("bench mode: data-scaled load-path outputs plan NO global range sort (verifySort is verify-only)") {
    // Cols.verifySort must vanish from the MEASURED plan: these
    // queries' outputs are one-row-per-entity (order/event/doc) and a
    // global orderBy there is a cluster-wide range exchange a
    // production caller never asked for. The sort exists only so the
    // verify/oracle hash sees canonical row order.
    val names = Seq("etl_clean", "etl_fact_build", "etl_fact_accumulating",
      "text_quality", "ts_ewma", "dedup_exact")
    sys.props("graft.bench.nosort") = "1"
    try names.foreach { n =>
      val p = planOf(q(n)).toLowerCase
      assert(!p.contains("rangepartitioning"),
        s"$n plans a global range sort in bench mode")
    } finally {
      sys.props -= "graft.bench.nosort"
      ()
    }
    // and the verify path KEEPS the canonical order
    val pv = planOf(q("etl_fact_accumulating")).toLowerCase
    assert(pv.contains("rangepartitioning"),
      "verify mode must keep the canonical output order")
  }
}
