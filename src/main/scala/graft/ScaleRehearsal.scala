package graft

import org.apache.spark.sql.functions._

import graft.util.Session

/** Scale rehearsal main: the library's two candidate-generation
  * stacks at 10-100× the ScaleSmokeSpec sizes — the dry run for the
  * 100 TB posture that a unit-test wall-clock budget can't host. Run
  * by hand (not part of `sbt test`):
  *
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.ScaleRehearsal 2000000'
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.ScaleRehearsal ann 500000'
  *
  * Every mode but `catalog` (fixed at 4 cores) runs in the harness
  * session ([[graft.util.Session.local]]) on SPARK_GRAFT_CPUS cores,
  * 4 when unset, like Bench and Verify; the rehearsal sizes assume 32.
  *
  * All inputs are generated ON THE EXECUTORS (spark.range +
  * hash-derived values — a driver-side Seq would serialize hundreds
  * of MB through the driver, the exact anti-pattern the operators
  * avoid).
  *
  * Dedup mode: minhash→cluster→keep-best with planted near-dups (doc
  * k*100 duplicated at id N+k, first word mutated, 3-shingle jaccard
  * ≈ 0.93). Gates: candidate-pair volume linear-ish in N (a
  * degenerate signature goes quadratic), planted-pair recall ≥95%,
  * survivor count (over-merge shows up as a deficit).
  *
  * ANN mode: multi-table SRP-LSH top-10 vs the brute-force truth on
  * CLUSTERED synthetic embeddings (1000 hash-derived centroids +
  * per-vector noise — the geometry real embeddings have; uniform
  * noise would make top-k itself meaningless), with planes-per-table
  * scaled as log2(N/250) per the documented rule. Gates: recall ≥0.8.
  *
  * Each mode prints ONE JSON line and exits nonzero if any gate
  * fails — this is a gate, not a demo.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("ann")) { annMain(args.drop(1)); return }
    if (args.headOption.contains("wmh")) { wmhMain(args.drop(1)); return }
    if (args.headOption.contains("beam")) { beamMain(args.drop(1)); return }
    if (args.headOption.contains("hnsw")) { hnswMain(args.drop(1)); return }
    if (args.headOption.contains("bloom")) { bloomMain(args.drop(1)); return }
    if (args.headOption.contains("select")) { selectMain(args.drop(1)); return }
    if (args.headOption.contains("insert")) { insertMain(args.drop(1)); return }
    if (args.headOption.contains("delete")) { deleteMain(args.drop(1)); return }
    if (args.headOption.contains("ppl")) { pplMain(args.drop(1)); return }
    if (args.headOption.contains("tx")) { txMain(args.drop(1)); return }
    if (args.headOption.contains("txlog")) { txlogMain(args.drop(1)); return }
    if (args.headOption.contains("catalog")) { catalogMain(args.drop(1)); return }
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val planted = math.max(n / 100, 1L)
    val spark = Session.local(Session.cpus)

    // vocabulary scales with N so band-collision behavior mirrors a
    // real corpus (fixed small vocab at 2M docs would overload the
    // posting-list df-cap instead of exercising LSH)
    val vocab = math.max(4000L, n / 50)
    def words(idCol: String, from: Int) = expr(
      s"transform(sequence($from, 30), j -> concat('w', pmod(hash($idCol, j), $vocab)))")
    val base = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words("id", 1)).as("text"))
    val dups = spark.range(planted).select((col("id") + n).as("doc_id"),
      concat(lit("mutated "), concat_ws(" ", words("id * 100", 2))).as("text"))
    val docs = base.unionByName(dups).persist()
    val nDocs = docs.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (pairs, tPairs) = timed {
      val p = graft.operators.Dedup.minhashLshOn(docs, "doc_id", "text")
        .filter(col("est_sim") >= 0.5).persist()
      p.count(); p
    }
    val nPairs = pairs.count()
    val nPlantedFound = pairs
      .filter(col("b_id") >= n && col("a_id") === (col("b_id") - n) * 100)
      .count()
    val (clusters, tCluster) = timed {
      val c = graft.operators.Dedup.clustersOn(
        pairs, docs.select(col("doc_id").as("id"))).persist()
      c.count(); c
    }
    val (nSurv, tKeep) = timed {
      clusters.groupBy(col("cluster_id"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_members"))
        .count()
    }

    val pairOk = nPairs < n * 2
    val recallOk = nPlantedFound >= (planted * 95) / 100
    val survOk = nSurv <= n + planted / 20 && nSurv >= n - planted
    println(s"""{"metric":"scale_rehearsal","n_docs":$nDocs,"n_pairs":$nPairs,""" +
      s""""planted_found":$nPlantedFound,"planted":$planted,"n_survivors":$nSurv,""" +
      s""""pairs_sec":${f"$tPairs%.1f"},"cluster_sec":${f"$tCluster%.1f"},""" +
      s""""keep_sec":${f"$tKeep%.1f"},""" +
      s""""pair_volume_ok":$pairOk,"recall_ok":$recallOk,"survivors_ok":$survOk}""")
    spark.stop()
    if (!(pairOk && recallOk && survOk)) sys.exit(1)
  }

  /** Weighted-minhash rehearsal: a TEMPLATED corpus at scale — every
    * doc opens with the same 8-token boilerplate, 1% planted near-dups
    * (one content token mutated). The two gates are the operator's
    * reason to exist: (1) planted near-dups are found despite the
    * shared scaffolding; (2) total pair volume stays near the planted
    * count — boilerplate-only overlap (which plain token Jaccard would
    * score ~0.2 and unigram weighting was measured scoring 6.6M pairs
    * on the testdata corpus) must NOT survive the weighted threshold.
    */
  private def wmhMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val planted = math.max(n / 100, 1L)
    val spark = Session.local(Session.cpus)
    val vocab = math.max(4000L, n / 50)
    val boiler = "terms conditions apply all rights reserved contact support"
    def words(idCol: String, from: Int) = expr(
      s"transform(sequence($from, 30), j -> concat('w', pmod(hash($idCol, j), $vocab)))")
    val base = spark.range(n).select(col("id").as("doc_id"),
      concat(lit(s"$boiler "), concat_ws(" ", words("id", 1))).as("text"))
    val dups = spark.range(planted).select((col("id") + n).as("doc_id"),
      concat(lit(s"$boiler mutated "), concat_ws(" ", words("id * 100", 2))).as("text"))
    val docs = base.unionByName(dups).persist()
    val nDocs = docs.count()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (pairs, tPairs) = timed {
      val p = graft.operators.Dedup.weightedMinhashOn(docs, "doc_id", "text").persist()
      p.count(); p
    }
    val nPairs = pairs.count()
    val nPlantedFound = pairs
      .filter(col("b_id") >= n && col("a_id") === (col("b_id") - n) * 100)
      .count()
    val pairOk = nPairs < n / 10
    // the planted mutation + boilerplate dilution put the planted
    // pairs at J_w ≈ 0.8, where 4×4 banding catches 1−(1−J⁴)⁴ ≈ 0.88
    // (measured 0.906 at 2M docs, with ALL 18118 emitted pairs planted
    // — zero boilerplate false positives). The recall lever at lower
    // J_w is band geometry (8×2 trades precision for recall), not a
    // bug; the gate pins the measured design point of the 4×4 default.
    val recallOk = nPlantedFound >= (planted * 88) / 100
    println(s"""{"metric":"scale_rehearsal_wmh","n_docs":$nDocs,"n_pairs":$nPairs,""" +
      s""""planted_found":$nPlantedFound,"planted":$planted,""" +
      s""""pairs_sec":${f"$tPairs%.1f"},""" +
      s""""pair_volume_ok":$pairOk,"recall_ok":$recallOk}""")
    spark.stop()
    if (!(pairOk && recallOk)) sys.exit(1)
  }

  /** Graph-ANN rehearsal: NN-Descent build + frontier-beam query batch
    * vs the multi-table LSH query path on the same clustered corpus.
    * The claim under test is the beam's role in the family: the LSH
    * seeding SHARES the multi-table bucketing cost (both sides bucket
    * the corpus; true N-independent entry would need hierarchical
    * long-links, out of scope), and the graph ROUNDS are the
    * probe-local part — so the gate is recall ≥ the hash path's (the
    * rounds must close whatever gap the seeds leave, as measured on
    * testdata: 0.975 → 1.000) at bounded wall-time overhead. Self
    * pairs are excluded from truth and both candidates: probes are
    * corpus members here and the beam deliberately drops self-hits
    * (an earlier run read recall 0.800 — exactly the 1-in-5 self slot,
    * not a search failure).
    */
  private def beamMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val nProbes = if (args.length > 1) args(1).toInt else 512
    val k = 5
    val spark = Session.local(Session.cpus)
    val vec = expr(
      """transform(sequence(0, 63), j -> cast(
        |  (cast(pmod(hash(cast(id % 1000 as int), j), 2001) as double) - 1000.0) / 1000.0
        |  + (cast(pmod(hash(cast(id as int), j, 7), 201) as double) - 100.0) / 1000.0
        |as float))""".stripMargin)
    val corpus = spark.range(n).select(col("id").as("c_id"), vec.as("cv")).persist()
    corpus.count()
    val probes = corpus.filter(col("c_id") < nProbes)
      .select(col("c_id").as("q_id"), col("cv").as("qv")).persist()
    probes.count()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def keySet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("q_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2).toSet
    val (truth, tBrute) = timed(keySet(
      graft.operators.Similarity.bruteforceTopkOn(probes, corpus, k)))
    val planes = graft.operators.Similarity.planesFor(n)
    val (ann, tAnn) = timed(keySet(
      graft.operators.Similarity.multiTableTopkOn(probes, corpus, k,
        tables = 16, planesPerTable = planes, broadcastQueries = true)))
    val recallAnn = (truth & ann).size.toDouble / truth.size
    val (graph, tBuild) = timed {
      val g = graft.operators.Similarity.knnGraphOn(
        corpus.select(col("c_id").as("vec_id"), col("cv").as("embedding")))
      g.count(); g // knnGraphOn localCheckpoints its final round
    }
    val (beam, tBeam) = timed(keySet(
      graft.operators.Similarity.graphBeamOn(
        graph,
        corpus.select(col("c_id"), col("cv")),
        probes, k = k)))
    val recallBeam = (truth & beam).size.toDouble / truth.size
    val beamOk = recallBeam >= recallAnn - 0.005 && tBeam <= 2 * tAnn
    println(s"""{"metric":"scale_rehearsal_beam","n_vectors":$n,"n_probes":$nProbes,""" +
      s""""k":$k,"planes":$planes,"brute_sec":${f"$tBrute%.1f"},""" +
      s""""ann_recall":${f"$recallAnn%.3f"},"ann_sec":${f"$tAnn%.1f"},""" +
      s""""build_sec":${f"$tBuild%.1f"},""" +
      s""""beam_recall":${f"$recallBeam%.3f"},"beam_sec":${f"$tBeam%.1f"},""" +
      s""""beam_ok":$beamOk}""")
    spark.stop()
    if (!beamOk) sys.exit(1)
  }

  /** Incremental-maintenance rehearsal: [[graft.operators.Similarity.knnGraphInsert]]
    * at ≥200k vectors, two admission shapes against one FULL rebuild:
    * (1) QUALITY at a 10% delta (the adversarial case — the affected
    * set approaches the whole graph): incremental recall within 2pts
    * of the rebuild's on resident probes and within 5 on arrival
    * probes; (2) COST at a 1% delta (the daily-crawl shape the
    * operator exists for): the insert must cost ≤ half the rebuild —
    * at 10% the affected set saturates and insert cost legitimately
    * approaches rebuild cost, so the cost claim is measured where the
    * delta-proportional contract actually applies.
    */
  private def insertMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val probesPerSide = 256
    val k = 4
    val spark = Session.local(Session.cpus)
    // 8-member clusters (id mod n/8): a node's exact top-k IS its 7
    // cluster mates, separated from every other cluster by the ±1.0
    // base components vs ±0.1 noise — so exact-top-k recall is a
    // meaningful gate (mega-clusters of near-identical vectors make
    // the exact top-4 a noise lottery: the full rebuild itself
    // measured 0.000 on that geometry)
    val clusters = math.max(n / 8, 1L)
    val vec = expr(
      s"""transform(sequence(0, 63), j -> cast(
        |  (cast(pmod(hash(cast(id % $clusters as int), j), 2001) as double) - 1000.0) / 1000.0
        |  + (cast(pmod(hash(cast(id as int), j, 7), 201) as double) - 100.0) / 1000.0
        |as float))""".stripMargin)
    val corpus = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding")).persist()
    corpus.count()
    val probes = corpus
      .filter(col("vec_id") < probesPerSide || col("vec_id") >= n - probesPerSide)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")).persist()
    probes.count()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val truth = graft.operators.Similarity.bruteforceTopkOn(
        probes, corpus.select(col("vec_id").as("c_id"), col("embedding").as("cv")), k + 1)
      .select(col("q_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2).toSet
    def probePairs(g: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      g.filter(col("u") < probesPerSide || col("u") >= n - probesPerSide)
        .select(col("u"), col("nbr")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the measured planesFor rule — the pinned oracle default's 16
    // buckets/table collapse under the bucket cap at this N
    val pAll = graft.operators.Similarity.planesFor(n)
    def insertAt(cut: Long): (Set[(Long, Long)], Double, Double) = {
      val base = corpus.filter(col("vec_id") < cut)
      val delta = corpus.filter(col("vec_id") >= cut)
      val (gBase, tBase) = timed {
        val g = graft.operators.Similarity.knnGraphOn(base,
          initPlanes = graft.operators.Similarity.planesFor(cut))
        g.count(); g
      }
      val (pairs, tIns) = timed(probePairs(
        graft.operators.Similarity.knnGraphInsert(gBase, base, delta, initPlanes = pAll)))
      (pairs, tBase, tIns)
    }
    // QUALITY at the 10% worst case: a tenth of the corpus arriving at
    // once makes the affected set approach the whole graph, so the
    // recall comparison is as adversarial as admission gets
    val cutQ = n * 9 / 10
    val (incrPairs, tBase, tInsert) = insertAt(cutQ)
    // COST at the realistic admission shape (1% delta — a day's crawl
    // against an accumulated corpus): the affected set, and so the
    // repair work, is delta-proportional; at 10% it saturates toward
    // the corpus and the insert legitimately approaches rebuild cost
    val cutC = n * 99 / 100
    val (smallPairs, _, tInsertSmall) = insertAt(cutC)
    val (fullPairs, tFull) = timed(probePairs(
      graft.operators.Similarity.knnGraphOn(corpus, initPlanes = pAll)))
    val deltaTruth = truth.filter(_._1 >= cutQ)
    val rIncr = (truth & incrPairs).size.toDouble / truth.size
    val rFull = (truth & fullPairs).size.toDouble / truth.size
    val rDelta = (deltaTruth & incrPairs).size.toDouble / deltaTruth.size
    val rSmall = (truth & smallPairs).size.toDouble / truth.size
    val ok = rIncr >= rFull - 0.02 && rDelta >= rFull - 0.05 &&
      rSmall >= rFull - 0.02 && tInsertSmall <= 0.5 * tFull
    println(s"""{"metric":"scale_rehearsal_insert","n_vectors":$n,"delta_q":${n - cutQ},""" +
      s""""delta_c":${n - cutC},"base_build_sec":${f"$tBase%.1f"},""" +
      s""""insert10_sec":${f"$tInsert%.1f"},"insert1_sec":${f"$tInsertSmall%.1f"},""" +
      s""""rebuild_sec":${f"$tFull%.1f"},"recall_incr":${f"$rIncr%.3f"},""" +
      s""""recall_full":${f"$rFull%.3f"},"recall_delta_nodes":${f"$rDelta%.3f"},""" +
      s""""recall_small":${f"$rSmall%.3f"},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Deletion-maintenance rehearsal: [[graft.operators.Similarity.knnGraphDelete]]
    * at ≥200k vectors, two purge shapes (same corpus geometry and
    * probe protocol as [[insertMain]]).
    *
    * WHAT THE GATES COMPARE (measured, not assumed): at this N the
    * NN-Descent build is convergence-bound — a fresh rebuild of the
    * 90% survivors re-converges BETTER than the original full build
    * (0.673 vs ~0.59 recall class), so "maintained within 2pts of a
    * fresh rebuild" is unachievable BY DESIGN at a 10% purge: 66% of
    * survivors are never orphaned and correctly keep their inherited
    * build-quality edges — upgrading them is a rebuild, not a delete
    * (the mix 0.66·build + 0.34·repaired reproduces the measured
    * 0.626 exactly). Deletion maintenance restores DAMAGE; it does
    * not re-converge the corpus. Hence:
    * (1) QUALITY at a 10% spread purge: ORPHAN probes — the damaged
    *     set — repair to within 2pts of the fresh rebuild's quality
    *     on those same probes, and the maintained graph NEVER
    *     degrades below the inherited build's own survivor-restricted
    *     recall (repair only adds).
    * (2) COST at a 1% purge (the GDPR/eviction shape the operator
    *     exists for): global recall within 2pts of the fresh rebuild
    *     (achievable here — 99% inherited, 1% repaired) AND repair
    *     cost ≤ half the rebuild.
    * Plus the hard invariant at both shapes: zero tombstones on
    * either edge side of the maintained graph. The converged regime
    * (sf0.001, AnnRecallSpec) separately gates GLOBAL parity with a
    * rebuild at a 5% purge — 0.914 vs 0.915 — where parity is
    * achievable because both graphs are at quality ceiling.
    */
  private def deleteMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val probesPerSide = 256
    val k = 4
    val spark = Session.local(Session.cpus)
    // same 8-member-cluster geometry as insertMain — a 10% spread
    // purge (id % 10) removes ~0.8 members per cluster, so most
    // clusters orphan and the repair has real re-linking to do
    val clusters = math.max(n / 8, 1L)
    val vec = expr(
      s"""transform(sequence(0, 63), j -> cast(
        |  (cast(pmod(hash(cast(id % $clusters as int), j), 2001) as double) - 1000.0) / 1000.0
        |  + (cast(pmod(hash(cast(id as int), j, 7), 201) as double) - 100.0) / 1000.0
        |as float))""".stripMargin)
    val corpus = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding")).persist()
    corpus.count()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val pAll = graft.operators.Similarity.planesFor(n)
    val (gFull, tBuild) = timed {
      val g = graft.operators.Similarity.knnGraphOn(corpus, initPlanes = pAll)
      g.count(); g
    }
    final case class Shape(rDel: Double, rReb: Double, rInherited: Double,
      rOrphDel: Double, rOrphReb: Double, costRatio: Double)
    // cost measurements ride ±30% host noise (documented across this
    // suite) — the GATED ratio takes min-of-2 on both sides so a
    // loaded-host run doesn't flap a 0.3×-true-cost gate at 0.5
    def rehearse(mod: Long, costRuns: Int = 1): Shape = {
      val del = corpus.filter(pmod(col("vec_id"), lit(mod)) === 0L).select(col("vec_id"))
      val survivors = corpus.filter(pmod(col("vec_id"), lit(mod)) =!= 0L).persist()
      survivors.count()
      val probes = survivors
        .filter(col("vec_id") < probesPerSide || col("vec_id") >= n - probesPerSide)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv")).persist()
      probes.count()
      val truth = graft.operators.Similarity.bruteforceTopkOn(
          probes, survivors.select(col("vec_id").as("c_id"), col("embedding").as("cv")), k + 1)
        .select(col("q_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2).toSet
      def probePairs(g: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        g.filter(col("u") < probesPerSide || col("u") >= n - probesPerSide)
          .select(col("u"), col("nbr")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      def delOnce() = timed {
        val g = graft.operators.Similarity.knnGraphDelete(gFull, corpus, del,
          initPlanes = pAll)
        val p = probePairs(g)
        // the tombstone invariant over the WHOLE graph, not just probes
        val leaked = g.filter(pmod(col("u"), lit(mod)) === 0L ||
          pmod(col("nbr"), lit(mod)) === 0L).count()
        require(leaked == 0L, s"$leaked tombstone edges survived the mod-$mod purge")
        p
      }
      def rebuildOnce() = timed(probePairs(
        graft.operators.Similarity.knnGraphOn(survivors, initPlanes = pAll)))
      val delRuns = (1 to costRuns).map(_ => delOnce())
      val rebRuns = (1 to costRuns).map(_ => rebuildOnce())
      val (delPairs, tDel) = (delRuns.head._1, delRuns.map(_._2).min)
      val (rebuildPairs, tRebuild) = (rebRuns.head._1, rebRuns.map(_._2).min)
      // the inherited floor: the full build's edges restricted to
      // survivors = the maintained graph WITHOUT any repair
      val fullProbe = probePairs(gFull)
      val inheritedPairs = fullProbe.filter(p => p._1 % mod != 0 && p._2 % mod != 0)
      // orphan probes: full-build probe edges that pointed at a tombstone
      val orphanProbes = fullProbe
        .collect { case (u, nb) if nb % mod == 0 && u % mod != 0 => u }.toSet
      val orphTruth = truth.filter(t => orphanProbes(t._1))
      def recall(pairs: Set[(Long, Long)], tr: Set[(Long, Long)]): Double =
        if (tr.isEmpty) 1.0 else (tr & pairs).size.toDouble / tr.size
      survivors.unpersist(); probes.unpersist()
      Shape(recall(delPairs, truth), recall(rebuildPairs, truth),
        recall(inheritedPairs, truth),
        recall(delPairs, orphTruth), recall(rebuildPairs, orphTruth),
        tDel / tRebuild)
    }
    val q = rehearse(10L)                // quality shape: wide spread damage
    val c = rehearse(100L, costRuns = 2) // cost shape: the realistic purge (gated ratio)
    // gates per the header: damaged set repairs to rebuild quality and
    // the maintained graph never drops below the inherited floor; the
    // realistic shape holds global parity at ≤ half the rebuild's cost
    val ok = q.rOrphDel >= q.rOrphReb - 0.02 && q.rDel >= q.rInherited - 0.01 &&
      c.rDel >= c.rReb - 0.02 && c.costRatio <= 0.5
    println(s"""{"metric":"scale_rehearsal_delete","n_vectors":$n,""" +
      s""""build_sec":${f"$tBuild%.1f"},""" +
      s""""q10":{"del":${f"${q.rDel}%.3f"},"rebuild":${f"${q.rReb}%.3f"},""" +
      s""""inherited":${f"${q.rInherited}%.3f"},"orphan_del":${f"${q.rOrphDel}%.3f"},""" +
      s""""orphan_rebuild":${f"${q.rOrphReb}%.3f"},"cost_ratio":${f"${q.costRatio}%.2f"}},""" +
      s""""c1":{"del":${f"${c.rDel}%.3f"},"rebuild":${f"${c.rReb}%.3f"},""" +
      s""""cost_ratio":${f"${c.costRatio}%.2f"}},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** HNSW rehearsal: the layered index at 10-100× spec sizes — layer
    * builds (amortized artifacts), hierarchical search recall vs the
    * brute-force truth, and the flat LSH-seeded beam on the SAME base
    * graph for comparison. Gate: layered recall ≥ 0.9 — the number
    * that proves the coarse layers hand the base beam the right
    * neighborhoods at a scale where the entry set covers a vanishing
    * fraction of the corpus.
    *
    * GEOMETRY NOTE (measured): the corpus here is a SMOOTH MANIFOLD —
    * each vector samples 64 sinusoids of a 2-D latent grid point, so
    * cosine falls off continuously with latent distance and every
    * locality has a gradient toward every other. That is the geometry
    * hierarchical graph descent exists for (and what real embedding
    * spaces look like locally). On the ISOLATED-CLUSTER geometry the
    * other ANN rehearsals use (1000 mutually near-orthogonal
    * centroids), greedy descent has NO gradient between clusters and
    * the hierarchy measured recall 0.04 regardless of depth — while
    * the LSH-SEEDED flat beam measured 1.000 there, because bucket
    * seeds jump straight into the right cluster. The library's
    * division of labor is exactly that: sim_graph_beam (LSH-seeded)
    * for partitioned/clustered corpora, sim_hnsw's descent for
    * continuous similarity structure.
    */
  private def hnswMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val nProbes = if (args.length > 1) args(1).toInt else 512
    val k = 5
    val spark = Session.local(Session.cpus)
    // 2-D latent grid → 64 sinusoidal features: v[j] = cos(a_j·u1 +
    // b_j·u2 + c_j), low integer frequencies so latent neighbors are
    // cosine neighbors (executor-generated, deterministic)
    val g = math.ceil(math.sqrt(n.toDouble)).toLong
    val vec = expr(
      s"""transform(sequence(0, 63), j -> cast(cos(
         |  (cast(pmod(hash(j), 7) as double) - 3.0) * (cast(id % $g as double) * 6.283185307 / $g)
         |  + (cast(pmod(hash(j, 3), 7) as double) - 3.0) * (cast(id div $g as double) * 6.283185307 / $g)
         |  + cast(pmod(hash(j, 9), 628) as double) / 100.0
         |) as float))""".stripMargin)
    val corpus = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding")).persist()
    corpus.count()
    val probes = corpus.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")).persist()
    probes.count()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def keySet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("q_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(p => p._1 != p._2).toSet
    val cand = corpus.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val (truth, tBrute) = timed(keySet(
      graft.operators.Similarity.bruteforceTopkOn(probes, cand, k)))
    val (graphs, tBuild) = timed {
      // auto depth: the hierarchy grows with log(N) so the top layer
      // stays entry-set sized — the fixed 2-layer testdata instance
      // measured recall 0.033 here (1741 nodes above 8 entries)
      val g = graft.operators.Similarity.hnswBuildAuto(corpus)
        .map(_.localCheckpoint(true))
      g.foreach(_.count()); g
    }
    val (layered, tHnsw) = timed(keySet(
      // ef is HNSW's query-time recall knob — the rehearsal runs the
      // production setting (wider than the small-corpus default)
      graft.operators.Similarity.hnswSearchOn(graphs, corpus, probes, k,
        ef = 64, descentRounds = 3, baseRounds = 6)))
    val recallHnsw = (truth & layered).size.toDouble / truth.size
    val (flat, tFlat) = timed(keySet(
      graft.operators.Similarity.graphBeamOn(graphs(0), cand, probes, k = k)))
    val recallFlat = (truth & flat).size.toDouble / truth.size
    val layerSizes = graphs.indices.map(l =>
      graphs(l).select(countDistinct(col("u"))).head().getLong(0))
    val ok = recallHnsw >= 0.9
    println(s"""{"metric":"scale_rehearsal_hnsw","n_vectors":$n,"n_probes":$nProbes,""" +
      s""""k":$k,"layer_nodes":[${layerSizes.mkString(",")}],""" +
      s""""brute_sec":${f"$tBrute%.1f"},"build_sec":${f"$tBuild%.1f"},""" +
      s""""hnsw_recall":${f"$recallHnsw%.3f"},"hnsw_sec":${f"$tHnsw%.1f"},""" +
      s""""flat_recall":${f"$recallFlat%.3f"},"flat_sec":${f"$tFlat%.1f"},""" +
      s""""hnsw_ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  private def annMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 500000L
    // probe count is the crossover axis: brute force costs O(Q·N)
    // dots, the LSH index a Q-independent O(L·N) bucketing — small
    // probe sets favor brute force, large ones the index
    val nProbes = if (args.length > 1) args(1).toInt else 32
    val k = 10
    val spark = Session.local(Session.cpus)

    // clustered geometry: centroid (id mod 1000) ± 0.1 noise per dim
    val vec = expr(
      """transform(sequence(0, 63), j -> cast(
        |  (cast(pmod(hash(cast(id % 1000 as int), j), 2001) as double) - 1000.0) / 1000.0
        |  + (cast(pmod(hash(cast(id as int), j, 7), 201) as double) - 100.0) / 1000.0
        |as float))""".stripMargin)
    val corpus = spark.range(n).select(col("id").as("c_id"), vec.as("cv")).persist()
    corpus.count()
    val probes = corpus.filter(col("c_id") < nProbes)
      .select(col("c_id").as("q_id"), col("cv").as("qv")).persist()
    probes.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def keySet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("q_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (truth, tBrute) = timed(keySet(
      graft.operators.Similarity.bruteforceTopkOn(probes, corpus, k)))
    // the documented scale rule (Similarity planes-grow-as-log2(N)),
    // applied: size buckets to ~250 candidates each. The testdata
    // default (4 planes = 16 buckets) is a 500-row setting; at 500k it
    // leaves 31k-vector buckets and the candidate join, not the
    // scoring, dominates — measured 210 s (4 planes) vs 10 s (11
    // planes) at 512 probes, recall 1.000 both ways
    // the rule now LIVES in the operator (Similarity.planesFor, the
    // AutoPlanes default); the rehearsal asserts the derived value
    // matches the measured sizing before trusting the run
    val planes = graft.operators.Similarity.planesFor(n)
    assert(planes == math.min(16, math.max(4,
      math.ceil(math.log(n / 250.0) / math.log(2)).toInt)),
      s"planesFor($n) drifted from the measured log2(N/250) rule")
    val (ann, tAnn) = timed(keySet(
      graft.operators.Similarity.multiTableTopkOn(probes, corpus, k,
        tables = 16, planesPerTable = planes, broadcastQueries = true)))
    // recall counts truth rows the index recovered; rank-k boundary
    // ties can swap members, so compare pair SETS, not ranks
    val hit = (truth & ann).size
    val recall = hit.toDouble / truth.size
    val recallOk = recall >= 0.8
    // the OTHER recall lever at the same plane depth: ONE table probed
    // at hamming ≤ 2 (1 + p + p(p−1)/2 buckets/query) instead of 16
    // independent tables — recorded head-to-head so the multiprobe-vs-
    // multitable crossover is measured, not assumed
    val (mp, tMp) = timed(keySet(
      graft.operators.Similarity.lshTopkOn(probes, corpus, k,
        nPlanes = planes, broadcastQueries = true, multiProbe = true)))
    val recallMp = (truth & mp).size.toDouble / truth.size
    // the r9 layered path: LSH-ASSIGNED two-stage IVF refine. The
    // first rehearsal of this measured WHY cell count is the recall
    // axis: 128 sampled cells against this corpus's 1000 natural
    // clusters left most clusters with no nearby cell, so per-vector
    // noise sprayed cluster-mates across many equidistant cells —
    // recall 0.100. A DENSE cell table (4096 — coverage 1−e^(−4.1) ≈
    // 98% of clusters hold a sampled cell) fixes recall, and the now-
    // unaffordable exact assignment (N·4096 cosines) is replaced by
    // the library's own multi-table index over the CELLS (k=1,
    // corpus-sized plane depth): build cost O(L·N) bucketed ids, the
    // same class as indexing the corpus for LSH. Build (one-time,
    // amortized) and query are timed separately; the gate is the
    // verdict's: recall ≥ 0.9 and query wall-time under the
    // multi-table query path at the same k.
    val nCells = math.min(4096, math.max(64, (n / 64).toInt))
    val cents = corpus
      .orderBy(expr("(c_id * 1000003 + 12289) % 2147483647"), col("c_id")).limit(nCells)
      .select(col("c_id").as("cent_id"), col("cv").as("centv"))
      .localCheckpoint(true)
    val (assign, tBuild) = timed {
      val a = graft.operators.Similarity.multiTableTopkOn(
          corpus.select(col("c_id").as("q_id"), col("cv").as("qv")),
          cents.select(col("cent_id").as("c_id"), col("centv").as("cv")),
          k = 1, tables = 16, planesPerTable = planes)
        .selectExpr("q_id AS c_id", "c_id AS cent_id")
        .localCheckpoint(true)
      a.count(); a
    }
    val (ivfr, tIvf) = timed(keySet(
      graft.operators.Similarity.ivfRefineAssigned(probes, corpus, cents, assign, k,
        nProbe = 8, shortlist = 4 * k)))
    val recallIvf = (truth & ivfr).size.toDouble / truth.size
    val ivfOk = recallIvf >= 0.9 && tIvf <= tAnn
    println(s"""{"metric":"scale_rehearsal_ann","n_vectors":$n,"n_probes":$nProbes,""" +
      s""""k":$k,"planes":$planes,"recall":${f"$recall%.3f"},"brute_sec":${f"$tBrute%.1f"},""" +
      s""""ann_sec":${f"$tAnn%.1f"},"mp_recall":${f"$recallMp%.3f"},""" +
      s""""mp_sec":${f"$tMp%.1f"},"ivf_cells":$nCells,""" +
      s""""ivf_build_sec":${f"$tBuild%.1f"},""" +
      s""""ivf_recall":${f"$recallIvf%.3f"},"ivf_sec":${f"$tIvf%.1f"},""" +
      s""""recall_ok":$recallOk,"ivf_ok":$ivfOk}""")
    spark.stop()
    if (!(recallOk && ivfOk)) sys.exit(1)
  }

  /** Greedy-selector rehearsal: [[graft.operators.Similarity.kcenterOn]]
    * and [[graft.operators.Similarity.mmrOn]] at corpus scale — each
    * step of the driver-sequenced greedy is one full scan + argmax
    * reduce, so wall time must stay ~k·scan. The semantic gate is
    * COVERAGE on clustered geometry: every non-seed k-center pick must
    * land in a cluster none of the previous picks occupy (farthest-
    * point on 1000-cluster data hops clusters by construction;
    * a broken score would re-pick the seed's neighbors). MMR gates on
    * k distinct picks with monotone non-increasing scores (the greedy
    * invariant).
    */
  private def selectMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 500000L
    val k = 5
    val spark = Session.local(Session.cpus)
    val vec = expr(
      """transform(sequence(0, 63), j -> cast(
        |  (cast(pmod(hash(cast(id % 1000 as int), j), 2001) as double) - 1000.0) / 1000.0
        |  + (cast(pmod(hash(cast(id as int), j, 7), 201) as double) - 100.0) / 1000.0
        |as float))""".stripMargin)
    val corpus = spark.range(n).select(col("id"), vec.as("vec")).persist()
    corpus.count()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (kc, tKc) = timed(
      graft.operators.Similarity.kcenterOn(corpus, seedId = 0L, k = k).collect())
    val (mm, tMm) = timed(
      graft.operators.Similarity.mmrOn(corpus, queryId = 0L, k = k).collect())
    val kcIds = kc.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("vec_id"))
    val kcClusters = kcIds.map(_ % 1000L)
    val coverageOk = kcClusters.distinct.length == k
    val mmScores = mm.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("score"))
    val mmOk = mm.map(_.getAs[Long]("vec_id")).distinct.length == k &&
      mmScores.zip(mmScores.tail).forall { case (a, b) => a >= b }
    println(s"""{"metric":"select_rehearsal","n_docs":$n,"k":$k,""" +
      s""""kcenter_sec":${f"$tKc%.1f"},"mmr_sec":${f"$tMm%.1f"},""" +
      s""""kcenter_clusters":[${kcClusters.mkString(",")}],""" +
      s""""coverage_ok":$coverageOk,"mmr_ok":$mmOk}""")
    spark.stop()
    if (!(coverageOk && mmOk)) sys.exit(1)
  }

  /** Bloom-prefilter decontamination rehearsal: N corpus docs vs an
    * N/1000-doc eval set, half of which are verbatim copies of corpus
    * docs (the planted contamination) and half fresh text. The gates
    * are the operator's 100 TB story: (1) the bloom result is
    * IDENTICAL to the exact check (no false negatives — same flagged
    * docs, same hit counts); (2) the probe ratio (shingles passing the
    * bloom / total corpus shingles) stays small — that ratio IS the
    * shuffle-volume reduction of the exact verify join on a mostly-
    * clean corpus; (3) the 2^22-bit filter (a ~0.5 MB broadcast)
    * keeps per-shingle FP under 1%.
    */
  private def bloomMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val evalN = math.max(n / 1000, 10L)
    val spark = Session.local(Session.cpus)
    val vocab = math.max(4000L, n / 50)
    def words(idCol: String, from: Int) = expr(
      s"transform(sequence($from, 30), j -> concat('w', pmod(hash($idCol, j), $vocab)))")
    val corpus = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words("id", 1)).as("text")).persist()
    // eval: first half copies corpus docs k*1000 (the leak), second
    // half fresh ids beyond the corpus range (clean benchmark items)
    val leak = spark.range(evalN / 2).select((col("id") + n).as("doc_id"),
      concat_ws(" ", words("id * 1000", 1)).as("text"))
    val fresh = spark.range(evalN / 2).select((col("id") + n + evalN).as("doc_id"),
      concat_ws(" ", words("id + 3000000000", 1)).as("text"))
    val eval = leak.unionByName(fresh).persist()
    eval.count(); corpus.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (exact, tExact) = timed {
      val e = graft.operators.Training
        .contaminationOn(corpus, eval, "doc_id", "text", 0.5)
        .select(col("doc_id"), col("n_hit"),
          col("contaminated").cast("int").as("flag")).persist()
      e.count(); e
    }
    val (bloom, tBloom) = timed {
      val b = graft.operators.Training
        .contaminationBloomOn(corpus, eval, "doc_id", "text",
          bloomBits = 1L << 22)
        .persist()
      b.count(); b
    }
    val joined = exact.join(bloom, Seq("doc_id")).persist()
    val nDiff = joined
      .filter(col("n_hit") =!= col("n_true_hit") ||
        col("flag") =!= col("contaminated")).count()
    val agg = bloom.agg(
      sum(col("n_shingles")).as("s"), sum(col("n_bloom_hit")).as("h"),
      sum(col("n_fp")).as("fp"), sum(col("contaminated")).as("flagged")).head
    val (s, h, fp, flagged) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    val exactOk = nDiff == 0
    val planted = evalN / 2
    val flaggedOk = flagged == planted // exactly the copied docs flag
    val probeRatio = h.toDouble / s
    val fpRatio = fp.toDouble / s
    val probeOk = probeRatio < 0.05
    val fpOk = fpRatio < 0.01
    // third decontamination stage at the same scale: span localization
    // must put ONE full-length span (28 matched shingles of the
    // 30-token template) on exactly the planted docs; shingle-hash
    // collisions may add short spurious spans, never full-length ones
    val (spans, tSpans) = timed {
      val sp = graft.operators.Training
        .contaminationSpansOn(corpus, eval, "doc_id", "text").persist()
      sp.count(); sp
    }
    val full = spans.filter(col("n_matched") === 28L)
      .select(col("doc_id")).distinct()
    val nFull = full.count()
    val fullOnPlanted = full.filter(col("doc_id") % 1000L === 0L).count()
    val spansOk = nFull == planted && fullOnPlanted == nFull
    println(s"""{"metric":"bloom_rehearsal","n_docs":$n,"n_eval":$evalN,""" +
      s""""exact_sec":${f"$tExact%.1f"},"bloom_sec":${f"$tBloom%.1f"},""" +
      s""""n_shingles":$s,"n_bloom_hit":$h,"n_fp":$fp,"flagged":$flagged,""" +
      s""""probe_ratio":${f"$probeRatio%.5f"},"fp_ratio":${f"$fpRatio%.5f"},""" +
      s""""spans_sec":${f"$tSpans%.1f"},"n_full_spans":$nFull,""" +
      s""""exact_match":$exactOk,"flagged_ok":$flaggedOk,""" +
      s""""probe_ok":$probeOk,"fp_ok":$fpOk,"spans_ok":$spansOk}""")
    spark.stop()
    if (!(exactOk && flaggedOk && probeOk && fpOk && spansOk)) sys.exit(1)
  }

  /** Perplexity-filter rehearsal: text_perplexity's full pass (train-
    * split bigram LM fit + held-out scoring + per-language two-phase
    * terciles) at 10-100× the testdata corpus, with 1% planted word
    * salad. Prose docs walk a 500-word ring vocabulary (consecutive
    * indices), so the corpus-wide bigram table is ~500 rows and every
    * prose bigram is high-count/cheap; salad docs draw from a
    * disjoint hash-random vocabulary, so every salad bigram is
    * unseen-context and costs exactly the uniform prior log2(V).
    * Gates:
    *  - SEPARATION: every scored salad doc's xent exceeds every
    *    scored prose doc's (the geometry guarantees it; a miss means
    *    the LM join or the split leaked),
    *  - BOUNDED LOG TABLE: the distinct-ratio count the FixedLog2
    *    chain runs over stays corpus-size-free (≤ distinct (c1,c2)
    *    pairs — thousands, not millions),
    *  - EXACT TERCILES: per language, tile sizes differ by ≤ 1 (the
    *    two-phase device reproduces ntile semantics distributed).
    */
  private def pplMain(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val saladEvery = 100L // 1% planted salad
    val spark = Session.local(Session.cpus)
    val prose = expr(
      "concat_ws(' ', transform(sequence(1, 30), j -> concat('w', pmod(hash(id) + j, 500))))")
    val salad = expr(
      "concat_ws(' ', transform(sequence(1, 30), j -> concat('s', pmod(hash(id, j), 100000))))")
    val docs = spark.range(n).select(col("id").as("doc_id"),
        when(col("id") % saladEvery === 0, salad).otherwise(prose).as("text"),
        concat(lit("lang"), pmod(col("id"), lit(3)).cast("string")).as("lang"))
      .persist()
    val nDocs = docs.count()
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (scored, tScore) = timed {
      val s = graft.operators.TextAnalysis
        .perplexityOn(docs, "doc_id", "text", "lang").persist()
      s.count(); s
    }
    val agg = scored
      .withColumn("is_salad", col("doc_id") % saladEvery === 0)
      .groupBy(col("is_salad"))
      .agg(count(lit(1)).as("n"), min(col("xent_milli")).as("mn"),
        max(col("xent_milli")).as("mx"))
      .collect().map(r => r.getBoolean(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (nProse, _, proseMax) = agg(false)
    val (nSalad, saladMin, _) = agg(true)
    val sepOk = nSalad > 0 && nProse > 0 && saladMin > proseMax
    // tile balance per language: exact ntile ⇒ sizes differ by ≤ 1
    val tiles = scored.groupBy(col("lang"), col("ppl_bucket"))
      .agg(count(lit(1)).as("c")).collect()
    val tileOk = tiles.groupBy(_.getString(0)).values.forall { rs =>
      val cs = rs.map(_.getLong(2))
      cs.length == 3 && cs.max - cs.min <= 1
    }
    // the log chain's input cardinality (distinct smoothed ratios)
    val distinctRatios = scored.agg(count_distinct(
      expr("xent_milli")).as("d")).head().getLong(0) // proxy visible post-agg
    val cardOk = distinctRatios < 200000L
    println(s"""{"metric":"scale_rehearsal_ppl","n_docs":$nDocs,""" +
      s""""scored":${nProse + nSalad},"score_sec":${f"$tScore%.1f"},""" +
      s""""prose_max_milli":$proseMax,"salad_min_milli":$saladMin,""" +
      s""""distinct_xent":$distinctRatios,""" +
      s""""sep_ok":$sepOk,"tile_ok":$tileOk,"card_ok":$cardOk}""")
    spark.stop()
    if (!(sepOk && tileOk && cardOk)) sys.exit(1)
  }

  /** Transactional-table rehearsal: the lakehouse tier at warehouse
    * row counts — a 20M-row key-clustered table across 64 files, then
    * the three locality claims measured instead of asserted:
    *  - PRUNED READ: a single-band predicate opens ≤ 3 of 64 files
    *    (manifest stats) and returns exactly the filtered full scan,
    *  - MERGE locality: a one-band update rewrites ≤ 3 files, the
    *    rest carry over by reference,
    *  - DELETE locality: same contract for a one-band delete,
    *  - CHANGE FEED: the version diff after a 1% append reads ONLY
    *    the delta files (row count == delta), never the table.
    * Each step also times the full-scan alternative it avoids, so the
    * record carries the measured ratio, not a slogan.
    */
  private def txMain(args: Array[String]): Unit = {
    import graft.sources.TxTable
    val n = if (args.nonEmpty) args(0).toLong else 20000000L
    val files = 64
    val spark = Session.local(Session.cpus)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val t = java.nio.file.Files.createTempDirectory("graft_tx_rehearsal")
      .resolve("t").toString
    // u: an affine key scramble — UNIQUE-ish values SCATTERED across
    // the id-clustered files, so every file's u-stats span the table
    // and only the bloom tier can skip (the bloom gate below)
    val base = spark.range(n).select(col("id"),
      expr("cast(pmod(hash(id), 1000) as int)").as("v"),
      expr(s"pmod(id * 2654435761, ${n}L)").as("u"))
    val (_, tCreate) = timed {
      TxTable.create(spark, t, base.repartitionByRange(files, col("id")), Seq("id"))
    }
    // single-band predicate: one 64th of the key space
    val (lo, hi) = (n / files * 10, n / files * 11 - 1)
    val (kept, skipped) = TxTable.prune(t, "id", lo, hi)
    val pruneOk = kept.size <= 3 && skipped.size >= files - 3
    val ((prunedCount, fullCount), tReads) = timed {
      (TxTable.readPruned(spark, t, "id", lo, hi).count(),
        TxTable.read(spark, t).filter(col("id").between(lo, hi)).count())
    }
    val readOk = prunedCount == fullCount && prunedCount == (hi - lo + 1)
    // one-band merge: 0.1% of keys inside the band re-valued
    val updates = spark.range(lo, lo + n / 1000).select(col("id"), lit(-1).as("v"))
    val (mRes, tMerge) = timed(TxTable.merge(spark, t, updates, "id", Seq("id")))
    val mergeOk = mRes.rewritten <= 3 && mRes.untouched >= files - 3
    // one-band delete
    val (dRes, tDelete) = timed(
      TxTable.deleteWhere(spark, t, col("id").between(lo + 100, lo + 5000), Seq("id")))
    val deleteOk = dRes.rewritten <= 3 &&
      TxTable.read(spark, t).filter(col("id").between(lo + 100, lo + 5000)).count() == 0
    // one-band CLAUSE MERGE (r16): conditional delete + update confined
    // to the band, plus a conditional NOT-MATCHED-BY-SOURCE clause whose
    // stats conjuncts exclude every other file — the full SQL MERGE
    // surface must stay file-granular at 20M rows
    val clauseSrc = spark.range(lo + 6000, lo + 8000).select(col("id"),
      when(col("id") % 2 === 0, "u").otherwise("d").as("op"),
      lit(-2).as("v"))
    val (mcRes, tClauses) = timed(TxTable.mergeClauses(spark, t, clauseSrc,
      "id", Seq("id"),
      whenMatched = Seq(
        TxTable.MergeClause(Some(TxTable.srcCol("op") === "d"),
          TxTable.MergeDelete),
        TxTable.MergeClause(Some(TxTable.srcCol("op") === "u"),
          TxTable.MergeUpdate(Map("v" -> TxTable.srcCol("v"))))),
      whenNotMatchedBySource = Seq(
        TxTable.MergeClause(
          Some(col("id").between(lo + 9000, lo + 9100)),
          TxTable.MergeUpdate(Map("v" -> lit(-3)))))))
    val clauseCounts = TxTable.read(spark, t).agg(
      count(when(col("v") === -2, 1)),
      count(when(col("id").between(lo + 6000, lo + 7999) &&
        col("id") % 2 =!= 0, 1)),
      count(when(col("v") === -3, 1))).head()
    val clausesOk = mcRes.rewritten <= 4 &&
      mcRes.untouched >= files - 4 &&
      clauseCounts.getLong(0) == 1000L && // evens updated
      clauseCounts.getLong(1) == 0L &&    // odds clause-deleted
      clauseCounts.getLong(2) == 101L     // NMBS band re-valued
    // 1% append, then the change feed reads only the delta files
    val vBefore = TxTable.latestVersion(t)
    val delta = spark.range(n, n + n / 100).select(col("id"),
      expr("cast(pmod(hash(id), 1000) as int)").as("v"),
      expr(s"pmod(id * 2654435761, ${n}L)").as("u"))
    TxTable.append(spark, t, delta, Seq("id"))
    val (cdf, tCdf) = timed {
      val c = TxTable.changesBetween(spark, t, vBefore, vBefore + 1)
      (c.filter(col("_change") === "insert").count(), c.filter(col("_change") === "delete").count())
    }
    val cdfOk = cdf._1 == n / 100 && cdf._2 == 0
    // DELETION-VECTOR point delete: the GDPR shape — ~0.1% of rows
    // scattered across EVERY file (predicate on the UNCLUSTERED value
    // column, so no file can be skipped or dropped) tombstones with
    // ZERO data files rewritten; the post-DV read anti-joins exactly
    // them out. The copy-on-write alternative would rewrite all 64
    // files (~the create cost) for the same 0.1%.
    val beforePaths = TxTable.manifest(t, TxTable.latestVersion(t))
      .files.map(_.path).toSet
    val (preTotal, matchCnt) = {
      val r = TxTable.read(spark, t)
        .agg(count(lit(1)), count(when(col("v") === 500, 1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (_, tDv) = timed(TxTable.deleteWithDVWhere(spark, t, col("v") === 500))
    val afterDv = TxTable.manifest(t, TxTable.latestVersion(t)).files
    val (postTotal, tDvRead) = timed(TxTable.read(spark, t).count())
    val dvOk = afterDv.map(_.path).toSet == beforePaths &&
      afterDv.map(_.dvRows).sum == matchCnt &&
      postTotal == preTotal - matchCnt
    // BLOOM point tier (r16): on the scattered column u every file's
    // min/max spans the table — stats prune NOTHING, so a point
    // mutation without the index rewrites all ~64 files. Build the
    // per-file bloom index once, then a 16-key lookup and a 16-key
    // delete must touch only bloom-positive files (true positives +
    // the fpp tail), never the whole table.
    // probe u values sampled from LIVE rows in an untouched id band
    // (bands 10-11 were mutated above; DV'd v=500 rows are filtered
    // out by reading the live view)
    val probeU = TxTable.read(spark, t)
      .filter(col("id").between((n / files) * 20, (n / files) * 20 + 5000))
      .select(col("u")).limit(16).collect().map(_.getLong(0)).toSeq
    val (nIdx, tBloomBuild) = timed(
      TxTable.buildBloomIndex(spark, t, "u", fpp = 0.001))
    val (lookCnt, tLook) = timed(
      TxTable.readPointLookup(spark, t, "u", probeU.map(_.toString)).count())
    import spark.implicits._
    val (bRes, tBloomDel) = timed(TxTable.deleteKeys(spark, t,
      probeU.toDF("u"), "u", Seq("id")))
    val bloomGone = TxTable.readPointLookup(spark, t, "u",
      probeU.map(_.toString)).count()
    val bloomOk = lookCnt >= 16 && bRes.rewritten <= 28 &&
      bRes.untouched >= afterDv.size - 28 && bloomGone == 0
    val ok = pruneOk && readOk && mergeOk && deleteOk && clausesOk &&
      cdfOk && dvOk && bloomOk
    println(s"""{"metric":"scale_rehearsal_tx","n_rows":$n,"files":$files,""" +
      s""""create_sec":${f"$tCreate%.1f"},"pruned_files":${kept.size},""" +
      s""""reads_sec":${f"$tReads%.1f"},"merge_rewritten":${mRes.rewritten},""" +
      s""""merge_sec":${f"$tMerge%.1f"},"delete_rewritten":${dRes.rewritten},""" +
      s""""delete_sec":${f"$tDelete%.1f"},""" +
      s""""clauses_rewritten":${mcRes.rewritten},""" +
      s""""clauses_sec":${f"$tClauses%.1f"},"clauses_ok":$clausesOk,""" +
      s""""cdf_sec":${f"$tCdf%.1f"},""" +
      s""""dv_rows":$matchCnt,"dv_sec":${f"$tDv%.1f"},""" +
      s""""dv_read_sec":${f"$tDvRead%.1f"},""" +
      s""""bloom_files":$nIdx,"bloom_build_sec":${f"$tBloomBuild%.1f"},""" +
      s""""bloom_lookup_sec":${f"$tLook%.1f"},""" +
      s""""bloom_del_rewritten":${bRes.rewritten},""" +
      s""""bloom_del_sec":${f"$tBloomDel%.1f"},"bloom_ok":$bloomOk,""" +
      s""""prune_ok":$pruneOk,"read_ok":$readOk,"merge_ok":$mergeOk,""" +
      s""""delete_ok":$deleteOk,"cdf_ok":$cdfOk,"dv_ok":$dvOk}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Version-LOG rehearsal: the commit protocol alone at 100 TB-shaped
    * version counts — 1,000 commits appending into a live set that
    * grows to ~1,000 files, no Spark session (the log layer is pure
    * metadata; the data path is the `tx` rehearsal above). Gates:
    *  - O(delta) commit cost: the MEDIAN delta-record size over the
    *    last 100 commits is within 1.5× the first 100's, while the
    *    live set grew ~10× — per-commit bytes must not scale with
    *    the table,
    *  - checkpointed resolution: every 97th version's resolved live
    *    set equals the spec-side tracked truth; resolve time at
    *    v1000 stays in single-digit milliseconds,
    *  - vacuum to a mid-log delta version keeps every retained
    *    version resolvable (horizon sidecar).
    */
  private def txlogMain(args: Array[String]): Unit = {
    import graft.sources.TxTable
    import graft.sources.TxTable.{ColStats, FileEntry}
    val commits = if (args.nonEmpty) args(0).toInt else 1000
    val t = java.nio.file.Files.createTempDirectory("graft_txlog").resolve("t").toString
    // entries are fabricated (metadata-only rehearsal) but vacuum walks
    // the data dir, so it must exist
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t, "data"))
    def entry(i: Int): FileEntry =
      FileEntry(f"data/a-$i%08d/part-00000.parquet", 1000L,
        Map("id" -> ColStats.ofLongs(i * 1000L, i * 1000L + 999L)),
        Map("id" -> 0L))
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    var live = Vector.empty[FileEntry]
    var expected = Map.empty[Int, Set[String]]
    val (_, tCommits) = timed {
      (1 to commits).foreach { v =>
        live :+= entry(v)
        TxTable.commit(t, v - 1, live)
        if (v % 97 == 0 || v == commits) expected += v -> live.map(_.path).toSet
      }
    }
    def recordBytes(v: Int): Long = java.nio.file.Files.size(
      java.nio.file.Paths.get(t, "_log", f"v$v%08d.json"))
    def medianDeltaBytes(r: Range): Long = {
      val ds = r.filter(v => v != 1 && v % TxTable.CheckpointInterval != 0)
        .map(recordBytes).sorted
      ds(ds.size / 2)
    }
    val early = medianDeltaBytes(2 to 101)
    val late = medianDeltaBytes(commits - 100 until commits)
    val deltaOk = late <= (early * 3) / 2
    val ((resolved, resolveOk), tResolve) = timed {
      val m = TxTable.manifest(t, commits)
      (m.files.size, expected.forall { case (v, want) =>
        TxTable.manifest(t, v).files.map(_.path).toSet == want
      })
    }
    // the streaming source's per-trigger path: a half-log action walk
    // reads each record ONCE, O(versions·delta) — the CDC consumer's
    // catch-up metadata cost at 10⁶-file table scale
    val ((walkAdds, walkRemoves), tWalk) = timed {
      val (a, r, _) = TxTable.actionsBetween(t, commits / 2, commits)
      (a.size, r.size)
    }
    val walkOk = walkAdds == commits - commits / 2 && walkRemoves == 0
    // vacuum to a mid-log NON-checkpoint version: the sidecar must keep
    // the whole retained window resolvable
    val horizon = commits / 2 + 1 // odd → never a checkpoint multiple
    TxTable.vacuum(t, keepFromVersion = horizon)
    val vacuumOk = (horizon to commits by 101).forall { v =>
      TxTable.manifest(t, v).files.size == v
    } && TxTable.oldestRetainedVersion(t) == horizon
    val ok = deltaOk && resolveOk && vacuumOk && walkOk && resolved == commits
    println(s"""{"metric":"scale_rehearsal_txlog","commits":$commits,""" +
      s""""commits_sec":${f"$tCommits%.2f"},"early_delta_bytes":$early,""" +
      s""""late_delta_bytes":$late,"resolve_sec":${f"$tResolve%.4f"},""" +
      s""""walk_sec":${f"$tWalk%.4f"},"walk_adds":$walkAdds,""" +
      s""""live_files":$resolved,"delta_ok":$deltaOk,"resolve_ok":$resolveOk,""" +
      s""""walk_ok":$walkOk,"vacuum_ok":$vacuumOk}""")
    if (!ok) sys.exit(1)
  }

  /** Cross-JVM catalog persistence rehearsal: the `tx_catalog_read`
    * driver query proves cross-SESSION resolution; this mode proves
    * cross-PROCESS — the reference's warehouse outlives restarts
    * (dashboards reconnect after a redeploy). Run `catalog write
    * <dir>` in one JVM (Hive/Derby metastore under <dir>, a graft-tx
    * table registered), then `catalog read <dir>` in a FRESH JVM: the
    * table must resolve from the on-disk metastore alone. Identical
    * code path to the in-memory catalog — only
    * spark.sql.catalogImplementation changes.
    */
  private def catalogMain(args: Array[String]): Unit = {
    import graft.sources.TxTable
    val phase = args(0)
    val base = args(1)
    val spark = Session.local(4,
      "spark.sql.catalogImplementation" -> "hive",
      "spark.sql.warehouse.dir" -> s"$base/warehouse",
      "javax.jdo.option.ConnectionURL" -> s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
    phase match {
      case "write" =>
        val t = s"$base/tx_table"
        TxTable.create(spark, t,
          spark.range(100).selectExpr("id", "cast(id % 7 as long) as v"), Seq("id"))
        TxTable.append(spark, t,
          spark.range(100, 150).selectExpr("id", "cast(id % 7 as long) as v"), Seq("id"))
        spark.sql("DROP TABLE IF EXISTS graft_cat_jvm")
        spark.sql(s"CREATE TABLE graft_cat_jvm USING `graft-tx` OPTIONS (path '$t')")
        spark.sql("DROP TABLE IF EXISTS graft_cat_jvm_v1")
        spark.sql(s"CREATE TABLE graft_cat_jvm_v1 USING `graft-tx` " +
          s"OPTIONS (path '$t', version '1')")
        val n = spark.table("graft_cat_jvm").count()
        println(s"""{"metric":"scale_rehearsal_catalog","phase":"write","n":$n,"ok":${n == 150L}}""")
        spark.stop()
        if (n != 150L) sys.exit(1)
      case "read" =>
        // a FRESH JVM: resolution rides the on-disk Derby metastore
        val n = spark.table("graft_cat_jvm").count()
        val n1 = spark.table("graft_cat_jvm_v1").count()
        val pushed = spark.table("graft_cat_jvm").filter(col("id") < 100).count()
        val ok = n == 150L && n1 == 100L && pushed == 100L
        println(s"""{"metric":"scale_rehearsal_catalog","phase":"read",""" +
          s""""n_latest":$n,"n_v1":$n1,"pushed":$pushed,"ok":$ok}""")
        spark.stop()
        if (!ok) sys.exit(1)
    }
  }
}
