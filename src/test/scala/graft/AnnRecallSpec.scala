package graft

import org.apache.spark.sql.{Column, DataFrame}

/** ANN recall gate (VERDICT r1 item 7): lsh/multiprobe/ivf verify
  * against oracles that mirror their own prefilter — correct by
  * construction — so this spec measures what those checks can't:
  * recall@5 against the exact brute-force top-k on the sf0.01
  * embedding set. Numbers are printed so tuning rounds have a metric;
  * the assertions pin the ordering (multi-probe dominates single-
  * bucket) and a floor under each variant.
  *
  * Ceiling note (measured): beyond the planted near-dup clusters, this
  * corpus's true top-5 neighbors have cosine ≈ 0.002 on average — pure
  * noise with no angular signal, spread uniformly across SRP buckets —
  * so recall ≈ 0.45 IS the planted-cluster ceiling here; no probing
  * width can recover no-signal "neighbors" (hamming-2 probing was
  * verified to add zero hits). The floors below gate the part ANN can
  * and must find: the genuinely-similar cluster mates.
  */
class AnnRecallSpec extends SparkSpecBase {

  private val Sf001 = "/root/testdata/sf0.01"

  private def hits(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The id inputs the maintenance passes must treat like BIGINT ids:
    * (label, id map, map back, the id type a mapped graph keeps).
    */
  private val IdMaps = {
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
    Seq[(String, Column => Column, Column => Column, DataType)](
      ("INT ids", _.cast("int"), _.cast("long"), IntegerType),
      ("7·id − 200", c => c * 7 - 200, c => (c + 200).divide(7).cast("long"), LongType))
  }

  /** `df` with the id columns `cs` mapped by `to`. */
  private def mapIds(df: DataFrame, to: Column => Column, cs: String*): DataFrame =
    df.select(df.columns.map(c =>
      if (cs.contains(c)) to(df.col(c)).as(c) else df.col(c)): _*)

  /** A graph's rows with its ids mapped `back`, for comparison. */
  private def edges(g: DataFrame, back: Column => Column): Set[Seq[Any]] =
    g.select(back(g.col("u")), back(g.col("nbr")), g.col("cos_sim"), g.col("rk"))
      .collect().map(_.toSeq).toSet

  /** One zero-norm vector, vec_id 1000, in `e`'s (vec_id, embedding) schema. */
  private def zeroVector(e: DataFrame): DataFrame = {
    val v = e.select("vec_id", "embedding")
    spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(1000L, Seq.fill(64)(0f))), v.schema)
  }

  test("recall@5 vs brute force: multitable > multiprobe >= lsh, floors hold") {
    val truth = hits(SparkEntry.queries("sim_bruteforce_topk")(spark, Sf001))
    assert(truth.nonEmpty)
    def recall(name: String): Double = {
      val r = hits(SparkEntry.queries(name)(spark, Sf001)).intersect(truth).size.toDouble / truth.size
      info(f"recall@5 $name%-18s = $r%.3f (truth ${truth.size})")
      r
    }
    val lsh = recall("sim_lsh_ann")
    val multi = recall("sim_lsh_multiprobe")
    val table = recall("sim_lsh_multitable")
    val ivf = recall("sim_ivf_ann")
    val ivfR = recall("sim_ivf_refine")
    // single-bucket at 8 selective planes is a correctness demo, not a
    // recall path (256 buckets over 492 candidates ≈ 2 per bucket) —
    // no floor; the ladder single < multiprobe < multitable is the gate
    assert(multi >= lsh, s"multi-probe ($multi) must not lose to single-bucket ($lsh)")
    assert(table >= multi, s"multi-table ($table) must not lose to multi-probe ($multi)")
    // floors recalibrated in r3: fixing the lag-64 plane correlation
    // (SrpBucket's second mixing round) made buckets HONESTLY uniform —
    // the correlated planes had been clumping vectors into fewer
    // effective buckets, inflating shallow-probe recall by feeding it
    // oversized candidate sets (r2's multiprobe 0.475 came with a
    // 1.8×-uniform candidate volume). The recall PATH is multitable,
    // whose floor stays at 0.9.
    assert(multi >= 0.2, s"multi-probe recall collapsed: $multi (0.275 measured r3)")
    assert(table >= 0.9, s"multi-table recall floor: $table (0.925 measured r3)")
    assert(ivf >= 0.4, s"IVF (nprobe=2, k=256) recall collapsed: $ivf (0.45 measured r2)")
    // the two-stage refine probes 4 cells (vs 2) and re-ranks a
    // 20-deep quantized shortlist — it must dominate single-stage IVF
    assert(ivfR >= ivf, s"IVF refine ($ivfR) must not lose to single-stage IVF ($ivf)")
  }

  test("signal recall: genuinely-similar neighbors (cos >= 0.4) are found by multi-table LSH") {
    // the metric that matters for near-dup mining: of the true top-5
    // pairs with real angular signal, how many does the bucketed path
    // recover? One 8-plane table collides a cos-0.4 pair with
    // probability ~0.63^8 ≈ 0.03 — hopeless; 16 tables × 4 planes give
    // 1−(1−0.63⁴)^16 ≈ 0.94, which is why multi-table is the scale
    // path for moderate-similarity retrieval.
    val bf = SparkEntry.queries("sim_bruteforce_topk")(spark, Sf001)
    val signal = bf.filter(org.apache.spark.sql.functions.col("cos_sim") >= 0.4)
    val truth = hits(signal)
    assert(truth.nonEmpty, "corpus lost its planted near-dup clusters")
    val found = hits(SparkEntry.queries("sim_lsh_multitable")(spark, Sf001)).intersect(truth)
    val r = found.size.toDouble / truth.size
    info(f"signal recall@5 (cos>=0.4) multitable = $r%.3f (${truth.size} signal pairs)")
    assert(r >= 0.9, s"multi-table misses genuinely-similar neighbors: $r")
  }

  test("sim_knn_graph: NN-Descent improves on its init and finds the signal neighbors") {
    import org.apache.spark.sql.functions.col
    val e = graft.util.Tables.embeddings(spark, Sf001)
    // graph truth: exact top-4 per node (self excluded — self is the
    // cos-1.0 rank-1 row of a k=5 self-join)
    val truthDf = graft.operators.Similarity.bruteforceTopkOn(
      e.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
      e.select(col("vec_id").as("c_id"), col("embedding").as("cv")), 5)
      .filter(col("q_id") =!= col("c_id"))
    val truth = hits(truthDf)
    val signal = hits(truthDf.filter(col("cos_sim") >= 0.4))
    assert(signal.nonEmpty, "corpus lost its planted near-dup clusters")
    def graphPairs(rounds: Int): Set[(Long, Long)] =
      graft.operators.Similarity.knnGraphOn(e, rounds = rounds)
        .select("u", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val init = graphPairs(0)
    val descended = graphPairs(3)
    val r0 = init.intersect(truth).size.toDouble / truth.size
    val r3 = descended.intersect(truth).size.toDouble / truth.size
    val rs = descended.intersect(signal).size.toDouble / signal.size
    info(f"knn-graph recall@4: init = $r0%.3f, after 3 rounds = $r3%.3f " +
      f"(truth ${truth.size}); signal (cos>=0.4) = $rs%.3f (${signal.size} pairs)")
    assert(r3 > r0, s"descent did not improve on its init: $r0 -> $r3")
    // the metric that matters: cluster mates with real angular signal
    // concentrate the descent — they must be found
    assert(rs >= 0.8, s"NN-Descent misses genuinely-similar neighbors: $rs")
  }

  test("incremental kNN-graph insert: 10% delta, recall within 2pts of a full rebuild") {
    import org.apache.spark.sql.functions.col
    val e = graft.util.Tables.embeddings(spark, Sf001)
    val n = e.count()
    val cut = (n * 9 / 10)
    val base = e.filter(col("vec_id") < cut)
    val delta = e.filter(col("vec_id") >= cut)
    assert(delta.count() > 0)
    val truthDf = graft.operators.Similarity.bruteforceTopkOn(
      e.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
      e.select(col("vec_id").as("c_id"), col("embedding").as("cv")), 5)
      .filter(col("q_id") =!= col("c_id"))
    val truth = hits(truthDf)
    def pairs(g: DataFrame): Set[(Long, Long)] =
      g.select("u", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gBase = graft.operators.Similarity.knnGraphOn(base)
    val gIncr = graft.operators.Similarity.knnGraphInsert(gBase, base, delta)
    val gFull = graft.operators.Similarity.knnGraphOn(e)
    val rIncr = pairs(gIncr).intersect(truth).size.toDouble / truth.size
    val rFull = pairs(gFull).intersect(truth).size.toDouble / truth.size
    // delta-node quality specifically: the arrivals' own true
    // neighborhoods must be linked, not just reachable
    val deltaTruth = truth.filter(_._1 >= cut)
    val rDelta = pairs(gIncr).intersect(deltaTruth).size.toDouble / deltaTruth.size
    info(f"knn-graph insert recall@4: incremental = $rIncr%.3f vs full rebuild = " +
      f"$rFull%.3f (truth ${truth.size}); delta-node recall = $rDelta%.3f (${deltaTruth.size})")
    assert(rIncr >= rFull - 0.02,
      s"incremental maintenance lost more than 2pts vs rebuild: $rIncr vs $rFull")
    assert(rDelta >= rFull - 0.05,
      s"arrivals are under-linked relative to the rebuilt graph: $rDelta vs $rFull")
    // the maintained graph keeps the builder's contract: <= k rows per
    // node, every node present
    val degs = gIncr.groupBy("u").count()
    assert(degs.filter(col("count") > graft.operators.Similarity.KnnGraphK).count() == 0)
    // INT and sparse negative ids maintain the same graph, in the id
    // type of the graph they were given
    val want = edges(gIncr, identity)
    IdMaps.foreach { case (label, to, back, t) =>
      val g = graft.operators.Similarity.knnGraphInsert(mapIds(gBase, to, "u", "nbr"),
        mapIds(base, to, "vec_id"), mapIds(delta, to, "vec_id"))
      assert(Seq("u", "nbr").map(g.schema(_).dataType) == Seq(t, t), s"$label: ${g.schema}")
      assert(edges(g, back) == want, s"$label: differs from the BIGINT run")
    }
    // a zero-norm arrival has no cosine: refused by name
    val m = messages(intercept[Exception](
      graft.operators.Similarity.knnGraphInsert(gBase, base, zeroVector(e))))
    assert(m.contains("knnGraphInsert: vec_id 1000 has a zero-norm embedding"), m)
  }

  test("incremental kNN-graph delete: 5% purge, recall within 2pts of a fresh rebuild, no tombstone survives") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val e = graft.util.Tables.embeddings(spark, Sf001)
    val del = e.filter(pmod(col("vec_id"), lit(20L)) === 0L).select(col("vec_id"))
    val delIds = del.collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty)
    val survivors = e.filter(pmod(col("vec_id"), lit(20L)) =!= 0L)
    // truth over the SURVIVING corpus only — the post-purge ground set
    val truthDf = graft.operators.Similarity.bruteforceTopkOn(
      survivors.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
      survivors.select(col("vec_id").as("c_id"), col("embedding").as("cv")), 5)
      .filter(col("q_id") =!= col("c_id"))
    val truth = hits(truthDf)
    def pairs(g: DataFrame): Set[(Long, Long)] =
      g.select("u", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gFull = graft.operators.Similarity.knnGraphOn(e)
    val gDel = graft.operators.Similarity.knnGraphDelete(gFull, e, del)
    val gRebuild = graft.operators.Similarity.knnGraphOn(survivors)
    val pDel = pairs(gDel)
    // the purge is total: no tombstone on either edge side
    assert(!pDel.exists(p => delIds(p._1) || delIds(p._2)),
      "a deleted vector survived in the maintained graph")
    val rDel = pDel.intersect(truth).size.toDouble / truth.size
    val rRebuild = pairs(gRebuild).intersect(truth).size.toDouble / truth.size
    // orphan-node quality specifically: nodes that LOST a neighbor
    // must re-link, not merely shrink
    val orphanIds = pairs(gFull)
      .collect { case (u, n) if delIds(n) && !delIds(u) => u }.toSet
    assert(orphanIds.nonEmpty)
    val orphanTruth = truth.filter(t => orphanIds(t._1))
    val rOrphan = pDel.intersect(orphanTruth).size.toDouble / orphanTruth.size
    val rOrphanRebuild = pairs(gRebuild).intersect(orphanTruth).size.toDouble / orphanTruth.size
    info(f"knn-graph delete recall@4: maintained = $rDel%.3f vs rebuild = " +
      f"$rRebuild%.3f (truth ${truth.size}); orphan-node recall = $rOrphan%.3f " +
      f"vs $rOrphanRebuild%.3f (${orphanTruth.size})")
    assert(rDel >= rRebuild - 0.02,
      s"local repair lost more than 2pts vs a fresh rebuild: $rDel vs $rRebuild")
    assert(rOrphan >= rOrphanRebuild - 0.05,
      s"orphaned neighborhoods are under-repaired: $rOrphan vs $rOrphanRebuild")
    // builder contract intact: <= k rows per node
    val degs = gDel.groupBy("u").count()
    assert(degs.filter(col("count") > graft.operators.Similarity.KnnGraphK).count() == 0)
    // INT and sparse negative ids: the same repair, in the graph's id type
    val want = edges(gDel, identity)
    IdMaps.foreach { case (label, to, back, t) =>
      val g = graft.operators.Similarity.knnGraphDelete(mapIds(gFull, to, "u", "nbr"),
        mapIds(e, to, "vec_id"), mapIds(del, to, "vec_id"))
      assert(Seq("u", "nbr").map(g.schema(_).dataType) == Seq(t, t), s"$label: ${g.schema}")
      assert(edges(g, back) == want, s"$label: differs from the BIGINT run")
    }
    // a zero-norm survivor has no cosine: refused by name
    val m = messages(intercept[Exception](graft.operators.Similarity.knnGraphDelete(gFull,
      e.select("vec_id", "embedding").unionAll(zeroVector(e)), del)))
    assert(m.contains("knnGraphDelete: vec_id 1000 has a zero-norm embedding"), m)
  }

  test("graph-beam frontier search recall@5 vs brute force") {
    // brute-force truth excludes candidates < 8 (the probe block) while
    // the beam searches the full graph, so a beam slot spent on a
    // sub-8 true neighbor reads as a miss here — 0.95 measured against
    // this restricted truth, 1.000 against the full-corpus truth.
    val truth = hits(SparkEntry.queries("sim_bruteforce_topk")(spark, Sf001))
    val beam = hits(SparkEntry.queries("sim_graph_beam")(spark, Sf001))
    val r = beam.intersect(truth).size.toDouble / truth.size
    info(f"recall@5 sim_graph_beam = $r%.3f (truth ${truth.size})")
    assert(r >= 0.9, s"graph-beam recall floor: $r (0.95 measured r9; " +
      "directed greedy beam from fixed entries measured 0.125 — the " +
      "LSH seeding + frontier/visited split are both load-bearing)")
  }

  test("binary Hamming ANN recall@5 vs brute force; codes separate signal from noise") {
    val truth = hits(SparkEntry.queries("sim_bruteforce_topk")(spark, Sf001))
    val ham = SparkEntry.queries("sim_hamming_ann")(spark, Sf001)
    val got = hits(ham)
    val r = got.intersect(truth).size.toDouble / truth.size
    info(f"recall@5 sim_hamming_ann = $r%.3f (truth ${truth.size})")
    assert(r >= 0.6, s"binary-code recall floor: $r — 64 sign bits + " +
      "band prefilter should recover most exact top-5")
    // every emitted pair respects the radius screen
    assert(ham.collect().forall(_.getAs[Long]("hamming") <= graft.operators.Similarity.HammingRadius.toLong))
  }

  test("HNSW incremental insert: maintained hierarchy searches within 5pts of a rebuilt one") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    val e = graft.util.Tables.embeddings(spark, Sf001)
    val n = e.count()
    val cut = n * 9 / 10
    val base = e.filter(col("vec_id") < cut)
    val delta = e.filter(col("vec_id") >= cut)
    // probes from both sides: residents (the sim_hnsw probe block) and
    // arrivals (whose layers only the insert path ever linked)
    val probes = e.filter(col("vec_id") < 8 || col("vec_id") >= n - 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val truth = hits(S.bruteforceTopkOn(
        probes, e.select(col("vec_id").as("c_id"), col("embedding").as("cv")), 6)
      .filter(col("q_id") =!= col("c_id")))
    val layersBase = S.hnswBuild(base).map(_.localCheckpoint(true))
    val maintained = S.hnswInsert(layersBase, base, delta)
    val rebuilt = S.hnswBuild(e).map(_.localCheckpoint(true))
    assert(maintained.length == rebuilt.length,
      "a 10% delta must not change the hierarchy depth at this N")
    def searchRecall(layers: Seq[DataFrame]): Double =
      hits(S.hnswSearchOn(layers, e, probes)).intersect(truth).size.toDouble / truth.size
    val rM = searchRecall(maintained)
    val rR = searchRecall(rebuilt)
    info(f"hnsw insert search recall: maintained = $rM%.3f vs rebuilt = $rR%.3f (truth ${truth.size})")
    assert(rM >= rR - 0.05,
      s"maintained hierarchy lost more than 5pts vs a full rebuild: $rM vs $rR")
  }

  test("HNSW layered search recall@5 vs brute force") {
    // the hierarchy must navigate to the same neighborhoods the flat
    // LSH-seeded beam reaches — entry set + 2 coarse-layer ef-beams
    // replacing the global bucket join
    val truth = hits(SparkEntry.queries("sim_bruteforce_topk")(spark, Sf001))
    val layered = hits(SparkEntry.queries("sim_hnsw")(spark, Sf001))
    val r = layered.intersect(truth).size.toDouble / truth.size
    info(f"recall@5 sim_hnsw = $r%.3f (truth ${truth.size})")
    assert(r >= 0.9, s"hnsw recall floor: $r — the layer descent is " +
      "dropping the query's neighborhood before the base beam")
  }
}
