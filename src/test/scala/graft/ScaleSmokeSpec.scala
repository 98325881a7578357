package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Scale smoke test: the dedup stack on a corpus 40× the sf0.001 spec
  * corpus (and 4× sf0.1's), with planted structure — catches the class
  * of bug that only appears when buckets/posting lists actually fill
  * up (the round-1 SRP degeneracy was exactly such a bug: invisible at
  * 500 docs, catastrophic at scale). Deterministic generation, loose
  * wall-clock bound.
  */
class ScaleSmokeSpec extends SparkSpecBase {

  private val NDocs = 20000
  private val Planted = 200

  private def corpus = {
    import spark.implicits._
    // wide vocabulary (4000 words) so unrelated docs share almost no
    // shingles — accidental similarity must come from the hashing, not
    // from a toy word pool
    val rnd = new scala.util.Random(20260812)
    val base = (0 until NDocs).map { i =>
      (i.toLong, Seq.fill(30)("w" + rnd.nextInt(4000)).mkString(" "))
    }
    // plant near-dups: doc k*100 gets a copy at id NDocs+k with its
    // FIRST word changed — exactly one of ~28 distinct 3-shingles
    // differs per side, 3-shingle jaccard ≈ 27/29 ≈ 0.93
    val dups = (0 until Planted).map { k =>
      val words = base(k * 100)._2.split(" ")
      words(0) = "mutated"
      (NDocs + k.toLong, words.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("minhash LSH finds planted near-dups in a 20k-doc corpus, clusters converge") {
    val docs = corpus.persist()
    docs.count()
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashLshOn(docs, "doc_id", "text")
      .filter(col("est_sim") >= 0.5).persist()
    val planted = pairs
      .filter(col("b_id") >= NDocs && col("a_id") === (col("b_id") - NDocs) * 100)
      .count()
    // 16-sig 4x4-band LSH at jaccard ~0.93: per-band P ≈ 0.93^4 ≈ 0.75,
    // any-of-4 ≈ 0.996 → ~1 expected miss over 200
    assert(planted >= (Planted * 0.95).toInt,
      s"LSH lost planted near-dups: $planted of $Planted")
    // the cluster layer absorbs the found pairs without round blowup
    val clusters = Dedup.clustersOn(pairs, docs.select(col("doc_id").as("id")))
    val merged = clusters.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).count()
    assert(merged >= (Planted * 0.95).toInt, s"clusters lost pairs: $merged")
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"20k-doc minhash+cluster: $secs%.1f s, $planted/$Planted planted pairs found")
    assert(secs < 180, f"dedup stack too slow at 20k docs: $secs%.1f s")
    docs.unpersist(); pairs.unpersist()
  }

  test("star-contraction clustering matches propagation on the 20k-doc near-dup graph, bounded wall-clock") {
    val docs = corpus.persist()
    docs.count()
    val pairs = Dedup.minhashLshOn(docs, "doc_id", "text")
      .filter(col("est_sim") >= 0.5).persist()
    pairs.count()
    val ids = docs.select(col("doc_id").as("id"))
    val t0 = System.nanoTime()
    val pd = Dedup.clustersPdOn(pairs, ids)
    // same partition: compare against clustersOn's labels (driver
    // union-find when the graph fits), not just counts
    val lp = Dedup.clustersOn(pairs, ids)
    val diff = pd.select(col("doc_id"), col("cluster_id").as("pd"))
      .join(lp.select(col("doc_id"), col("cluster_id").as("lp")), Seq("doc_id"))
      .filter(col("pd") =!= col("lp")).count()
    assert(diff == 0, s"$diff docs labeled differently by contraction vs clustersOn")
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"20k-doc star contraction + equivalence check: $secs%.1f s")
    assert(secs < 120, f"star contraction too slow at 20k docs: $secs%.1f s")
    docs.unpersist(); pairs.unpersist()
  }

  test("simhash buckets stay balanced on the 20k-doc corpus (no degenerate hashing)") {
    val docs = corpus
    val pairs = Dedup.simhashPairsOn(docs, "doc_id", "text")
    // over a wide vocabulary unrelated 32-bit fingerprints land within
    // hamming 1 only by chance — output volume is the telltale for a
    // degenerate fingerprint distribution (the round-1 SRP bug's twin)
    val n = pairs.count()
    assert(n < NDocs.toLong * 20, s"simhash near-dup volume exploded: $n pairs")
  }

  test("khop hub cap bounds the self-join on a planted-hub graph: candidate volume is cap·N, not deg²") {
    import spark.implicits._
    // a 5000-leaf star: the worst shape for the 2-hop self-join — every
    // (leaf, leaf') pair meets at the hub, so the UNCAPPED middle-vertex
    // join would emit deg² = 25M candidate rows on ONE key; the
    // deterministic top-cap adjacency keeps it at deg·cap = 320k
    val hubDeg = 5000
    val edges = (1 to hubDeg).map(i => (0L, i.toLong)).toDF("a_item", "b_item")
    val got = graft.operators.Affinity.khopOn(edges)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_1hop"), r.getAs[Long]("n_reach2")))).toMap
    // hub: all leaves are 1-hop; nothing new at 2 hops
    assert(got(0L) == ((hubDeg.toLong, hubDeg.toLong)))
    // each leaf reaches the hub plus AT MOST cap second-hop neighbors —
    // the capped sample, never the full deg(hub) fan-out
    val leafReach = got.collect { case (id, (_, r2)) if id != 0L => r2 }
    assert(leafReach.size == hubDeg)
    assert(leafReach.max <= graft.operators.Affinity.KhopDegCap + 1,
      s"hub cap did not bind: max leaf reach ${leafReach.max}")
    assert(leafReach.min >= graft.operators.Affinity.KhopDegCap.toLong,
      s"cap kept too few: min leaf reach ${leafReach.min}")
    // raising the cap past the max degree restores the exact semantics
    val exact = graft.operators.Affinity.khopOn(edges, degCap = hubDeg + 1)
      .filter(col("id") =!= 0L).agg(min(col("n_reach2")), max(col("n_reach2"))).head
    assert(exact.getLong(0) == hubDeg.toLong && exact.getLong(1) == hubDeg.toLong)
  }

  test("bipartite projection hub cap: pair volume is Σ min(deg,cap)², not Σ deg²") {
    import spark.implicits._
    // one 5000-item hub account + 2000 normal 8-item users. Uncapped,
    // the hub alone projects deg²/2 = 12.5M pairs onto ONE join key;
    // capped, it contributes at most cap²/2 = 128 — the normal users
    // dominate and total output stays linear in the input
    val hubDeg = 5000
    val cap = graft.operators.Affinity.BipartiteDegCap
    val hub = (1 to hubDeg).map(i => (0L, i.toLong))
    val normals = (1 to 2000).flatMap(u => (1 to 8).map(i => (u.toLong, ((u * 7 + i) % 500).toLong)))
    val edges = (hub ++ normals).toDF("u", "v")
    val proj = graft.operators.Affinity.bipartiteProjectOn(edges, "u", "v", minShared = 1L)
    // total pair mass (pre-dedup) = Σ over users of min(deg,cap)·(min(deg,cap)−1)/2
    val pairMass = proj.agg(sum(col("n_shared"))).head.getLong(0)
    val bound = (hubDeg.toLong.min(cap) * (hubDeg.toLong.min(cap) - 1)) / 2 +
      2000L * (8L * 7L) / 2
    assert(pairMass == bound,
      s"pair mass $pairMass != Σ min(deg,cap)²-bound $bound — cap not binding or over-binding")
    // raising the cap past max degree restores exact projection on the
    // normal users' subgraph (hub excluded: its exact form is the 12.5M
    // blow-up the cap exists to prevent)
    val exactNormals = graft.operators.Affinity.bipartiteProjectOn(
      normals.toDF("u", "v"), "u", "v", degCap = 16, minShared = 1L)
    val unc = graft.operators.Affinity.bipartiteProjectOn(
      normals.toDF("u", "v"), "u", "v", degCap = 1000000, minShared = 1L)
    assert(exactNormals.unionAll(unc).distinct().count() == unc.count(),
      "cap altered projection on a graph whose degrees are all below it")
  }

  test("minhash→cluster→keep-best stack at 200k docs: planted recall, bounded candidate volume, one survivor per cluster") {
    // 10× the 20k smoke — the sf1-shaped rehearsal. Generated ON THE
    // EXECUTORS (spark.range + hash-derived words): a 200k-row
    // driver-side Seq would serialize ~40 MB through the driver, which
    // is exactly the anti-pattern the operators avoid. Same planted
    // structure as the 20k corpus: doc k*100 duplicated at id 200k+k
    // with its first word mutated (3-shingle jaccard ≈ 0.93).
    val N = 200000L
    val PlantedBig = 2000L
    def words(idCol: String, from: Int) = expr(
      s"transform(sequence($from, 30), j -> concat('w', pmod(hash($idCol, j), 4000)))")
    val base = spark.range(N).select(col("id").as("doc_id"),
      concat_ws(" ", words("id", 1)).as("text"))
    val dups = spark.range(PlantedBig).select((col("id") + N).as("doc_id"),
      concat(lit("mutated "), concat_ws(" ", words("id * 100", 2))).as("text"))
    val docs = base.unionByName(dups).persist()
    docs.count()
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashLshOn(docs, "doc_id", "text")
      .filter(col("est_sim") >= 0.5).persist()
    val nPairs = pairs.count()
    // bucket-health invariant at the larger N: candidate SURVIVORS stay
    // linear-ish in N (wide vocabulary → unrelated docs almost never
    // agree on a band); a degenerate signature would go quadratic
    assert(nPairs < N * 2, s"near-dup pair volume exploded at 200k docs: $nPairs")
    val planted = pairs
      .filter(col("b_id") >= N && col("a_id") === (col("b_id") - N) * 100)
      .count()
    assert(planted >= (PlantedBig * 0.95).toLong,
      s"LSH lost planted near-dups at 200k: $planted of $PlantedBig")
    // cluster + keep-best (argmax per cluster, map-side combinable):
    // exactly one survivor per cluster, and the planted clusters keep
    // their lower-id (original) member under the min-id policy
    val clusters = Dedup.clustersOn(pairs, docs.select(col("doc_id").as("id"))).persist()
    val survivors = clusters.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_members"))
      .persist()
    val nSurv = survivors.count()
    val nMerged = survivors.filter(col("n_members") >= 2).count()
    assert(nMerged >= (PlantedBig * 0.95).toLong, s"clusters lost planted pairs: $nMerged")
    // each found planted pair removes one doc; ≤5% may be missed, and
    // accidental merges may remove at most another PlantedBig docs
    assert(nSurv <= N + (PlantedBig * 0.05).toLong, s"dedup kept too many: $nSurv of ${N + PlantedBig}")
    assert(nSurv >= N - PlantedBig, s"dedup over-merged: $nSurv")
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"200k-doc minhash+cluster+keep-best: $secs%.1f s, $planted/$PlantedBig planted, $nSurv survivors")
    assert(secs < 600, f"dedup stack too slow at 200k docs: $secs%.1f s")
    docs.unpersist(); pairs.unpersist(); clusters.unpersist(); survivors.unpersist()
  }

  test("LPA communities at 20k nodes: 2000 planted cliques recovered exactly, bounded wall-clock") {
    import spark.implicits._
    // 2000 disjoint 10-cliques: LPA must converge each to its min id
    // within the fixed 4 rounds (clique diameter 1), and the run must
    // stay in the seconds range — the shape where a per-round plan
    // explosion or an unpinned edge build shows up immediately
    val edges = (for {
      c <- 0 until 2000
      i <- 0 until 10; j <- (i + 1) until 10
    } yield (c * 10L + i, c * 10L + j)).toDF("a_item", "b_item")
    val t0 = System.nanoTime()
    val labels = graft.operators.Affinity.communityLpOn(edges).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(labels.length == 20000)
    val wrong = labels.filter(r => r.getAs[Long]("community") != (r.getAs[Long]("item") / 10) * 10)
    assert(wrong.isEmpty, s"${wrong.length} nodes off their clique label, e.g. ${wrong.take(3).toSeq}")
    assert(secs < 60, f"20k-node LPA took $secs%.1f s")
    info(f"20k-node 2000-clique LPA: $secs%.1f s")
  }

  test("multi-table LSH bucket audit on 50k random embeddings: non-degenerate shallow tables, sub-quadratic deep tables") {
    import spark.implicits._
    // deterministic pseudo-random 64-dim vectors: the distribution every
    // SRP plane must split ~50/50 — a sign-correlated PRNG (the round-1
    // bug) collapses buckets and the candidate count goes quadratic
    val NVec = 50000
    val rnd = new scala.util.Random(31337)
    val vecs = (0 until NVec).map { i =>
      (i.toLong, Array.fill(64)((rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding").persist()
    vecs.count()
    val t0 = System.nanoTime()

    def bucketSizes(tables: Int, planes: Int) = vecs.select(col("vec_id"),
        explode(array((0 until tables).map(t => struct(lit(t).as("t"),
          graft.functions.SrpBucket.column(col("embedding"), planes, t * planes).as("b"))): _*)).as("tb"))
      .select(col("tb.t").as("t"), col("tb.b").as("b"))
      .groupBy(col("t"), col("b")).agg(count(lit(1)).as("n"))

    // (a) the recall configuration (16x4, the oracled operators): buckets
    // must stay near-uniform — the PRNG-degeneracy regression gate. Sum
    // of n^2 is the self-join candidate volume; uniform predicts
    // 16 * N^2/16 = N^2, so 4x that bound catches any collapsed table
    // while tolerating hyperplane correlation.
    val shallow = bucketSizes(16, 4).persist()
    val sStats = shallow.agg(max(col("n")).as("mx"), count(lit(1)).as("nb"),
      sum(col("n") * col("n")).as("cand")).head
    assert(sStats.getAs[Long]("nb") >= 16 * 14, s"bucket space underused: $sStats")
    assert(sStats.getAs[Long]("mx") < NVec / 4, s"degenerate bucket: $sStats")
    assert(sStats.getAs[Long]("cand") < 4L * NVec * NVec, s"collapsed table: $sStats")
    shallow.unpersist()

    // (b) the SCALE configuration: all-pairs dedup at N vectors needs
    // bucket depth ~ log2(N) (cosineNearDupOn's planesPerTable knob).
    // At 12 planes / 4096 buckets the candidate volume must be
    // SUB-QUADRATIC — the property that makes the operator usable on a
    // real corpus, asserted here at 50k because it's invisible at 500.
    val deep = bucketSizes(16, 12).persist()
    val dCand = deep.agg(sum(col("n") * col("n"))).head.getLong(0)
    assert(dCand < NVec.toLong * NVec / 50,
      s"deep-bucket candidate volume not sub-quadratic: $dCand")
    deep.unpersist()
    info(f"50k-vec bucket audit: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
      f"shallow cand=${sStats.getAs[Long]("cand")} deep cand=$dCand")
    vecs.unpersist()
  }
}
