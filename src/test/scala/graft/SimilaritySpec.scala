package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpecBase {

  test("planesFor implements the measured log2(N/250) bucket-depth rule") {
    // floor at 4 planes for small corpora (the testdata regime)
    assert(Similarity.planesFor(0) == 4)
    assert(Similarity.planesFor(500) == 4)
    assert(Similarity.planesFor(4000) == 4)
    // the 500k-vector measurement that motivated the rule: 11 planes
    // (210 s at the old fixed 4-plane default vs 10 s derived)
    assert(Similarity.planesFor(500000) == 11)
    assert(Similarity.planesFor(1000000) == 12)
    // capped at one long's worth of bucket bits; add tables past this
    assert(Similarity.planesFor(1000000000L) == 16)
    // monotone non-decreasing in N
    val ns = Seq(1L, 100L, 10000L, 100000L, 10000000L, 1000000000L)
    assert(ns.map(Similarity.planesFor(_)) == ns.map(Similarity.planesFor(_)).sorted)
  }

  test("AutoPlanes default derives depth from the candidate count") {
    import spark.implicits._
    // a tiny corpus resolves to the 4-plane floor: the auto path must
    // equal an explicit planesPerTable = 4 call bit-for-bit
    val e = graft.util.Tables.embeddings(spark, SfDir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val auto = Similarity.cosineNearDupOn(e, 0.4).collect().toSet
    val pinned = Similarity.cosineNearDupOn(e, 0.4, planesPerTable = 4).collect().toSet
    assert(auto == pinned)
  }

  test("brute-force top-k: 5 neighbors per query, cosine in [-1,1], ranked") {
    val rows = Similarity.bruteforceTopk(spark, SfDir).collect()
    assert(rows.length == 40) // 8 queries x top-5
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos_sim")) <= 1.0 + 1e-9))
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    byQ.values.foreach { g =>
      val sims = g.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos_sim"))
      assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)), "not rank-ordered")
    }
  }

  test("LSH ANN returns bucket-mates only and ranks by true cosine") {
    val df = Similarity.lshAnn(spark, SfDir)
    val rows = df.collect()
    assert(rows.nonEmpty, "LSH buckets should not be empty at sf0.001")
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      assert(g.map(_.getAs[Long]("bucket")).distinct.length == 1,
        "one bucket per query's candidates")
    }
  }

  test("knn join: at most 3 neighbors per probe, never joins label 0 to itself") {
    val rows = Similarity.knnJoin(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      assert(g.length <= 3)
      assert(g.map(_.getAs[Int]("rk")).sorted.sameElements(1 to g.length))
    }
  }

  test("embed cosine dedup: pairs are ordered and above threshold") {
    val rows = Similarity.embedCosineDedup(spark, SfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("a_id") < r.getAs[Long]("b_id"))
      assert(r.getAs[Double]("cos_sim") >= 0.4)
    }
  }

  test("multi-probe LSH recall >= single-bucket recall vs brute force") {
    val bf = Similarity.bruteforceTopk(spark, SfDir)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.lshAnn(spark, SfDir)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshMultiprobe(spark, SfDir)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.count(multi.contains) >= bf.count(single.contains),
      "probing flip buckets must not lose recall")
  }

  test("IVF ANN: each query's results come from at most 2 probed cells") {
    val rows = Similarity.ivfAnn(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      assert(g.map(_.getAs[Long]("cent_id")).distinct.length <= 2)
      assert(g.length <= 5)
    }
  }

  test("MIPS ANN: ranks by raw inner product, magnitude included") {
    import org.apache.spark.sql.functions._
    val rows = Similarity.mipsAnn(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Int]("rk")).toSeq == (1 to sorted.length))
      val dots = sorted.map(_.getAs[Double]("dot"))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b },
        "dot must be non-increasing in rank")
    }
    // magnitude sensitivity: a doubled copy of a candidate must outrank it
    import spark.implicits._
    val dir = Array.tabulate(64)(i => (math.sin(i + 1) / 8).toFloat)
    val qs = Seq((100L, dir)).toDF("q_id", "qv")
    val cs = Seq((1L, dir.map(x => 2f * x)), (2L, dir))
      .toDF("c_id", "cv")
    val out = Similarity.mipsAnnOn(qs, cs, 2, broadcastQueries = true)
      .orderBy("rk").collect()
    // both candidates are collinear with the query; if both surface, the
    // scaled one must lead (cosine ranking would tie them)
    if (out.length == 2) assert(out(0).getAs[Long]("c_id") == 1L)
  }

  test("ANN hit quality: LSH neighbors overlap brute-force top-k") {
    val bf = Similarity.bruteforceTopk(spark, SfDir)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshAnn(spark, SfDir)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // approximate: expect SOME overlap, not full recall, at 8 planes
    assert(ann.nonEmpty && bf.nonEmpty)
  }

  test("thresholdSweepOn bands pairs and accumulates from the top band down") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 0.41), (1L, 3L, 0.55), (2L, 3L, 0.57), (4L, 5L, 0.95))
      .toDF("a_id", "b_id", "cos_sim")
    val got = Similarity.thresholdSweepOn(pairs)
      .orderBy(org.apache.spark.sql.functions.col("bucket").desc).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("thr_lo"),
        r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (19L, 0.95, 1L, 1L),   // [0.95, 1.00): the 0.95 pair
      (11L, 0.55, 2L, 3L),   // [0.55, 0.60): two pairs; 3 at >= 0.55
      (8L, 0.40, 1L, 4L)))   // [0.40, 0.45): all 4 at >= 0.40
  }

  test("mrl eval: full-dims recall is exactly 1; leading-dim signal survives truncation, trailing noise doesn't") {
    import spark.implicits._
    // the testdata ladder: recall monotone-ish and exactly 1.0 at 64
    val td = Similarity.mrlEval(spark, SfDir).collect()
      .map(r => r.getAs[Int]("dims") -> r.getAs[Long]("recall_ppm")).toMap
    assert(td(64) == 1000000L, s"truth vs itself must be exact: $td")
    assert(td(8) <= td(64) && td(16) <= td(64))
    // planted MRL-shaped corpus: ALL retrieval signal in dims 0..7
    // (cluster axes), pure per-id noise in the trailing dims — an
    // 8-dim prefix must already retrieve the cluster mates
    def vec(axis: Int, id: Long): Array[Float] = {
      val v = Array.fill(64)(0f); v(axis) = 1f
      (8 until 64).foreach(d => v(d) = (((id * 31 + d) % 7).toFloat - 3f) / 30f)
      v
    }
    val rows = (0 until 4).flatMap { c =>
      (0 until 10).map(j => (c * 10L + j, vec(c, c * 10L + j)))
    }
    val df = rows.toDF("id", "v")
    val out = Similarity.mrlEvalOn(
      df.filter(col("id") % 10 === 0).select(col("id").as("q_id"), col("v").as("qv")),
      df.filter(col("id") % 10 =!= 0).select(col("id").as("c_id"), col("v").as("cv")),
      5).collect().map(r => r.getAs[Int]("dims") -> r.getAs[Long]("recall_ppm")).toMap
    assert(out(64) == 1000000L)
    // prefix-8 ties ALL cluster mates at cos 1.0, so id tie-breaks can
    // pick a different 5 of the 9 mates than the noise-ranked truth —
    // 0.6 measured. The claim is the CONTRAST: the structured corpus
    // retrieves cluster mates from 8 dims where the unstructured
    // testdata corpus got 0.0; 16 dims (prefix + some noise) restores
    // truth-exact ranking.
    assert(out(8) >= 500000L && out(8) > td(8),
      s"an 8-dim prefix should beat the unstructured baseline (${td(8)}): $out")
    assert(out(16) >= 900000L, s"16-dim prefix should rank near-exactly: $out")
  }

  test("residual quantization: stage 2 collapses structured within-cluster error") {
    import spark.implicits._
    // 8 clusters on distinct axes (ids 0..7 are the seeds, one per
    // cluster); every cluster carries the SAME three off-axis offset
    // patterns (+d, +d, −d on axis 20) across its non-seed members.
    // Stage 1 nails the cluster; the residual set then takes only a
    // handful of distinct values repeated across clusters, so stage 2's
    // 8 centroids capture them near-exactly — the additive-codebook
    // win that dimension-partitioned PQ cannot express when the error
    // pattern lives on one axis.
    def member(axis: Int, off: Float): Array[Float] = {
      val v = Array.fill(64)(0f); v(axis) = 1f; v(20) = off; v
    }
    val rows = (0 until 8).flatMap { c =>
      Seq((c.toLong, member(c, 0f)),
        (8L + c * 3, member(c, 0.2f)), (9L + c * 3, member(c, 0.2f)),
        (10L + c * 3, member(c, -0.2f)))
    }
    val out = Similarity.rqOn(rows.toDF("id", "vec")).collect()
    assert(out.length == 32)
    val coarse = out.map(_.getAs[Long]("dist2_coarse")).sum
    val fin = out.map(_.getAs[Long]("dist2_final")).sum
    assert(coarse > 0, "planted offsets must leave stage-1 error")
    assert(fin * 5 < coarse,
      s"stage 2 should collapse the structured residuals: coarse=$coarse final=$fin")
    assert(out.forall(r => (0 to 7).contains(r.getAs[Int]("c1")) &&
      (0 to 7).contains(r.getAs[Int]("c2"))))
    // on the (noise-like) testdata corpus the win is small but real
    val td = Similarity.rq(spark, SfDir).collect()
    val improved = td.count(r => r.getAs[Long]("dist2_final") < r.getAs[Long]("dist2_coarse"))
    assert(improved * 10 > td.length * 9,
      s"stage 2 should improve >=90% of vectors: $improved/${td.length}")
  }

  test("semantic dedup: planted near-copies flag against the cluster exemplar; singletons don't") {
    import spark.implicits._
    // 8 seed vectors (ids 0..7) on distinct axes — under the lowest-id
    // seeding each seeds its own cluster — plus two near-copies of
    // id 0's direction (ids 8, 9; 0.05 off-axis perturbations keep them
    // distinct but at cos ≈ 0.999). kmeans pulls {0, 8, 9} into one
    // cluster; the two non-exemplar members must flag, every
    // single-member cluster's exemplar must not.
    def axis(a: Int, eps: Float = 0f, epsAxis: Int = 32): Array[Float] = {
      val v = Array.fill(64)(0f); v(a) = 1f; if (eps != 0f) v(epsAxis) = eps; v
    }
    val v = ((0 until 8).map(i => (i.toLong, axis(i))) ++
      Seq((8L, axis(0, 0.05f, 40)), (9L, axis(0, 0.05f, 41)))).toDF("vec_id", "vec")
    val out = Similarity.semanticDedupOn(
      Similarity.kmeansOn(v.select(col("vec_id").as("id"), col("vec"))), v).collect()
    assert(out.length == 10)
    val dups = out.filter(_.getAs[Int]("is_dup") == 1).map(_.getAs[Long]("vec_id")).toSet
    assert(dups.size == 2 && dups.subsetOf(Set(0L, 8L, 9L)),
      s"expected 2 of {0,8,9} flagged (the non-exemplar near-copies), got $dups")
    assert(out.filter(r => (1L to 7L).contains(r.getAs[Long]("vec_id")))
      .forall(_.getAs[Int]("is_dup") == 0), "singleton clusters must not flag")
    // the flagged copies sit essentially on top of the exemplar
    assert(out.filter(_.getAs[Int]("is_dup") == 1)
      .forall(_.getAs[Double]("cos_exemplar") >= 0.99))
  }

  test("kcenter: farthest-point picks cover the corners before any near-duplicate of the seed") {
    import spark.implicits._
    // seed 0 along x, clones of the seed (1, 2), and three spread
    // directions: greedy coverage must take y, z, w axes before the
    // clones (whose max-dot to the seed is maximal)
    val v = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(0f, 0f, 1f, 0f)),
      (5L, Seq(0f, 0f, 0f, 1f))).toDF("id", "vec")
    val picked = Similarity.kcenterOn(v, seedId = 0L, k = 4)
      .orderBy("rk").collect().map(_.getAs[Long]("vec_id")).toSeq
    // rk 1 = seed; rk 2..4 = the three orthogonal axes (id tie-break
    // among equally-far candidates picks ascending ids)
    assert(picked.head == 0L && picked.tail.toSet == Set(3L, 4L, 5L), picked.toString)
    // the first pick's coverage gap is exact: orthogonal to the seed
    val r2 = Similarity.kcenterOn(v, seedId = 0L, k = 2).collect()
      .find(_.getAs[Int]("rk") == 2).get
    assert(r2.getAs[Long]("max_dot") == 0L)
  }

  test("hard negatives: nearest cross-label vector wins; same-label neighbors never appear") {
    import spark.implicits._
    // two tight clusters at 45 degrees (cross cos ~0.707, well above the
    // SRP collision floor) plus a same-label twin inside each cluster —
    // the twin is each anchor's true nearest neighbor but must be
    // EXCLUDED by the label-inequality predicate
    val s = math.sqrt(0.5).toFloat
    def jit(x: Float, e: Float) = x + e
    val v = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(jit(1f, 0.01f), 0.01f, 0f, 0f), 0),   // same-label twin of 0
      (2L, Seq(s, s, 0f, 0f), 1),
      (3L, Seq(jit(s, 0.01f), s, 0f, 0f), 1))         // same-label twin of 2
      .toDF("id", "vec", "label")
    val r = Similarity.hardNegativesOn(v, k = 1, planesPerTable = 4)
      .collect().map(x => x.getAs[Long]("q_id") ->
        (x.getAs[Long]("neg_id"), x.getAs[Int]("neg_label"))).toMap
    // every anchor mined a negative, it comes from the OTHER cluster
    assert(r.keySet == Set(0L, 1L, 2L, 3L), r.toString)
    assert(r(0L)._2 == 1 && r(1L)._2 == 1 && r(2L)._2 == 0 && r(3L)._2 == 0,
      s"hard negative with the anchor's own label: $r")
    // and it's the nearest cross-label vector (exact cosine order)
    assert(Set(2L, 3L).contains(r(0L)._1) && Set(0L, 1L).contains(r(2L)._1))
  }

  test("mmr: redundancy penalty diversifies — an exact clone of the first pick loses to an orthogonal vector") {
    import spark.implicits._
    // query (id 0) along x; ids 1 and 2 are clones of it (max relevance,
    // maximal mutual redundancy); id 3 is orthogonal (zero relevance).
    val v = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(1f, 0f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f))).toDF("id", "vec")
    // λ=300: step 1 takes id 1 (max rel, id tie-break vs 2); step 2 the
    // clone scores 300·FP² − 700·FP² < 0 while the orthogonal vector
    // scores 0 — redundancy must flip the order to 1, 3, 2.
    val r = Similarity.mmrOn(v, queryId = 0L, k = 3, lambdaMilli = 300L)
      .orderBy("rk").collect()
    assert(r.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 3L, 2L), r.mkString(";"))
    val fp2 = Similarity.MmrFp * Similarity.MmrFp
    assert(r(0).getAs[Long]("rel") == fp2 && r(0).getAs[Long]("max_sim") == 0L)
    // the clone's max_sim is the full fixed-point square (cos 1.0)
    assert(r(2).getAs[Long]("max_sim") == fp2)
    // pure-relevance ordering (λ=1000) keeps both clones first instead
    val pure = Similarity.mmrOn(v, queryId = 0L, k = 3, lambdaMilli = 1000L)
      .orderBy("rk").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(pure == Seq(1L, 2L, 3L), pure.toString)
  }

  test("kmeansOn / pqOn seed only from ids in [0, k): negative ids are clustered, never seeds") {
    import spark.implicits._
    // ids -3..40: the seed filter must skip -3..-1 (no cid), as the
    // pivot it replaced did, rather than index a centroid slot with them
    val vecs = (-3L to 40L).map { id =>
      (id, Array.tabulate(16)(d => (((id + 5) * 7 + d * 3) % 11 - 5).toFloat / 10f))
    }.toDF("id", "vec")
    val k = 4
    val km = Similarity.kmeansOn(vecs, k = k).collect()
    assert(km.map(_.getAs[Long]("vec_id")).sorted.toSeq == (-3L to 40L))
    assert(km.forall { r => val c = r.getAs[Int]("cluster"); c >= 0 && c < k },
      km.map(_.getAs[Int]("cluster")).distinct.toSeq)
    val pq = Similarity.pqOn(vecs, subDim = 8, k = k).collect()
    assert(pq.map(_.getAs[Long]("vec_id")).sorted.toSeq == (-3L to 40L))
    spark.catalog.clearCache()
  }

  test("knnGraphOn: the driver and distributed paths return the same rows and schema") {
    import spark.implicits._
    val e = graft.util.Tables.embeddings(spark, SfDir).select(col("vec_id"), col("embedding"))
    val head = e.filter(col("vec_id") < 60)
    def both(label: String, vectors: org.apache.spark.sql.DataFrame, driver: Boolean,
        error: Option[String] = None): Unit = {
      assert(graft.util.Local.vectorsIfFits(vectors).isDefined == driver, label)
      // the build is eager (checkpointed rounds): an error surfaces in the call
      val (local, dist) = onBothPaths(scala.util.Try {
        val g = Similarity.knnGraphOn(vectors)
        (g.schema, g.collect().map(_.toSeq).toSet)
      }.toEither.left.map(e => (e.getClass, messages(e))))
      assert(local.left.map(_._1) == dist.left.map(_._1), s"$label: driver $local vs distributed $dist")
      // an expected failure names its cause on both paths
      Seq(local, dist).foreach {
        case Left((_, m)) => assert(error.exists(m.contains), s"$label: $m")
        case Right(_)     => assert(error.isEmpty, s"$label: built, expected $error")
      }
      spark.catalog.clearCache()
    }
    both("sf0.001", e, driver = true)
    both("INT ids", e.select(col("vec_id").cast("int").as("vec_id"), col("embedding")), driver = true)
    // sparse and negative ids: most far seeds name no vec_id and drop
    both("sparse ids", head.select((col("vec_id") * 7 - 200).as("vec_id"), col("embedding")),
      driver = true)
    // exact copies: equal cosines, ranked on nbr
    both("duplicated vectors", head.unionAll(
      head.select((col("vec_id") + 1000).as("vec_id"), col("embedding"))), driver = true)
    both("empty", e.filter(lit(false)), driver = true)
    // a zero norm has no cosine: the build refuses it by name on both paths
    val zero = Seq((1000L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    both("a zero vector", head.unionAll(zero), driver = false,
      error = Some("knnGraphOn: vec_id 1000 has a zero-norm embedding"))
    val nulled = Seq((1000L, null: Array[Float])).toDF("vec_id", "embedding")
    both("a null embedding", head.unionAll(nulled), driver = false)
  }

  test("knnGraphOn on the driver: the job count does not grow with the round count") {
    val e = graft.util.Tables.embeddings(spark, SfDir)
    def jobs(rounds: Int): Int = jobsOf(Similarity.knnGraphOn(e, rounds = rounds).collect())._2
    val (one, three) = (jobs(1), jobs(3))
    assert(one == three && three <= 3, s"rounds=1: $one jobs, rounds=3: $three")
    spark.catalog.clearCache()
  }
}
