package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpecBase {

  test("exact dedup keeps one row per normalized text") {
    val df = Dedup.exact(spark, SfDir)
    val total = spark.read.parquet(s"$SfDir/documents.parquet").count()
    assert(df.agg(sum("n_copies")).head.getLong(0) == total)
    assert(df.select("fp").distinct().count() == df.count())
  }

  test("minhash LSH finds the planted near-duplicates that ngram-jaccard confirms") {
    val jac = Dedup.ngramJaccard(spark, SfDir)
      .filter(col("jac") >= 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashLsh(spark, SfDir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.nonEmpty, "corpus should contain planted near-dups")
    // banded LSH at 4x4 catches nearly-identical docs with high probability;
    // demand at least 80% recall on the >=0.9-jaccard planted pairs
    val recall = jac.count(mh.contains).toDouble / jac.size
    assert(recall >= 0.8, s"LSH recall $recall too low (found ${mh.size} pairs)")
  }

  test("cluster labels: near-dup pair endpoints share a cluster, singletons self-label") {
    val pairs = Dedup.ngramJaccard(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.cluster(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.filterNot { case (id, _) => inPairs(id) }.foreach { case (id, lbl) =>
      assert(lbl == id, s"singleton $id got foreign label $lbl")
    }
    assert(labels.values.forall(l => labels(l) == l), "cluster root must label itself")
  }

  test("pointer-doubling clustering matches label propagation on the testdata graph") {
    val lp = Dedup.cluster(spark, SfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val pd = Dedup.clusterPd(spark, SfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pd == lp, "star contraction must produce the same components as clustersOn")
  }

  test("pointer-doubling clustering converges on a 1024-node path (diameter beyond propagation's cap)") {
    import spark.implicits._
    // path 0-1-2-...-1023: one component, diameter 1023. Min-label
    // propagation would need 1023 rounds; star contraction needs ~log n.
    val pairs = (0L until 1023L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ids = (0L to 1023L).toDF("id")
    def check(labels: Array[(Long, Long)]): Unit = {
      assert(labels.length == 1024)
      assert(labels.forall(_._2 == 0L), "every path node must label to the component min")
    }
    check(Dedup.clustersPdOn(pairs, ids).collect().map(r => (r.getLong(0), r.getLong(1))))
    // clustersOn's distributed path on the same deep component
    check(withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      Dedup.clustersOn(pairs, ids).collect().map(r => (r.getLong(0), r.getLong(1)))
    })
  }

  test("both clustering algorithms match a union-find ground truth on random graphs") {
    import spark.implicits._
    val n = 200
    for (trial <- 0 until 2) {
      val rnd = new scala.util.Random(1000 + trial)
      val edges = (0 until 320)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      // local union-find reference: union by min root, so every
      // component's final root is its minimum id
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = (0 until n).map(i => i -> find(i).toLong).toMap
      val pairsDf = edges.toDF("a_id", "b_id")
      val ids = (0L until n.toLong).toDF("id")
      val pd = Dedup.clustersPdOn(pairsDf, ids).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1))).toMap
      // clustersOn on both of its solvers: driver union-find (default
      // config) and distributed star contraction (threshold -1)
      val (local, lp) = onBothPaths(Dedup.clustersOn(pairsDf, ids).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1))).toMap)
      (0 until n).foreach { i =>
        assert(pd(i) == truth(i), s"trial $trial: contraction mislabeled node $i")
        assert(lp(i) == truth(i), s"trial $trial: distributed clustersOn mislabeled node $i")
        assert(local(i) == truth(i), s"trial $trial: driver union-find mislabeled node $i")
      }
    }
  }

  test("clustersOn: INT ids, negative ids and an empty pair set give the same labels on both paths") {
    import spark.implicits._
    // INT-typed ids stay INT on both paths (cluster_id is typed like the id)
    val intPairs = Seq((3, 1), (1, 7), (10, 11)).toDF("a_id", "b_id")
    val intIds = Seq(1, 3, 5, 7, 10, 11).toDF("id")
    val (intLocal, intDist) = onBothPaths {
      val out = Dedup.clustersOn(intPairs, intIds)
      assert(out.schema.map(_.dataType.typeName) == Seq("integer", "integer"), out.schema)
      out.collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    }
    val intWant = Map(1 -> 1, 3 -> 1, 5 -> 5, 7 -> 1, 10 -> 10, 11 -> 10)
    assert(intLocal == intWant && intDist == intWant, s"$intLocal / $intDist")
    // negative ids: the component minimum is the most negative id
    val negPairs = Seq((-5L, 2L), (2L, -9L), (4L, -1L)).toDF("a_id", "b_id")
    val negIds = Seq(-9L, -5L, -1L, 0L, 2L, 4L).toDF("id")
    val (negLocal, negDist) = onBothPaths(Dedup.clustersOn(negPairs, negIds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap)
    val negWant = Map(-9L -> -9L, -5L -> -9L, 2L -> -9L, -1L -> -1L, 4L -> -1L, 0L -> 0L)
    assert(negLocal == negWant && negDist == negWant, s"$negLocal / $negDist")
    // no pairs at all: every id is its own cluster
    val noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val (emptyLocal, emptyDist) = onBothPaths(Dedup.clustersOn(noPairs, negIds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap)
    val selfWant = negIds.as[Long].collect().map(i => i -> i).toMap
    assert(emptyLocal == selfWant && emptyDist == selfWant, s"$emptyLocal / $emptyDist")
  }

  test("clustersOn on the driver: the job count does not grow with the component diameter") {
    import spark.implicits._
    def path(nodes: Int) = ((0L until nodes - 1L).map(i => (i, i + 1)).toDF("a_id", "b_id"),
      (0L until nodes.toLong).toDF("id"))
    def pathJobs(nodes: Int): Int = {
      val (pairs, ids) = path(nodes)
      val (labels, jobs) = jobsOf(Dedup.clustersOn(pairs, ids).collect())
      assert(labels.forall(_.getLong(1) == 0L), s"$nodes-node path must label to its minimum")
      jobs
    }
    // the distributed path pays jobs per round; union-find on the
    // driver pays none
    assert(pathJobs(3) == pathJobs(15))
    // the distributed path's rounds end in checkpoints, so the frame it
    // returns plans over the last round only, whatever the diameter (a
    // persist-only loop's plan doubled every round: 185 nodes for 3, 12,533 for 9)
    def planNodes(nodes: Int): Int = {
      val (pairs, ids) = path(nodes)
      val out = Dedup.clustersOn(pairs, ids)
      assert(out.collect().forall(_.getLong(1) == 0L), s"$nodes-node path must label to its minimum")
      out.queryExecution.logical.collect { case n => n }.size
    }
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      assert(planNodes(3) == planNodes(9))
    }
  }

  test("bag dedup: word order is invisible, multiplicity is not") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
      (3L, "alpha beta beta gamma"), (4L, "")).toDF("doc_id", "text")
    val rows = Dedup.bagOn(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"), r.getAs[Long]("n_tokens")))
    // 1 and 2 are the same bag; 3 has an extra 'beta'; 4 is the empty bag
    assert(rows.toSeq == Seq((1L, 2L, 3L), (3L, 1L, 4L), (4L, 1L, 0L)))
  }

  test("simhash pairs are symmetric-free and within hamming bound") {
    val rows = Dedup.simhashPairs(spark, SfDir).collect()
    assert(rows.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
    assert(rows.forall(_.getAs[Int]("hamming") <= 1))
  }

  test("weighted minhash: shared rare content pairs, shared boilerplate alone does not") {
    import spark.implicits._
    // 20 docs all OPENING with the same 8-token boilerplate, so the 6
    // shingles fully inside it have df = 20 → idf weight bitlen(1) = 1.
    // Docs 1/2 continue with 4 shared rare tokens + one unique token
    // each: shingles 7–10 (spanning into / inside the rare span) have
    // df = 2 → weight bitlen(10) = 4, and each doc's final shingle
    // (touching alphaX) df = 1 → weight bitlen(20) = 5. Docs 3/4 share
    // ONLY the boilerplate over 4 unique tokens each (their content
    // shingles: df = 1 → weight 5). Plain shingle Jaccard(3,4) =
    // 6/14 ≈ 0.43; weighted = 6/46 ≈ 0.13 rejects the scaffolding
    // collision, while (1,2) = (6 + 4·4)/(22 + 5 + 5) = 22/32 =
    // 0.6875 pairs.
    val boiler = "terms conditions apply all rights reserved contact support"
    val rare = "quantum flux capacitor azure"
    val docs = (Seq(
      (1L, s"$boiler $rare alpha1"),
      (2L, s"$boiler $rare alpha2"),
      (3L, s"$boiler beta1 beta2 beta3 beta4"),
      (4L, s"$boiler gamma1 gamma2 gamma3 gamma4")) ++
      (5L to 20L).map(i => (i, s"$boiler filler${i}a filler${i}b"))).toDF("doc_id", "text")
    val got = Dedup.weightedMinhashOn(docs, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        (r.getAs[Long]("inter_w"), r.getAs[Long]("union_w"), r.getAs[Long]("wjac_ppm"))).toMap
    assert(got.contains((1L, 2L)), s"rare-content pair missed: $got")
    assert(got((1L, 2L)) == (22L, 32L, 687500L), s"exact weighted Jaccard: ${got((1L, 2L))}")
    assert(!got.contains((3L, 4L)),
      "boilerplate-only overlap must not clear the weighted threshold " +
        s"(plain shingle Jaccard would be 0.43): $got")
    // emitted invariants on the testdata binding
    val td = Dedup.weightedMinhash(spark, SfDir).collect()
    assert(td.nonEmpty, "testdata corpus lost its near-dup pairs")
    assert(td.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
    assert(td.forall { r =>
      val i = r.getAs[Long]("inter_w"); val u = r.getAs[Long]("union_w")
      i > 0 && i <= u && r.getAs[Long]("wjac_ppm") == i * 1000000L / u
    })
  }

  test("exact-substring spans: a planted shared paragraph localizes to its exact token range in both docs") {
    import spark.implicits._
    // 60-token paragraph planted verbatim into two otherwise-unrelated
    // docs at KNOWN offsets; a third doc shares only a short phrase
    // (below the 50-token threshold) and must emit nothing.
    val para = (1 to 60).map(i => s"shared$i").mkString(" ")
    val preA = (1 to 10).map(i => s"lead$i").mkString(" ")    // span starts at token 10
    val preB = (1 to 25).map(i => s"intro$i").mkString(" ")   // span starts at token 25
    val docs = Seq(
      (1L, s"$preA $para " + (1 to 30).map(i => s"tailA$i").mkString(" ")),
      (2L, s"$preB $para " + (1 to 12).map(i => s"tailB$i").mkString(" ")),
      (3L, "short shared phrase only here " + (1 to 40).map(i => s"uniq$i").mkString(" ")),
      (4L, "short shared phrase only here " + (1 to 40).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.exactSpansOn(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"),
          r.getAs[Long]("span_tokens"))).toMap
    // k=8 windows: first fully-shared window starts at the paragraph's
    // first token; last at its 53rd (60-8+1 windows) -> the maximal run
    // covers exactly the 60 planted tokens.
    assert(got.keySet == Set(1L, 2L), s"expected docs 1,2 only, got $got")
    assert(got(1L) == (10L, 69L, 60L), s"doc 1 span: ${got(1L)}")
    assert(got(2L) == (25L, 84L, 60L), s"doc 2 span: ${got(2L)}")
    // same-document self-repeat: one doc repeating its own 55-token
    // block twice is flagged at both offsets (the paper dedups within
    // documents too)
    val selfPara = (1 to 55).map(i => s"rep$i").mkString(" ")
    val selfDoc = Seq((9L, s"$selfPara " + (1 to 20).map(i => s"mid$i").mkString(" ") + s" $selfPara"))
      .toDF("doc_id", "text")
    val selfSpans = Dedup.exactSpansOn(selfDoc, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).toSet
    assert(selfSpans == Set((0L, 54L), (75L, 129L)), s"self-repeat spans: $selfSpans")
    // testdata binding surfaces the corpus's long planted repeats
    val td = Dedup.exactSpans(spark, SfDir).collect()
    assert(td.nonEmpty, "no >=50-token exact repeats found in testdata")
    assert(td.forall(_.getAs[Long]("span_tokens") >= Dedup.ExactSpanMinRun))
    assert(td.forall(r => r.getAs[Long]("span_end") - r.getAs[Long]("span_start") + 1
      == r.getAs[Long]("span_tokens")))
  }
}
