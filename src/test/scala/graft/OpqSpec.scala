package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** OPQ-P (PCA rotation + eigenvalue-balanced allocation ahead of PQ):
  * rotation-matrix invariants, determinism, and the measured
  * reconstruction-error win on cross-subspace-correlated data — the
  * evidence that closes SURVEY's OPQ note with numbers instead of a
  * promise.
  */
class OpqSpec extends SparkSpecBase {

  /** Deterministic pseudo-random in [-1, 1] (portable integer mix). */
  private def prand(i: Long, d: Long): Float = {
    val h = ((i * 1103515245L + d * 12345L + 7L) % 1000003L + 1000003L) % 1000003L
    (h.toDouble / 1000003.0 * 2.0 - 1.0).toFloat
  }

  /** 64-dim vectors that are 16 true dims TILED 4× — the
    * cross-subspace correlation contiguous PQ cannot exploit: 3/4 of
    * every code budget re-encodes signal other subspaces already paid
    * for, while the rotation folds the four copies into 16 informative
    * axes (2 per subspace after balanced allocation).
    */
  private def correlated(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val base = Array.tabulate(16)(d => prand(i.toLong, d.toLong))
      (i.toLong, base ++ base ++ base ++ base)
    }.toDF("id", "vec")
  }

  test("trained rotation is orthonormal and deterministic") {
    val vecs = spark.read.parquet(s"$SfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val r1 = Similarity.opqRotationOn(vecs)
    val r2 = Similarity.opqRotationOn(vecs)
    assert(r1.length == 64 && r1.head.length == 64)
    // deterministic: identical training sample -> bit-identical matrix
    assert(r1.zip(r2).forall { case (a, b) => a.sameElements(b) },
      "retraining on the same sample produced a different rotation")
    // orthonormal rows: R * R^T = I within numerical tolerance
    for (i <- 0 until 64; j <- i until 64) {
      val dot = (0 until 64).map(k => r1(i)(k) * r1(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-8, s"R·Rᵀ[$i][$j] = $dot")
    }
  }

  test("OPQ beats plain PQ on cross-subspace-correlated vectors; near-parity on decorrelated testdata") {
    val corr = correlated(2000)
    val plainErr = Similarity.pqOn(corr)
      .agg(sum(col("dist2_total"))).head.getLong(0)
    val opqErr = Similarity.opqOn(corr)
      .agg(sum(col("dist2_total"))).head.getLong(0)
    // duplicated halves: rotation concentrates the 32 real axes and the
    // balanced allocation gives every subspace 4 informative dims
    // instead of 8 — measured ~2x lower quantization error; gate at a
    // conservative 0.8
    assert(opqErr < (plainErr * 0.8).toLong,
      s"OPQ err $opqErr not < 0.8 * plain err $plainErr on correlated data")
    // decorrelated testdata embeddings: rotation must not materially
    // hurt (the OPQ-P premise: it buys nothing here, and costs nothing)
    val vecs = spark.read.parquet(s"$SfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val p = Similarity.pqOn(vecs).agg(sum(col("dist2_total"))).head.getLong(0)
    val o = Similarity.opqOn(vecs).agg(sum(col("dist2_total"))).head.getLong(0)
    assert(o < (p * 1.3).toLong,
      s"OPQ err $o degraded >30% vs plain $p on decorrelated embeddings")
    info(s"correlated: plain=$plainErr opq=$opqErr (ratio ${opqErr.toDouble / plainErr})")
    info(s"testdata:   plain=$p opq=$o (ratio ${o.toDouble / p})")
  }

  test("pinned rotation matches a fresh sf0.01 training run (oracle drift gate)") {
    // the embed_opq oracle SQL bakes OpqRotationPinned into DuckDB; if
    // the driver ever re-encodes embeddings.parquet this retraining
    // comparison fails FIRST, pointing at graft.GenOpqRotation to
    // regenerate the pin (the r7 events.ts lesson, applied here)
    val fresh = Similarity.opqRotationOn(
      graft.util.Tables.embeddings(spark, "/root/testdata/sf0.01")
        .select(col("vec_id").as("id"), col("embedding").as("vec")))
    val pinned = graft.operators.OpqRotationPinned.Sf01
    assert(fresh.length == pinned.length)
    val diffs = for {
      i <- fresh.indices
      j <- fresh(i).indices
      if fresh(i)(j).toFloat != pinned(i)(j)
    } yield (i, j, fresh(i)(j).toFloat, pinned(i)(j))
    assert(diffs.isEmpty,
      s"rotation drifted at ${diffs.take(3)} — regenerate OpqRotationPinned via graft.GenOpqRotation")
  }

  test("embed_opq's and embed_pca's oracles replay what Spark trains on each testdata corpus") {
    // each oracle selects its pinned matrix by the corpus fingerprint;
    // one that holds only another corpus's matrix mismatches there
    // (sf0.001 did, replaying the sf0.01 pins)
    GenOpqRotation.Corpora.foreach { case (_, dir) =>
      val e = graft.util.Tables.embeddings(spark, dir)
      val fp = GenOpqRotation.corpusFp(e)
      val v = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Seq(("embed_opq", Similarity.opqRotationOn(v), Similarity.opqSql),
          ("embed_pca", Similarity.pcaEigenOn(v, 2048)._2.take(Similarity.PcaK), Similarity.pcaSql))
        .foreach { case (q, fresh, sql) =>
          val missing = fresh.indices.filterNot { i =>
            val row = fresh(i).map(x => new java.math.BigDecimal(x.toFloat.toDouble).toPlainString)
            sql.contains(row.mkString(s"($fp, ${i + 1}, [", ", ", "])"))
          }
          assert(missing.isEmpty, s"$q, $dir (fingerprint $fp): rows ${missing.take(3)} not in the oracle")
        }
    }
  }

  test("pinned PCA axes match a fresh sf0.01 training run (embed_pca oracle drift gate)") {
    val fresh = Similarity.pcaEigenOn(
      graft.util.Tables.embeddings(spark, "/root/testdata/sf0.01")
        .select(col("vec_id").as("id"), col("embedding").as("vec")), 2048)
      ._2.take(Similarity.PcaK)
    val pinned = graft.operators.PcaAxesPinned.Sf01
    assert(fresh.length == pinned.length)
    val diffs = for {
      i <- fresh.indices; j <- fresh(i).indices
      if fresh(i)(j).toFloat != pinned(i)(j)
    } yield (i, j)
    assert(diffs.isEmpty,
      s"PCA axes drifted at ${diffs.take(3)} — regenerate PcaAxesPinned via graft.GenPcaAxes")
  }

  test("pca projection concentrates variance in leading components") {
    // on the correlated corpus (16 true dims tiled 4x), the top-16
    // projected coordinates must carry (nearly) all the variance: the
    // corpus has rank <= 16, so components beyond it are ~constant
    val corr = correlated(500)
    val axes = Similarity.pcaEigenOn(corr, 2048)._2
    val proj = Similarity.pcaProjectOn(corr, axes.take(32))
    val vars = (1 to 32).map { j =>
      proj.agg(variance(col(s"pc$j"))).head.getDouble(0)
    }
    val lead = vars.take(16).sum
    val tail = vars.drop(16).sum
    assert(tail < lead * 0.001,
      s"rank-16 corpus leaked variance into trailing components: lead=$lead tail=$tail")
  }

  test("embed_opq driver query: rows out, same schema as embed_pq") {
    val df = SparkEntry.queries("embed_opq")(spark, SfDir)
    assert(df.columns.toSeq == Seq("vec_id", "pq_code", "dist2_total"))
    assert(df.count() > 0)
  }
}
