package graft

import org.apache.spark.sql.functions._

/** Regenerates [[graft.operators.PcaAxesPinned]] after a driver-side
  * testdata re-encode (OpqSpec's PCA drift tests fail loudly then):
  *
  *   sbt 'Test/runMain graft.GenPcaAxes' \
  *     > src/main/scala/graft/operators/PcaAxesPinned.scala
  *
  * (keep the output from its `package` line on). Training is
  * deterministic (exact int64 moments + fixed-order driver Jacobi), so
  * the pins, one per testdata corpus under its
  * [[GenOpqRotation.corpusFp]], let the embed_pca oracle SQL replay the
  * axes Spark trains on the corpus it reads.
  */
object GenPcaAxes {
  def main(args: Array[String]): Unit = {
    val spark = SparkSpecBase.session
    val sb = new StringBuilder
    sb ++= "package graft.operators\n\n"
    sb ++= "/** Top principal axes trained on the testdata `embeddings` tables,\n"
    sb ++= "  * each with the fingerprint of its corpus - GENERATED by\n"
    sb ++= "  * graft.GenPcaAxes (do not hand-edit). Pinned so the embed_pca\n"
    sb ++= "  * DuckDB oracle can replay the projections Spark computes on the\n"
    sb ++= "  * corpus it reads; OpqSpec retrains and compares, failing loudly if\n"
    sb ++= "  * the testdata is ever re-encoded.\n"
    sb ++= "  */\n"
    sb ++= "object PcaAxesPinned {\n"
    GenOpqRotation.Corpora.foreach { case (name, dir) =>
      val e = graft.util.Tables.embeddings(spark, dir)
      val axes = graft.operators.Similarity.pcaEigenOn(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")), 2048)
        ._2.take(graft.operators.Similarity.PcaK)
      sb ++= s"  val ${name}Fp = ${GenOpqRotation.corpusFp(e)}L\n"
      sb ++= s"  val $name: Array[Array[Float]] = Array(\n"
      axes.zipWithIndex.foreach { case (row, i) =>
        val sep = if (i == axes.length - 1) ")" else ","
        sb ++= row.map(d => d.toFloat.toString + "f").mkString("    Array(", ", ", s")$sep\n")
      }
      sb ++= "\n"
    }
    sb ++= GenOpqRotation.Corpora.map { case (name, _) => s"${name}Fp -> $name" }
      .mkString("  /** (corpus fingerprint, axes) per pinned corpus. */\n  val ByCorpus: Seq[(Long, Array[Array[Float]])] = Seq(", ", ", ")\n")
    sb ++= "}\n"
    print(sb.result())
    spark.stop()
  }
}
