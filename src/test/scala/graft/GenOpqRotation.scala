package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Regenerates [[graft.operators.OpqRotationPinned]] — run after a
  * driver-side testdata re-encode changes `embeddings.parquet` (the
  * drift tests in OpqSpec fail loudly when that happens):
  *
  *   sbt 'Test/runMain graft.GenOpqRotation' \
  *     > src/main/scala/graft/operators/OpqRotationPinned.scala
  *
  * (keep the output from its `package` line on). The rotation is
  * deterministic (exact int64 moments + fixed-order driver Jacobi), so
  * training on the same table always reproduces the same matrix —
  * pinning it, per testdata corpus, lets the embed_opq oracle SQL apply
  * the rotation Spark trains on the corpus it reads and hash-match end
  * to end.
  */
object GenOpqRotation {
  /** (pin name, corpus directory) of every corpus the oracle runs on:
    * the specs' testdata scale factors.
    */
  val Corpora: Seq[(String, String)] = {
    val testdata = new java.io.File(new SparkSpecBase {}.SfDir).getParent
    Seq("Sf0001" -> "sf0.001", "Sf01" -> "sf0.01").map { case (n, sf) => n -> s"$testdata/$sf" }
  }

  /** The key the embed_opq oracle selects a pinned rotation by: the sum
    * of the rotation's training sample (vec_id < 2048) in fixed point,
    * exact BIGINT — the oracle's `corpus` CTE computes the same sum.
    */
  def corpusFp(embeddings: DataFrame): Long =
    embeddings.filter(col("vec_id") < 2048).select(explode(col("embedding")).as("x"))
      .agg(sum(floor((col("x").cast("double") + lit(1.0)) *
        lit(graft.operators.Similarity.KmQ.toDouble) + lit(0.5)).cast("long")))
      .head.getLong(0)

  def main(args: Array[String]): Unit = {
    val spark = SparkSpecBase.session
    val sb = new StringBuilder
    sb ++= "package graft.operators\n\n"
    sb ++= "/** The OPQ-P rotations trained on the testdata `embeddings` tables,\n"
    sb ++= "  * each with the fingerprint of its corpus - GENERATED by\n"
    sb ++= "  * graft.GenOpqRotation (do not hand-edit). Pinned so the embed_opq\n"
    sb ++= "  * DuckDB oracle can apply the rotation Spark trains on the corpus it\n"
    sb ++= "  * reads; OpqSpec retrains and compares, failing loudly if the\n"
    sb ++= "  * testdata is ever re-encoded.\n"
    sb ++= "  */\n"
    sb ++= "object OpqRotationPinned {\n"
    Corpora.foreach { case (name, dir) =>
      val e = graft.util.Tables.embeddings(spark, dir)
      val rot = graft.operators.Similarity.opqRotationOn(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")))
      sb ++= s"  val ${name}Fp = ${corpusFp(e)}L\n"
      sb ++= s"  val $name: Array[Array[Float]] = Array(\n"
      rot.zipWithIndex.foreach { case (row, i) =>
        val sep = if (i == rot.length - 1) ")" else ","
        sb ++= row.map(d => d.toFloat.toString + "f").mkString("    Array(", ", ", s")$sep\n")
      }
      sb ++= "\n"
    }
    sb ++= Corpora.map { case (name, _) => s"${name}Fp -> $name" }
      .mkString("  /** (corpus fingerprint, rotation) per pinned corpus. */\n  val ByCorpus: Seq[(Long, Array[Array[Float]])] = Seq(", ", ", ")\n")
    sb ++= "}\n"
    print(sb.result())
    spark.stop()
  }
}
