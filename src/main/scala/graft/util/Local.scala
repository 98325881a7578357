package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, FloatType, IntegerType, LongType, ShortType}

/** Driver-side solving for operator state that fits in one JVM. The
  * size rule is Spark's broadcast rule, in bytes: a frame whose rows
  * total at most `spark.sql.autoBroadcastJoinThreshold` bytes as
  * UnsafeRows (`getSizeInBytes`, what a broadcast exchange ships) is
  * one Spark would itself send whole to every executor. The rows are
  * measured, not estimated from the schema: Spark's `defaultSize`
  * counts an `array<float>` as one element, so a 64-float vector row
  * (about 296 bytes) would be budgeted at 12. No option of graft's own:
  * setting the threshold to `-1` (or 0) keeps every operator on its
  * distributed path.
  */
object Local {

  /** Every row of `df` when its UnsafeRows total at most the threshold
    * in bytes; None when they total more or the threshold is disabled.
    * One job reads every partition in parallel: each task sums its rows'
    * sizes and returns them when they are within its even share of the
    * threshold. Spark's `limit(n).collect()` is one job per batch of
    * partitions, and a coalesce to one partition would compute an
    * unpinned frame in a single task. The driver holds at most about the
    * threshold in bytes at once: a frame that fits with one partition
    * over its share is read again whole, a second job only in that
    * skewed case. Meant for a frame the caller has already materialized
    * or pinned (cached or checkpointed): on None the caller runs its
    * distributed path over that same frame, so the input upstream of it
    * is never read twice.
    */
  def collectIfFits(df: DataFrame): Option[Array[Row]] = {
    val max = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (max <= 0) return None
    val schema = df.schema
    val rdd = df.queryExecution.toRdd
    val share = max / math.max(1, rdd.getNumPartitions)
    val parts = rdd.mapPartitions { rows =>
      val unsafe = UnsafeProjection.create(schema)
      val kept = ArrayBuffer.empty[UnsafeRow]
      var bytes = 0L
      rows.foreach { r =>
        val u = r match { case u: UnsafeRow => u; case _ => unsafe(r) }
        bytes += u.getSizeInBytes
        if (bytes <= share) kept += u.copy()
      }
      Iterator((bytes, if (bytes <= share) kept.toArray else Array.empty[UnsafeRow]))
    }.collect()
    if (parts.map(_._1).sum > max) None
    else if (parts.forall(_._1 <= share)) {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      Some(parts.flatMap(_._2).map(r => toRow(r).asInstanceOf[Row]))
    } else Some(df.collect())
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _                                             => false
  }

  /** A collected edge list, its nodes indexed in first-seen order:
    * `ids(i)` is node i's id cell (what a solver hands back, so output
    * ids keep the input's type) and edge k runs `src(k)` → `dst(k)`.
    */
  final class Graph(val ids: Array[Any], val src: Array[Int], val dst: Array[Int]) {
    def size: Int = ids.length

    /** Node i's id in Spark's order for integral ids. */
    def order(i: Int): Long = ids(i).asInstanceOf[Number].longValue
  }

  /** The (u, v) edge frame `edges` as a [[Graph]] when it fits
    * ([[collectIfFits]]) and its ids are integral and non-null — the
    * inputs whose semantics the driver-side graph solvers reproduce.
    * None otherwise: the caller keeps its distributed path.
    */
  def graphIfFits(edges: DataFrame): Option[Graph] = {
    if (!edges.schema.fields.forall(f => integral(f.dataType))) return None
    collectIfFits(edges)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      .map { rows =>
        val index = scala.collection.mutable.HashMap.empty[Any, Int]
        val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
        def node(id: Any): Int = index.getOrElseUpdate(id, { ids += id; ids.size - 1 })
        val src = rows.map(r => node(r.get(0)))
        val dst = rows.map(r => node(r.get(1)))
        new Graph(ids.toArray, src, dst)
      }
  }

  /** A collected vector frame: vector i has id `ids(i)` (widened to
    * BIGINT), floats `vecs(i)` and squared norm `sq(i)`, the
    * [[graft.functions.FloatVecDot]] fold of the vector with itself.
    */
  final class Vectors(val ids: Array[Long], val vecs: Array[ArrayData], val sq: Array[Double]) {
    def size: Int = ids.length
  }

  /** The (id, array<float>) frame `vectors` as [[Vectors]] when it fits
    * ([[collectIfFits]]), its ids are integral, unique and non-null, its
    * vectors and their elements are non-null, and every cosine divisor
    * `sqrt(sq(a) · sq(b))` is non-zero (no vector has a squared norm
    * whose square underflows to 0, a zero vector included). None
    * otherwise: the caller keeps its distributed path, where Spark's
    * divide and join semantics apply to those inputs.
    */
  def vectorsIfFits(vectors: DataFrame): Option[Vectors] = {
    val shaped = vectors.schema.fields.map(_.dataType) match {
      case Array(id, ArrayType(FloatType, _)) => integral(id)
      case _                                  => false
    }
    if (!shaped) return None
    collectIfFits(vectors)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.getSeq[Any](1).contains(null)))
      .map { rows =>
        val vecs: Array[ArrayData] =
          rows.map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](1).toArray))
        new Vectors(rows.map(_.get(0).asInstanceOf[Number].longValue), vecs,
          vecs.map(v => graft.functions.FloatVecDot.dot(v, v)))
      }
      .filter(vs => vs.ids.distinct.length == vs.size && vs.sq.forall(s => s * s != 0.0))
  }
}
