package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Driver-side solving for operator state that fits in one JVM. The
  * size rule is Spark's own broadcast rule: a relation of at most
  * `spark.sql.autoBroadcastJoinThreshold` bytes, at the schema's
  * default row size, is one Spark would itself ship whole to every
  * executor. No option of graft's own: setting the threshold to `-1`
  * (or 0) keeps every operator on its distributed path.
  */
object Local {

  /** The row budget `df`'s schema gets under the threshold; 0 when the
    * threshold is disabled.
    */
  def maxRows(df: DataFrame): Long = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) 0L
    else math.min(threshold / math.max(1, df.schema.defaultSize), Int.MaxValue - 1L)
  }

  /** Every row of `df` when it holds at most [[maxRows]] of them; None
    * when it holds more or the threshold is disabled. One job reads
    * every partition in parallel: each task counts its rows and returns
    * them when they are within its even share of the budget. Spark's
    * `limit(n).collect()` is one job per batch of partitions, and a
    * coalesce to one partition would compute an unpinned frame in a
    * single task. The driver holds at most about [[maxRows]] rows at
    * once: a frame that fits with one partition over its share is read
    * again whole, a second job only in that skewed case. Meant for a
    * frame the caller has already materialized or pinned (cached or
    * checkpointed): on None the caller runs its distributed path over
    * that same frame, so the input upstream of it is never read twice.
    */
  def collectIfFits(df: DataFrame): Option[Array[Row]] = {
    val max = maxRows(df)
    if (max <= 0) return None
    val rdd = df.rdd
    val share = max / math.max(1, rdd.getNumPartitions) + 1
    val parts = rdd.mapPartitions { rows =>
      val kept = ArrayBuffer.empty[Row]
      var n = 0L
      rows.foreach { r => if (n < share) kept += r; n += 1 }
      Iterator((n, if (n <= share) kept.toArray else Array.empty[Row]))
    }.collect()
    if (parts.map(_._1).sum > max) None
    else if (parts.forall { case (n, kept) => kept.length == n }) Some(parts.flatMap(_._2))
    else Some(df.collect())
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
    val integral = edges.schema.fields.forall(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    })
    if (!integral) return None
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
}
