package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType}

/** The deterministic df-CAP as a bounded AGGREGATE: per group, the `k`
  * smallest DISTINCT integral values under the library's pinned
  * LCG-hash order ((x·1103515245 + 12345) mod 1000000007, ties on x) —
  * `graft_hashcap(col, k)` → ARRAY<BIGINT> in that order. TINYINT,
  * SMALLINT and INT input widens to BIGINT as it is read, so the hash
  * and order are the BIGINT ones; callers that need the input's type
  * back cast the elements.
  *
  * This is the NN-Descent/LSH cap policy (neighbor caps, bucket
  * membership caps) that previously ran as `distinct` + a
  * `row_number() OVER (PARTITION BY key ORDER BY hash, x)` window —
  * one exchange of every row for the distinct plus another for the
  * window sort. As a TypedImperativeAggregate the per-group state is a
  * bounded k-element tree (distinct by construction), states MERGE, so
  * the cap runs as ONE map-side-combined aggregation: at 100 TB each
  * map task ships at most k longs per group instead of the group's
  * whole (possibly hub-skewed) neighbor list, and the downstream
  * consumer explodes the array instead of re-joining a capped edge
  * frame. Result-identical to the window form by construction: same
  * hash, same tie-break, same k — the window's rank ≤ k survivors ARE
  * the k tree minima.
  */
case class HashCapAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with UnaryLike[Expression] {

  require(k > 0, "graft_hashcap requires k > 0")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires integral input, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long](HashCapAgg.ByHashThenValue)

  override def update(set: java.util.TreeSet[java.lang.Long], input: InternalRow)
      : java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) HashCapAgg.add(set, v.asInstanceOf[Number].longValue, k)
    set
  }

  override def merge(a: java.util.TreeSet[java.lang.Long],
      b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) HashCapAgg.add(a, it.next(), k)
    a
  }

  override def eval(set: java.util.TreeSet[java.lang.Long]): Any =
    new GenericArrayData(HashCapAgg.values(set))

  override def serialize(set: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + set.size * 8)
    buf.putInt(set.size)
    val it = set.iterator()
    while (it.hasNext) buf.putLong(it.next())
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val set = createAggregationBuffer()
    var i = 0
    while (i < n) { set.add(buf.getLong); i += 1 }
    set
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HashCapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HashCapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HashCapAgg =
    copy(child = newChild)

  override def prettyName: String = "graft_hashcap"
}

object HashCapAgg {
  /** The pinned cap-rank hash (the k-hop hub-cap / NN-Descent ordering
    * every cap site uses): (x·1103515245 + 12345) mod 1000000007, ties
    * broken on x. Exact int64 — identical to the SQL twin's arithmetic.
    */
  private def mix(x: Long): Long = (x * 1103515245L + 12345L) % 1000000007L

  val ByHashThenValue: java.util.Comparator[java.lang.Long] =
    new java.util.Comparator[java.lang.Long] with Serializable {
      override def compare(a: java.lang.Long, b: java.lang.Long): Int = {
        val c = java.lang.Long.compare(mix(a), mix(b))
        if (c != 0) c else java.lang.Long.compare(a, b)
      }
    }

  /** Admits `v` to the cap state `set` of at most `k` values. */
  def add(set: java.util.TreeSet[java.lang.Long], v: Long, k: Int): Unit = {
    if (set.size < k) { set.add(v); () }
    else if (ByHashThenValue.compare(v, set.last()) < 0) {
      // strictly smaller than the current k-th: evict it (equal means
      // duplicate — TreeSet ordering is total on the value, so compare
      // == 0 iff v is already present)
      if (set.add(v)) { set.pollLast(); () }
    }
  }

  private def values(set: java.util.TreeSet[java.lang.Long]): Array[Long] = {
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** The aggregate's result over `xs` outside a plan: the `k` smallest
    * distinct values under [[ByHashThenValue]], in that order. Driver-side
    * solvers cap with this, so they keep exactly the aggregate's members.
    */
  def cap(xs: Iterator[Long], k: Int): Array[Long] = {
    require(k > 0, "graft_hashcap requires k > 0")
    val set = new java.util.TreeSet[java.lang.Long](ByHashThenValue)
    xs.foreach(add(set, _, k))
    values(set)
  }

  /** `df` with the columns `cols` (ids drawn from a cap array) cast
    * back to the capped input's id type `t`; BIGINT ids pass through
    * with the plan untouched.
    */
  def castBack(df: DataFrame, cols: Seq[String], t: DataType): DataFrame =
    if (t == LongType) df
    else df.withColumns(cols.map(c => c -> df.col(c).cast(t)).toMap)

  /** Column-API entry point (aggregate usage: `df.groupBy(...).agg(...)`). */
  def column(c: Column, k: Int): Column =
    GraftBridge.toColumn(HashCapAgg(GraftBridge.toExpression(c), k).toAggregateExpression())
}
