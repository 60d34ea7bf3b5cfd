package graft.spatial.join

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded top-k-by-distance aggregate for kNN ranking:
  * `array<struct<dist: double, id: bigint>>`, nearest first, at most k
  * elements.
  *
  * The naive plan (`row_number() OVER (PARTITION BY pt ORDER BY dist)`)
  * shuffles EVERY candidate row to sort them (observed locally: 75M
  * candidate rows shuffled to keep k=2 per point). As an aggregate,
  * Catalyst runs `update` map-side, so each partition forwards at most k
  * candidates per point into the shuffle — the partial/final split the
  * reference's par_map_reduce contract describes (reader.rs:264-302).
  *
  * The buffer is fixed-width — `n: int`, then `d_0..d_{k-1}: double`, then
  * `i_0..i_{k-1}: long`, slots `0 until n` sorted — so Catalyst plans it as
  * `HashAggregateExec` over `UnsafeRow` buffers and inserts shift values in
  * place. A typed `Aggregator` of a `Seq` buffer plans as
  * `ObjectHashAggregate` instead, decodes every input row into an object and
  * allocates a new buffer per insert; on the kNN fallback's cross join that
  * aggregate cost more than the haversine kernel feeding it.
  *
  * Order is `java.lang.Double.compare` (NaN sorts last: raw `<` is false
  * against NaN, which once ranked a corrupt-coordinate POI first), ties
  * break by id, matching the window-based oracle. Duplicate ids are
  * dropped (cell-disk probes can alias at the antimeridian). Rows with a
  * null distance or id are skipped: the kNN loop unions one such keep-alive
  * row per active point so that a point whose probed disk matched nothing
  * still forms a group (with an empty result).
  */
case class KnnTopK(dist: Expression, id: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends ImperativeAggregate {
  KnnTopK.requireK(k)

  override def children: Seq[Expression] = Seq(dist, id)
  override def nullable: Boolean = false
  override def dataType: DataType = KnnTopK.ResultType
  override def prettyName: String = "knn_topk"

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    AttributeReference("n", IntegerType, nullable = false)() +:
      ((0 until k).map(j => AttributeReference(s"d_$j", DoubleType, nullable = false)()) ++
        (0 until k).map(j => AttributeReference(s"i_$j", LongType, nullable = false)()))
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())
  override def aggBufferSchema: StructType = DataTypeUtils.fromAttributes(aggBufferAttributes)

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(dist = newChildren(0), id = newChildren(1))

  override def initialize(buf: InternalRow): Unit = {
    buf.setInt(mutableAggBufferOffset, 0)
    var j = 0
    while (j < k) {
      buf.setDouble(mutableAggBufferOffset + 1 + j, 0.0)
      buf.setLong(mutableAggBufferOffset + 1 + k + j, 0L)
      j += 1
    }
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val d = dist.eval(input)
    if (d == null) return
    val i = id.eval(input)
    if (i == null) return
    insert(buf, d.asInstanceOf[Double], i.asInstanceOf[Long])
  }

  override def merge(buf: InternalRow, in: InternalRow): Unit = {
    val n = in.getInt(inputAggBufferOffset)
    var j = 0
    while (j < n) {
      insert(buf, in.getDouble(inputAggBufferOffset + 1 + j), in.getLong(inputAggBufferOffset + 1 + k + j))
      j += 1
    }
  }

  override def eval(buf: InternalRow): Any = {
    val n = buf.getInt(mutableAggBufferOffset)
    new GenericArrayData(Array.tabulate[Any](n)(j => InternalRow(
      buf.getDouble(mutableAggBufferOffset + 1 + j), buf.getLong(mutableAggBufferOffset + 1 + k + j))))
  }

  private def before(d: Double, i: Long, d2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(d, d2)
    c < 0 || (c == 0 && i < i2)
  }

  private def insert(buf: InternalRow, d: Double, i: Long): Unit = {
    val dOff = mutableAggBufferOffset + 1
    val iOff = dOff + k
    val n = buf.getInt(mutableAggBufferOffset)
    // O(1) reject for the common case: buffer full and the candidate sorts
    // after the current k-th
    if (n == k && !before(d, i, buf.getDouble(dOff + k - 1), buf.getLong(iOff + k - 1))) return
    var j = 0
    while (j < n) {
      if (buf.getLong(iOff + j) == i) return
      j += 1
    }
    // shift every entry that sorts after the candidate one slot right (the
    // k-th falls off a full buffer), then write the candidate into the gap
    j = if (n == k) k - 1 else n
    while (j > 0 && before(d, i, buf.getDouble(dOff + j - 1), buf.getLong(iOff + j - 1))) {
      buf.setDouble(dOff + j, buf.getDouble(dOff + j - 1))
      buf.setLong(iOff + j, buf.getLong(iOff + j - 1))
      j -= 1
    }
    buf.setDouble(dOff + j, d)
    buf.setLong(iOff + j, i)
    if (n < k) buf.setInt(mutableAggBufferOffset, n + 1)
  }
}

object KnnTopK {
  /** Largest supported k. The buffer holds 2k+1 fixed-width slots per group
    * whatever the number of candidates, so an unbounded k would let one
    * call size every group's hash-map entry; kNN callers use k ≤ 10. */
  val MaxK = 256

  def requireK(k: Int): Unit =
    require(k >= 1 && k <= MaxK, s"k must be in [1, $MaxK], got $k")

  // elements are never null; containsNull = true keeps the nullability of
  // knnJoin's output columns what it has always been
  private[join] val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("dist", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = true)

  /** Top-k candidates of each group by `(dist, id)`, as a `Column` for
    * `groupBy(...).agg(...)`. */
  def topk(dist: Column, id: Column, k: Int): Column =
    ColumnBridge.column(KnnTopK(Cast(ColumnBridge.expression(dist), DoubleType),
      Cast(ColumnBridge.expression(id), LongType), k).toAggregateExpression())
}
