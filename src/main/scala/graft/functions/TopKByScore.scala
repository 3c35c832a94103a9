package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k accumulator state: parallel primitive arrays, no per-row
  * allocation. Capacity is 2k+1; overflow triggers an in-place compact to
  * the best k (amortized O(log k) per row like a heap, but branch-simple). */
final class TopKState(var size: Int, var ids: Array[Long], var sims: Array[Double])

/** Native bounded top-k aggregate: per group, the k largest `score` rows
  * with ties broken by `id` ascending, returned as array<struct<vid,sim>>
  * in that order.
  *
  * This replaces a Scala `Aggregator` UDAF on the ANN/kNN hot paths. The
  * typed-Aggregator route pays a boxed (Long, Double) tuple plus an
  * ExpressionEncoder round trip PER CANDIDATE ROW — at corpus×nProbe×listSize
  * candidate volume that dominated the whole kNN-graph runtime (measured:
  * the identical join/scoring pipeline reduced with a native max() ran ~8×
  * faster than with the UDAF). A TypedImperativeAggregate reads the two
  * input columns straight off the InternalRow into primitive arrays —
  * no boxing, no encoder. Selection semantics are identical to the replaced
  * Aggregator: keep-best-k by (-sim, vid) with a 2k+1 buffer and sort-based
  * compaction. */
case class TopKByScore(left: Expression, right: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKState] with BinaryLike[Expression] {

  private val cap = 2 * k + 1

  override def createAggregationBuffer(): TopKState =
    new TopKState(0, new Array[Long](cap), new Array[Double](cap))

  /** Indices of the best entries, ordered by (-sim, vid). */
  private def sortedIdx(b: TopKState): Array[Integer] = {
    val order = new Array[Integer](b.size)
    var i = 0
    while (i < b.size) { order(i) = i; i += 1 }
    java.util.Arrays.sort(order, (x: Integer, y: Integer) => {
      val c = java.lang.Double.compare(b.sims(y.intValue), b.sims(x.intValue))
      if (c != 0) c else java.lang.Long.compare(b.ids(x.intValue), b.ids(y.intValue))
    })
    order
  }

  private def compact(b: TopKState): Unit = {
    if (b.size <= k) return
    val order = sortedIdx(b)
    val ids = new Array[Long](cap)
    val sims = new Array[Double](cap)
    var i = 0
    while (i < k) {
      ids(i) = b.ids(order(i).intValue); sims(i) = b.sims(order(i).intValue); i += 1
    }
    b.ids = ids; b.sims = sims; b.size = k
  }

  private def append(b: TopKState, vid: Long, sim: Double): Unit = {
    if (b.size >= cap) compact(b)
    b.ids(b.size) = vid
    b.sims(b.size) = sim
    b.size += 1
  }

  override def update(b: TopKState, input: InternalRow): TopKState = {
    val v = left.eval(input)
    val s = right.eval(input)
    if (v != null && s != null)
      append(b, v.asInstanceOf[Long], s.asInstanceOf[Double])
    b
  }

  override def merge(b: TopKState, o: TopKState): TopKState = {
    var i = 0
    while (i < o.size) { append(b, o.ids(i), o.sims(i)); i += 1 }
    b
  }

  override def eval(b: TopKState): Any = {
    val order = sortedIdx(b)
    val n = math.min(k, b.size)
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      rows(i) = InternalRow(b.ids(order(i).intValue), b.sims(order(i).intValue))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKState): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + b.size * 16)
    buf.putInt(b.size)
    var i = 0
    while (i < b.size) { buf.putLong(b.ids(i)); buf.putDouble(b.sims(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKState = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = new TopKState(0, new Array[Long](math.max(cap, n)),
      new Array[Double](math.max(cap, n)))
    var i = 0
    while (i < n) { b.ids(i) = buf.getLong; b.sims(i) = buf.getDouble; i += 1 }
    b.size = n
    b
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("vid", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "top_k_by_score"

  override def withNewMutableAggBufferOffset(offset: Int): TopKByScore =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): TopKByScore =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): TopKByScore =
    copy(left = newLeft, right = newRight)
}
