package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Growable per-group series state: parallel primitive arrays in arrival
  * order, no per-row object. */
final class SeriesBuffer(var size: Int, var ts: Array[Long], var vs: Array[Double],
                         var nu: Array[Boolean]) {

  private def ensure(need: Int): Unit = if (need > ts.length) {
    val cap = math.max(need, ts.length * 2)
    ts = java.util.Arrays.copyOf(ts, cap)
    vs = java.util.Arrays.copyOf(vs, cap)
    nu = java.util.Arrays.copyOf(nu, cap)
  }

  def append(t: Long, v: Double, n: Boolean): Unit = {
    ensure(size + 1)
    ts(size) = t; vs(size) = v; nu(size) = n
    size += 1
  }

  def appendAll(o: SeriesBuffer): Unit = {
    ensure(size + o.size)
    System.arraycopy(o.ts, 0, ts, size, o.size)
    System.arraycopy(o.vs, 0, vs, size, o.size)
    System.arraycopy(o.nu, 0, nu, size, o.size)
    size += o.size
  }

  /** Append a packed record's parallel arrays (equal lengths, no nulls). */
  def appendPacked(t: ArrayData, v: ArrayData, n: ArrayData): Unit = {
    val m = t.numElements()
    ensure(size + m)
    var i = 0
    while (i < m) {
      ts(size + i) = t.getLong(i); vs(size + i) = v.getDouble(i); nu(size + i) = n.getBoolean(i)
      i += 1
    }
    size += m
  }

  /** The first `size` elements as a `(t, v, nu)` row of primitive arrays. */
  def toRow: InternalRow = InternalRow(
    UnsafeArrayData.fromPrimitiveArray(ts, Platform.LONG_ARRAY_OFFSET, size, 8),
    UnsafeArrayData.fromPrimitiveArray(vs, Platform.DOUBLE_ARRAY_OFFSET, size, 8),
    UnsafeArrayData.fromPrimitiveArray(nu, Platform.BOOLEAN_ARRAY_OFFSET, size, 1))
}

object SeriesBuffer {
  def empty(): SeriesBuffer =
    new SeriesBuffer(0, new Array[Long](16), new Array[Double](16), new Array[Boolean](16))

  /** `struct<t, v, nu>` of non-null primitive arrays: a packed record and a
    * gathered series alike. */
  val fields: Seq[StructField] = Seq(
    StructField("t", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("nu", ArrayType(BooleanType, containsNull = false), nullable = false))
}

/** Native series gather: per group, the `(t, v, nu)` triples of its packed
  * records ([[SeriesPack]]) sorted by `(t, v, nu)` and returned as three
  * parallel arrays, `struct<t: array<bigint>, v: array<double>,
  * nu: array<boolean>>`.
  *
  * This is the reference's `LIST(value ORDER BY date)` (ts_macros.cpp:37-42)
  * and replaces `sort_array(collect_list(struct(t, v, nu)))`, whose buffers
  * were arrays of generic struct rows sorted on a boxed struct comparator.
  * Its inputs are the three arrays of a packed record, not single rows: the
  * packer has already folded each input partition's rows of a series into
  * one record, without the sort Spark's object hash aggregate falls back to
  * past 128 keys per task, so no raw row reaches this aggregate or a sorter
  * ([[graft.ops.Series.gather]]). A buffer is three growable primitive
  * arrays, serialized as `n, t[n], v[n], nu bits`; `update` and `merge` both
  * append in arrival order.
  *
  * Order is Spark's `sort_array` order on the struct, element for element:
  * `t` ascending, then `v` with -0.0 == 0.0 and NaN largest, then
  * `nu` false first; the sort is stable on arrival order, so the only
  * elements whose relative order can differ from the replaced form are a
  * +0.0 and a -0.0 with the same `t` and `nu` — a tie that form left to
  * shuffle arrival order too. Null handling is the packer's: a row with a
  * null `t` has no place in time order and is skipped, a null `v` reads as
  * NaN and a null `nu` as true. An empty group yields three empty arrays, as
  * `collect_list` does. The replaced form is kept as the executable
  * specification in the test tree (SeriesGatherSpec). */
case class SeriesGather(t: Expression, v: Expression, nu: Expression,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SeriesBuffer] with TernaryLike[Expression] {

  override def first: Expression = t
  override def second: Expression = v
  override def third: Expression = nu

  override def checkInputDataTypes(): TypeCheckResult = {
    val want = SeriesBuffer.fields.map(_.dataType)
    val got = Seq(t, v, nu).map(_.dataType)
    if (got == want) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects the packed " +
      s"(${want.map(_.sql).mkString(", ")}) arrays of series_pack, got ${got.map(_.sql).mkString(", ")}")
  }

  override def createAggregationBuffer(): SeriesBuffer = SeriesBuffer.empty()

  override def update(b: SeriesBuffer, input: InternalRow): SeriesBuffer = {
    val tv = t.eval(input)
    if (tv != null) {
      b.appendPacked(tv.asInstanceOf[ArrayData], v.eval(input).asInstanceOf[ArrayData],
        nu.eval(input).asInstanceOf[ArrayData])
    }
    b
  }

  override def merge(b: SeriesBuffer, o: SeriesBuffer): SeriesBuffer = {
    b.appendAll(o)
    b
  }

  private def cmp(b: SeriesBuffer, i: Int, j: Int): Int = {
    val c = java.lang.Long.compare(b.ts(i), b.ts(j))
    if (c != 0) c
    else {
      val cv = SQLOrderingUtil.compareDoubles(b.vs(i), b.vs(j))
      if (cv != 0) cv else java.lang.Boolean.compare(b.nu(i), b.nu(j))
    }
  }

  /** Sort the buffer in place. Rows usually arrive in time order, so the
    * common case is one linear check and no sort. */
  private def sortInPlace(b: SeriesBuffer): Unit = {
    val n = b.size
    var i = 1
    while (i < n && cmp(b, i - 1, i) <= 0) i += 1
    if (i < n) {
      // Arrays.sort on objects is TimSort: stable, as the spec requires
      val idx = Array.tabulate[Integer](n)(Int.box)
      java.util.Arrays.sort(idx, (x: Integer, y: Integer) => cmp(b, x, y))
      val ts = new Array[Long](n); val vs = new Array[Double](n); val nu = new Array[Boolean](n)
      var k = 0
      while (k < n) { ts(k) = b.ts(idx(k)); vs(k) = b.vs(idx(k)); nu(k) = b.nu(idx(k)); k += 1 }
      b.ts = ts; b.vs = vs; b.nu = nu
    }
  }

  override def eval(b: SeriesBuffer): Any = {
    sortInPlace(b)
    b.toRow
  }

  override def serialize(b: SeriesBuffer): Array[Byte] = {
    val n = b.size
    val buf = ByteBuffer.allocate(4 + n * 16 + (n + 7) / 8)
    buf.putInt(n)
    buf.asLongBuffer().put(b.ts, 0, n)
    buf.position(4 + n * 8)
    buf.asDoubleBuffer().put(b.vs, 0, n)
    buf.position(4 + n * 16)
    var i = 0
    while (i < n) {
      var bits = 0
      var j = 0
      while (j < 8 && i + j < n) { if (b.nu(i + j)) bits |= 1 << j; j += 1 }
      buf.put(bits.toByte)
      i += 8
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): SeriesBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = new SeriesBuffer(n, new Array[Long](n), new Array[Double](n), new Array[Boolean](n))
    buf.asLongBuffer().get(b.ts, 0, n)
    buf.position(4 + n * 8)
    buf.asDoubleBuffer().get(b.vs, 0, n)
    var i = 0
    while (i < n) {
      b.nu(i) = (bytes(4 + n * 16 + (i >>> 3)) & (1 << (i & 7))) != 0
      i += 1
    }
    b
  }

  override def dataType: DataType = StructType(SeriesBuffer.fields)

  override def nullable: Boolean = false

  override def prettyName: String = "series_gather"

  override def withNewMutableAggBufferOffset(offset: Int): SeriesGather =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): SeriesGather =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
                                                 newThird: Expression): SeriesGather =
    copy(t = newFirst, v = newSecond, nu = newThird)
}
