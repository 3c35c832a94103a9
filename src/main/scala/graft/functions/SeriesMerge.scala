package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, JoinedRow, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Growable series state: parallel primitive arrays in arrival order, no
  * per-row object. The packer ([[SeriesPack]]) holds one per key of an
  * input partition; the merge ([[SeriesMerge]]) holds one, for the series
  * it is reading.
  *
  * Each element is a time `t`, `width` value lanes and a flag `nu`; `vs`
  * holds the lanes element by element (`vs(i * width + j)`). A packed
  * record, the form a series' rows cross the gather's key exchange in, is
  * one byte array: `n` (an int), `t[n]`, `v[n * width]`, then the `nu` flags
  * as a bitmap of `(n + 7) / 8` bytes, all in the platform's byte order. Its
  * width follows from its length ([[SeriesBuffer.widthOf]]). */
final class SeriesBuffer(val width: Int, var size: Int, var ts: Array[Long], var vs: Array[Double],
                         var nu: Array[Boolean]) {

  private def ensure(need: Int): Unit = if (need > ts.length) {
    val cap = math.max(need, ts.length * 2)
    ts = java.util.Arrays.copyOf(ts, cap)
    vs = java.util.Arrays.copyOf(vs, cap * width)
    nu = java.util.Arrays.copyOf(nu, cap)
  }

  /** Append one element; `v` holds its `width` lanes. */
  def append(t: Long, v: Array[Double], n: Boolean): Unit = {
    ensure(size + 1)
    ts(size) = t; nu(size) = n
    System.arraycopy(v, 0, vs, size * width, width)
    size += 1
  }

  /** The first `size` elements as a packed record. */
  def toPacked: Array[Byte] = {
    val n = size
    val bits = 4 + 8 * n * (1 + width)
    val out = new Array[Byte](bits + (n + 7) / 8)
    Platform.putInt(out, Platform.BYTE_ARRAY_OFFSET, n)
    Platform.copyMemory(ts, Platform.LONG_ARRAY_OFFSET, out, Platform.BYTE_ARRAY_OFFSET + 4, 8L * n)
    Platform.copyMemory(vs, Platform.DOUBLE_ARRAY_OFFSET, out,
      Platform.BYTE_ARRAY_OFFSET + 4 + 8L * n, 8L * n * width)
    var i = 0
    while (i < n) {
      if (nu(i)) out(bits + (i >>> 3)) = (out(bits + (i >>> 3)) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  /** Append a packed record's elements; the record has this buffer's width. */
  def appendPacked(p: Array[Byte]): Unit = {
    val m = Platform.getInt(p, Platform.BYTE_ARRAY_OFFSET)
    ensure(size + m)
    Platform.copyMemory(p, Platform.BYTE_ARRAY_OFFSET + 4, ts,
      Platform.LONG_ARRAY_OFFSET + 8L * size, 8L * m)
    Platform.copyMemory(p, Platform.BYTE_ARRAY_OFFSET + 4 + 8L * m, vs,
      Platform.DOUBLE_ARRAY_OFFSET + 8L * size * width, 8L * m * width)
    val bits = 4 + 8 * m * (1 + width)
    var i = 0
    while (i < m) {
      nu(size + i) = (p(bits + (i >>> 3)) & (1 << (i & 7))) != 0
      i += 1
    }
    size += m
  }

  private def cmp(i: Int, j: Int): Int = {
    var c = java.lang.Long.compare(ts(i), ts(j))
    var l = 0
    while (c == 0 && l < width) {
      c = SQLOrderingUtil.compareDoubles(vs(i * width + l), vs(j * width + l))
      l += 1
    }
    if (c != 0) c else java.lang.Boolean.compare(nu(i), nu(j))
  }

  /** Sort the elements in place by `(t, v_1..v_width, nu)`: Spark's
    * `sort_array` order on the struct (each lane with -0.0 == 0.0 and NaN
    * largest, `nu` false first), stable on arrival order. Rows usually
    * arrive in time order, so the common case is one linear check and no
    * sort. */
  def sort(): Unit = {
    val n = size
    var i = 1
    while (i < n && cmp(i - 1, i) <= 0) i += 1
    if (i < n) {
      // Arrays.sort on objects is TimSort: stable, as the order requires
      val idx = Array.tabulate[Integer](n)(Int.box)
      java.util.Arrays.sort(idx, (x: Integer, y: Integer) => cmp(x, y))
      val t2 = new Array[Long](n); val v2 = new Array[Double](n * width); val n2 = new Array[Boolean](n)
      var k = 0
      while (k < n) {
        t2(k) = ts(idx(k)); n2(k) = nu(idx(k))
        System.arraycopy(vs, idx(k) * width, v2, k * width, width)
        k += 1
      }
      ts = t2; vs = v2; nu = n2
    }
  }

  /** The first `size` elements as a `(t, v, nu)` row of primitive arrays
    * (copied: the buffer may be reused). */
  def toRow: InternalRow = InternalRow(
    UnsafeArrayData.fromPrimitiveArray(ts, Platform.LONG_ARRAY_OFFSET, size, 8),
    UnsafeArrayData.fromPrimitiveArray(vs, Platform.DOUBLE_ARRAY_OFFSET, size * width, 8),
    UnsafeArrayData.fromPrimitiveArray(nu, Platform.BOOLEAN_ARRAY_OFFSET, size, 1))
}

object SeriesBuffer {
  def empty(width: Int): SeriesBuffer = new SeriesBuffer(width, 0, new Array[Long](16),
    new Array[Double](16 * width), new Array[Boolean](16))

  /** The lane count of a packed record of at least one element. */
  def widthOf(p: Array[Byte]): Int = {
    val m = Platform.getInt(p, Platform.BYTE_ARRAY_OFFSET)
    (p.length - 4 - (m + 7) / 8) / (8 * m) - 1
  }

  /** `struct<t, v, nu>` of non-null primitive arrays: a gathered series,
    * `v` holding its lanes element by element. */
  val fields: Seq[StructField] = Seq(
    StructField("t", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("nu", ArrayType(BooleanType, containsNull = false), nullable = false))
}

/** Streaming series merge: reads a partition's packed `(keys, p)` records
  * ([[SeriesPack]]) sorted by the keys, appends each run of equal keys into
  * one [[SeriesBuffer]], sorts it by `(t, v_1..v_w, nu)`
  * ([[SeriesBuffer.sort]]) and emits `(keys, s: struct<t: array<bigint>,
  * v: array<double>, nu: array<boolean>>)` when the next key starts or the
  * partition ends; `v` holds `n * w` doubles, w the records' lane count.
  *
  * This is the reference's `LIST(value ORDER BY date)` (ts_macros.cpp:37-42)
  * with its O(group) memory: the merge holds one series at a time, so its
  * memory is bounded by the largest series; the sort that brings the runs
  * together is Spark's own spillable `SortExec` under it
  * ([[graft.ops.Series.gatherBy]]). An aggregate in its place (Spark plans
  * a typed aggregate as an object hash aggregate) falls back to a sort past
  * 128 keys per task and serializes each buffer between its partial and
  * final steps.
  *
  * Keys compare by their bytes, so float and double keys must arrive
  * normalized as the packer emits them (-0.0 as 0.0, one NaN). With no keys
  * the whole partition is one series, and a partition with no record still
  * emits one empty series, as a global aggregate over no rows does. */
case class SeriesMerge(children: Seq[Expression]) extends Generator with CodegenFallback {

  private def keys: Seq[Expression] = children.init
  private def packed: Expression = children.last

  override def checkInputDataTypes(): TypeCheckResult =
    if (packed.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (keys..., binary) packed records of series_pack, got ${packed.dataType.sql}")

  override def elementSchema: StructType = StructType(
    keys.zipWithIndex.map { case (k, i) => StructField(s"k$i", k.dataType, k.nullable) } :+
      StructField("s", StructType(SeriesBuffer.fields), nullable = false))

  override def supportCodegen: Boolean = false

  override def prettyName: String = "series_merge"

  @transient private lazy val keyOf = UnsafeProjection.create(keys)
  /** Created for the first record, with its width. */
  @transient private var buf: SeriesBuffer = _
  /** The key of the series in `buf`, or null before the first record. */
  @transient private var held: UnsafeRow = _

  /** The held series, sorted; `buf` is then free for the next one. */
  private def emit(): InternalRow = {
    buf.sort()
    val row = new JoinedRow(held, InternalRow(buf.toRow))
    buf.size = 0
    row
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val k = keyOf(input)
    val out = if (held == null || held == k) Nil else List(emit())
    if (out.nonEmpty || held == null) held = k.copy()
    val p = packed.eval(input).asInstanceOf[Array[Byte]]
    if (buf == null) buf = SeriesBuffer.empty(SeriesBuffer.widthOf(p))
    buf.appendPacked(p)
    out
  }

  override def terminate(): IterableOnce[InternalRow] =
    if (held != null) List(emit())
    else if (keys.isEmpty) List(InternalRow(SeriesBuffer.empty(1).toRow))
    else Nil

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SeriesMerge =
    copy(children = newChildren)
}
