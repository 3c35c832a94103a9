package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Map-side series packer: folds an input partition's
  * `(keys, t, v_1..v_width, nu)` rows into ONE packed `(keys, p: binary)`
  * record per key, without a sort.
  *
  * Children are the key expressions followed by `t: bigint`, `width` value
  * lanes `v_j: double` and `nu: boolean`. Each row is appended, in arrival
  * order, to its key's [[SeriesBuffer]] in a hash map; the map is emitted
  * when the partition ends (`terminate`), each buffer as one packed record
  * (`n, t[n], v[n * width]` and the `nu` flags as bits, see
  * [[SeriesBuffer]]). A row with a null `t` is skipped, a null `v_j` reads
  * as NaN and a null `nu` as true.
  * [[SeriesMerge]] merges the packed records per key above the key exchange.
  *
  * Keys are packed in the form Spark's `groupBy` compares them in: float and
  * double keys, also inside structs and arrays, are normalized (-0.0 becomes
  * 0.0, every NaN one canonical NaN), so that equal groups have equal bytes
  * in the packer's map, the exchange's hash and the merge's run check.
  *
  * This takes the place of the map-side partial aggregate, which Spark plans
  * for a typed aggregate as an object hash aggregate: past 128 keys in a task
  * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`) that
  * aggregate switches to a sort, and every remaining raw row of the task goes
  * through an external sorter. The packer has no key-count threshold.
  *
  * Memory stays bounded through the task's memory manager: the buffers'
  * estimated footprint is taken as execution memory, and when a grant is
  * refused the packer emits everything it holds and starts again. That
  * flush is legal because the records are partial: a key may then cross the
  * exchange as more than one record, which the merge appends. It writes no
  * spill file and never sorts. */
case class SeriesPack(children: Seq[Expression], width: Int) extends Generator with CodegenFallback {

  private def keys: Seq[Expression] = children.dropRight(width + 2)
  private def t: Expression = children(children.length - width - 2)
  @transient private lazy val lanes = children.takeRight(width + 1).init.toArray
  private def nu: Expression = children.last

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.takeRight(width + 2).map(_.dataType)
    if (width >= 1 && got == (LongType +: Seq.fill(width)(DoubleType) :+ BooleanType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects (keys..., bigint, $width x double, " +
      s"boolean) inputs, got ${got.map(_.sql).mkString(", ")}")
  }

  override def elementSchema: StructType = StructType(
    keys.zipWithIndex.map { case (k, i) => StructField(s"k$i", k.dataType, k.nullable) } :+
      StructField("p", BinaryType, nullable = false))

  override def supportCodegen: Boolean = false

  override def prettyName: String = "series_pack"

  @transient private lazy val keyOf =
    UnsafeProjection.create(keys.map(GraftExpressionBridge.normalizeFloats))
  @transient private var packer: SeriesPacker = _
  /** The current row's lanes. */
  @transient private lazy val row = new Array[Double](width)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val tv = t.eval(input)
    if (tv == null) Nil
    else {
      if (packer == null) packer = SeriesPacker.forTask(width)
      var j = 0
      while (j < width) {
        val vv = lanes(j).eval(input)
        row(j) = if (vv == null) Double.NaN else vv.asInstanceOf[Double]
        j += 1
      }
      val nv = nu.eval(input)
      packer.add(keyOf(input), tv.asInstanceOf[Long], row, nv == null || nv.asInstanceOf[Boolean])
    }
  }

  override def terminate(): IterableOnce[InternalRow] =
    if (packer == null) Nil else packer.flush()

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SeriesPack =
    copy(children = newChildren)
}

/** One task's open hash map of series buffers of `width` lanes, accounted
  * as execution memory. */
private[functions] final class SeriesPacker(tmm: TaskMemoryManager, width: Int)
    extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {

  import SeriesPacker._

  private var groups = new java.util.HashMap[UnsafeRow, SeriesBuffer]()
  /** Estimated bytes the map holds; `used` is the grant. */
  private var held = 0L
  /** Bytes per element: a long, the lanes' doubles and a boolean. */
  private val slotBytes = 9L + 8L * width

  /** Append one row to its key's buffer. Returns the flushed records when
    * the grant for the grown buffers is refused, else nothing. */
  def add(key: UnsafeRow, t: Long, v: Array[Double], nu: Boolean): IterableOnce[InternalRow] = {
    var b = groups.get(key)
    if (b == null) {
      b = SeriesBuffer.empty(width)
      val k = key.copy()
      groups.put(k, b)
      held += GroupBytes + k.getSizeInBytes + b.ts.length * slotBytes
    }
    val cap = b.ts.length
    b.append(t, v, nu)
    if (b.ts.length != cap) held += (b.ts.length - cap) * slotBytes
    if (held <= used) Nil
    else {
      val want = math.max(held - used, Chunk)
      if (acquireMemory(want) >= want) Nil else flush()
    }
  }

  /** Every held key's packed record; the map starts again empty. */
  def flush(): Iterator[InternalRow] = {
    val out = groups
    groups = new java.util.HashMap[UnsafeRow, SeriesBuffer]()
    held = 0L
    freeMemory(used)
    out.entrySet().iterator().asScala
      .map(e => new JoinedRow(e.getKey, InternalRow(e.getValue.toPacked)))
  }

  /** Held buffers cannot be released on another consumer's request: they
    * leave only as emitted rows, when the packer's own grant is refused or
    * the partition ends. */
  override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
}

private[functions] object SeriesPacker {
  /** Per-key overhead besides the key bytes: map entry, key row, buffer and
    * three array headers. */
  val GroupBytes = 160L
  /** Smallest grant requested, so a task asks the memory manager rarely. */
  val Chunk: Long = 1L << 20

  /** A packer for the running task; its grant is returned when the task
    * ends, also when the task stops before the partition's end. */
  def forTask(width: Int): SeriesPacker = {
    val ctx = TaskContext.get()
    val p = new SeriesPacker(GraftExpressionBridge.taskMemoryManager(ctx), width)
    ctx.addTaskCompletionListener[Unit](_ => p.freeMemory(p.getUsed))
    p
  }
}
