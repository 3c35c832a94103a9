package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Chunk × chunk ANN scoring: for every probe in a PACKED probe chunk, the
  * top-k of `cos(probe, v)` over a PACKED inverted-list chunk, in one
  * expression evaluation.
  *
  * Why both sides pack: with only the LIST side packed ([[ChunkTopK]], kept
  * as the executable specification), the probe⋈chunk join materializes one
  * output row PER (probe, chunk) pair, and every such row copies the full
  * chunk payload (~320 KB at the 1024-vector cap) through the join/generate
  * row buffer — measured 51 GB of row copying for a 20k-node kNN graph at
  * 10× bench scale, dwarfing the arithmetic. Packing the probes per
  * (centroid, probe-chunk) too gives |probeChunks| × |listChunks| packed
  * rows per centroid — the heavy bytes move once per CHUNK PAIR instead of
  * once per probe (guide-§8 "move heavy bytes once" applied to both sides).
  * The kNN graph builds each chunk pair as one group of a grid aggregate
  * keyed on (centroid, probe chunk, list chunk), so no join is involved.
  *
  * Inside one evaluation the chunk payloads hoist ONCE into primitive
  * arrays (the per-candidate null/length screening is amortized over every
  * probe in the chunk), so the hot triple loop is pure double[] arithmetic.
  *
  * Scoring and selection are bit-identical to [[ChunkTopK]] / the per-pair
  * cosine pipeline: sequential dot accumulation, `dot / (√Σq²·√Σv²)`,
  * null-normed / length-mismatched / null-component candidates skipped,
  * NaN sims skipped, probes with a null id or null component emit nothing,
  * self matches skipped when `excludeSelf`, ties by (sim desc, vid asc),
  * and each probe's top-k is per LIST CHUNK (the downstream bounded top-k
  * aggregate merges chunks exactly as before).
  *
  * Output: array<struct<qid, vid, sim>> — probe order, then rank order.
  * A null length entry on either side breaks the flat-array alignment of
  * every later element, so the whole evaluation yields empty (stride
  * corruption guard, matching ChunkTopK). */
case class ChunkPairTopK(qids: Expression, qvsFlat: Expression, qlens: Expression,
                         ids: Expression, norms: Expression, vecsFlat: Expression,
                         lens: Expression, k: Int, excludeSelf: Boolean)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] =
    Seq(qids, qvsFlat, qlens, ids, norms, vecsFlat, lens)

  override def checkInputDataTypes(): TypeCheckResult = {
    val expected = Seq(ArrayType(LongType), ArrayType(DoubleType), ArrayType(IntegerType),
      ArrayType(LongType), ArrayType(DoubleType), ArrayType(DoubleType),
      ArrayType(IntegerType))
    val ok = children.map(_.dataType).zip(expected).forall {
      case (a: ArrayType, b: ArrayType) => DataType.equalsIgnoreNullability(a, b)
      case (a, b) => a == b
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<long>, array<double>, array<int>, array<long>, " +
        s"array<double>, array<double>, array<int>), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vid", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def prettyName: String = "chunk_pair_top_k"

  private val Empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any = {
    val qidsA = qids.eval(input); val qvA = qvsFlat.eval(input)
    val qlA = qlens.eval(input); val idsA = ids.eval(input)
    val nrmA = norms.eval(input); val vfA = vecsFlat.eval(input)
    val vlA = lens.eval(input)
    if (qidsA == null || qvA == null || qlA == null || idsA == null ||
        nrmA == null || vfA == null || vlA == null) return Empty
    val qidArr = qidsA.asInstanceOf[ArrayData]
    val qFlat = qvA.asInstanceOf[ArrayData]
    val qLen = qlA.asInstanceOf[ArrayData]
    val vidArr = idsA.asInstanceOf[ArrayData]
    val nrmArr = nrmA.asInstanceOf[ArrayData]
    val vFlat = vfA.asInstanceOf[ArrayData]
    val vLen = vlA.asInstanceOf[ArrayData]

    // ---- hoist the LIST chunk once: offsets, validity, primitive copies
    val m = vidArr.numElements()
    val vOff = new Array[Int](m)
    val vOk = new Array[Boolean](m)
    val vVid = new Array[Long](m)
    val vNrm = new Array[Double](m)
    val totalV = vFlat.numElements()
    var off = 0
    var c = 0
    while (c < m) {
      if (vLen.isNullAt(c)) return Empty
      val lc = vLen.getInt(c)
      if (lc < 0 || off + lc > totalV) return Empty
      vOff(c) = off
      var ok = !nrmArr.isNullAt(c) && !vidArr.isNullAt(c)
      if (ok) { vVid(c) = vidArr.getLong(c); vNrm(c) = nrmArr.getDouble(c) }
      // null component ⇒ the candidate's dot would have been null ⇒ skip
      var j = 0
      while (ok && j < lc) { if (vFlat.isNullAt(off + j)) ok = false; j += 1 }
      vOk(c) = ok
      off += lc
      c += 1
    }
    val vPrim = vFlat.toDoubleArray() // null slots read as garbage but vOk gates them
    val vLenPrim = new Array[Int](m)
    c = 0; while (c < m) { vLenPrim(c) = vLen.getInt(c); c += 1 }

    // ---- hoist the PROBE chunk's flat components once as well
    val qPrim = qFlat.toDoubleArray() // null slots garbage; pOk gates them

    // ---- per-probe scoring
    val np = qidArr.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](np * k)
    val topIds = new Array[Long](k)
    val topSims = new Array[Double](k)
    var qoff = 0
    val totalQ = qFlat.numElements()
    var p = 0
    while (p < np) {
      if (qLen.isNullAt(p)) return Empty
      val d = qLen.getInt(p)
      if (d < 0 || qoff + d > totalQ) return Empty
      var pOk = !qidArr.isNullAt(p)
      val qidV = if (pOk) qidArr.getLong(p) else 0L
      // query norm: sequential accumulation, identical to CosineSimilarity
      var qs = 0.0
      var j = 0
      while (pOk && j < d) {
        if (qFlat.isNullAt(qoff + j)) pOk = false
        else { val x = qPrim(qoff + j); qs += x * x; j += 1 }
      }
      if (pOk) {
        val qn = math.sqrt(qs)
        var n = 0
        var cc = 0
        while (cc < m) {
          if (vOk(cc) && vLenPrim(cc) == d &&
              !(excludeSelf && vVid(cc) == qidV)) {
            val vo = vOff(cc)
            var dotv = 0.0
            var jj = 0
            while (jj < d) { dotv += qPrim(qoff + jj) * vPrim(vo + jj); jj += 1 }
            val sim = dotv / (qn * vNrm(cc))
            if (!sim.isNaN) {
              val vid = vVid(cc)
              if (n < k || sim > topSims(n - 1) ||
                  (sim == topSims(n - 1) && vid < topIds(n - 1))) {
                var pos = if (n < k) n else n - 1
                while (pos > 0 && (topSims(pos - 1) < sim ||
                    (topSims(pos - 1) == sim && topIds(pos - 1) > vid))) {
                  topSims(pos) = topSims(pos - 1); topIds(pos) = topIds(pos - 1)
                  pos -= 1
                }
                topSims(pos) = sim; topIds(pos) = vid
                if (n < k) n += 1
              }
            }
          }
          cc += 1
        }
        var r = 0
        while (r < n) { out += InternalRow(qidV, topIds(r), topSims(r)); r += 1 }
      }
      qoff += d
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ChunkPairTopK =
    copy(qids = newChildren(0), qvsFlat = newChildren(1), qlens = newChildren(2),
      ids = newChildren(3), norms = newChildren(4), vecsFlat = newChildren(5),
      lens = newChildren(6))
}
