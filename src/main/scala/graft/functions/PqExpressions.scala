package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization codebooks (Jégou et al. 2011, "Product quantization
  * for nearest neighbor search") carried into the PQ expressions as a plan
  * reference object (the [[BpeEncodeWord]]/[[BloomContains]] discipline).
  * Layout: `cents(sub)(code)` is the `subDim`-length centroid of code
  * `code` in subspace `sub`. */
final class PqCodebooks(val cents: Array[Array[Array[Double]]], val m: Int,
                        val subDim: Int, val nCodes: Int) extends Serializable {
  require(cents.length == m && cents.forall(_.length == nCodes),
    s"codebook shape must be m=$m × nCodes=$nCodes")
}

/** Native PQ encoder: `ARRAY<DOUBLE>` vector → `ARRAY<INT>` of m codes,
  * each the argmin-L2 codebook entry of its subspace.
  *
  * One compiled pass over m × nCodes × subDim multiply-adds per row — the
  * per-row hot loop of index construction, kept out of interpreted HOF
  * land per the repo convention. Determinism contract (what the DuckDB
  * oracle replays): per (sub, code) the squared distance accumulates
  * LEFT-TO-RIGHT over dimensions (`acc += d·d` — identical to the SQL
  * `list_reduce` fold), and ties keep the SMALLEST code (strict `<`
  * update). PqOpsSpec pins expression ≡ its plain-Scala executable spec
  * `encodeRef`. */
case class PqEncodeVector(child: Expression, cb: PqCodebooks)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<DOUBLE>, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "pq_encode_vector"

  override protected def nullSafeEval(v: Any): Any =
    PqEncodeVector.encode(v.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", cb, classOf[PqCodebooks].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqEncodeVector.encode($v, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeVector =
    copy(child = newChild)
}

object PqEncodeVector {

  def encode(v: ArrayData, cb: PqCodebooks): ArrayData = {
    val dim = cb.m * cb.subDim
    require(v.numElements() == dim,
      s"pq_encode_vector: expected a $dim-dim vector, got ${v.numElements()}")
    val out = new Array[Int](cb.m)
    var s = 0
    while (s < cb.m) {
      val base = s * cb.subDim
      val codes = cb.cents(s)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cb.nCodes) {
        val cent = codes(c)
        var acc = 0.0
        var i = 0
        while (i < cb.subDim) {
          val d = v.getDouble(base + i) - cent(i)
          acc += d * d
          i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Native PQ query-LUT builder: query vector → the flat
  * `ARRAY<DOUBLE>` of m·nCodes per-subspace dot products
  * `lut(sub·nCodes + code) = ⟨q_sub, cent(sub)(code)⟩` — computed ONCE per
  * query, then every corpus code row scores with m array lookups
  * ([[PqAdcDot]], the asymmetric-distance trick that makes PQ search fast).
  * Dot products accumulate left-to-right over dimensions (the oracle's
  * fold order). */
case class PqQueryLut(child: Expression, cb: PqCodebooks)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ARRAY<DOUBLE>, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "pq_query_lut"

  override protected def nullSafeEval(v: Any): Any =
    PqQueryLut.lut(v.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebooks", cb, classOf[PqCodebooks].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.PqQueryLut.lut($v, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqQueryLut =
    copy(child = newChild)
}

object PqQueryLut {

  def lut(q: ArrayData, cb: PqCodebooks): ArrayData = {
    val dim = cb.m * cb.subDim
    require(q.numElements() == dim,
      s"pq_query_lut: expected a $dim-dim query, got ${q.numElements()}")
    val out = new Array[Double](cb.m * cb.nCodes)
    var s = 0
    while (s < cb.m) {
      val base = s * cb.subDim
      var c = 0
      while (c < cb.nCodes) {
        val cent = cb.cents(s)(c)
        var acc = 0.0
        var i = 0
        while (i < cb.subDim) { acc += q.getDouble(base + i) * cent(i); i += 1 }
        out(s * cb.nCodes + c) = acc
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Native asymmetric-distance score: `(codes ARRAY<INT>, lut ARRAY<DOUBLE>)
  * → DOUBLE` — the quantized dot product `Σ_sub lut(sub·nCodes +
  * codes(sub))`, summed left-to-right in subspace order (the oracle's
  * `list_reduce` over `list(dot ORDER BY sub)`).
  *
  * Both children are COLUMNS (codes from the corpus side, the LUT from the
  * broadcast query side), so the scoring join stays entirely inside
  * whole-stage codegen: m int loads + m double adds per (query, doc) pair,
  * never touching the original dim-length vectors — the 100 TB payoff is
  * that query batches scan the m-int code table instead of the dim-double
  * embedding table. */
case class PqAdcDot(left: Expression, right: Expression, m: Int, nCodes: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<INT> codes, ARRAY<DOUBLE> lut), " +
          s"got (${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "pq_adc_dot"

  override protected def nullSafeEval(codes: Any, lut: Any): Any =
    PqAdcDot.score(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData],
      m, nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) =>
      s"${ev.value} = graft.functions.PqAdcDot.score($c, $l, $m, $nCodes);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqAdcDot =
    copy(left = newLeft, right = newRight)
}

object PqAdcDot {

  def score(codes: ArrayData, lut: ArrayData, m: Int, nCodes: Int): Double = {
    require(codes.numElements() == m,
      s"pq_adc_dot: expected $m codes, got ${codes.numElements()}")
    require(lut.numElements() == m * nCodes,
      s"pq_adc_dot: expected a ${m * nCodes}-entry lut, got ${lut.numElements()}")
    var acc = 0.0
    var s = 0
    while (s < m) { acc += lut.getDouble(s * nCodes + codes.getInt(s)); s += 1 }
    acc
  }
}
