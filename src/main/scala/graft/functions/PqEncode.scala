package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native product-quantization encode→reconstruct: maps a vector to the
  * concatenation of its nearest codebook entry per subspace, in one
  * codegen'd primitive loop — the hot-path replacement for the
  * interpreted HOF formulation ([[graft.ops.Similarity]]'s
  * `pqReconFrameHof`, kept as the reference semantics this expression
  * must match bit-for-bit).
  *
  * Selection semantics (identical to the HOF and the DuckDB oracles):
  * per subspace `s`, code `c` minimizing `round(‖x_s − b_{s,c}‖², 6)`
  * with ties resolved to the LOWEST code id — the `array_sort` over
  * `struct(round(l2,6), c)` the HOF used. Implemented without paying
  * BigDecimal per code: HALF_UP rounding of non-negative doubles is
  * monotone, so the minimum ROUNDED distance is the rounding of the
  * minimum RAW distance, and only codes within 2·10⁻⁶ of the raw
  * minimum can tie after rounding — the BigDecimal path (the exact
  * rounding Spark's `round` applies) runs only for those rare
  * near-ties. The squared distance itself is the same left-to-right
  * fold of `(double(x) − b)²` the HOF's `aggregate(zip_with(...))`
  * computed, so raw distances are bit-identical.
  *
  * The codebook rides the PLAN as bounded index metadata
  * (`m·nCodes·subDim` doubles), referenced from generated code via
  * `addReferenceObj` — never rebuilt per row (the HOF's folded literal
  * shared this property; what it could not avoid was interpreted
  * per-element lambda evaluation and a 64-struct sort per subspace).
  *
  * Requires `vec.length ≥ m·subDim` — ENFORCED per row (Unsafe array
  * accessors past numElements read unchecked memory; a short vector
  * must fail loudly, never reconstruct from garbage); extra trailing
  * dimensions are ignored (slice semantics). Null elements read as 0
  * ([[DotProduct]]'s documented divergence from the HOF's
  * null-propagation; the embedding corpus has none); a null vector
  * yields null.
  */
case class PqEncode(child: Expression, book: Seq[Double],
                    m: Int, nCodes: Int, subDim: Int)
    extends UnaryExpression {

  require(book.length == m * nCodes * subDim,
    s"codebook length ${book.length} != m*nCodes*subDim (${m * nCodes * subDim})")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_pq_encode expects array<float|double>, got $t")
    }

  @transient private lazy val bookArr: Array[Double] = book.toArray

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[ArrayData]
    val isF = elemIsFloat
    // enforced, not assumed: UnsafeArrayData accessors past numElements
    // read unchecked memory — a short vector would silently produce a
    // garbage reconstruction instead of an error
    if (vec.numElements() < m * subDim)
      throw new IllegalArgumentException(
        s"graft_pq_encode: vector has ${vec.numElements()} dims, " +
          s"codebook needs ${m * subDim}")
    val xs = new Array[Double](m * subDim)
    var i = 0
    while (i < xs.length) {
      xs(i) =
        if (vec.isNullAt(i)) 0.0 // DotProduct's null-as-0 divergence
        else if (isF) vec.getFloat(i).toDouble
        else vec.getDouble(i)
      i += 1
    }
    new GenericArrayData(PqEncode.reconstruct(xs, bookArr, m, nCodes, subDim))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("pqBook", bookArr, "double[]")
    val get = if (elemIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, v => {
      val xs = ctx.freshName("xs")
      val i = ctx.freshName("i")
      s"""
         |if ($v.numElements() < ${m * subDim}) {
         |  throw new IllegalArgumentException(
         |    "graft_pq_encode: vector has " + $v.numElements() +
         |    " dims, codebook needs ${m * subDim}");
         |}
         |double[] $xs = new double[${m * subDim}];
         |for (int $i = 0; $i < ${m * subDim}; $i++) {
         |  $xs[$i] = $v.isNullAt($i) ? 0.0 : (double) $v.$get($i);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.PqEncode.reconstruct(
         |    $xs, $bookRef, $m, $nCodes, $subDim));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_pq_encode"
}

object PqEncode {

  /** Spark's `round(d, 6)` for doubles, verbatim semantics:
    * HALF_UP decimal rounding via BigDecimal. */
  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Static so generated code can call it: one tight primitive loop per
    * row. `xs` is the first `m·subDim` input dims as doubles; returns
    * the reconstruction. */
  def reconstruct(xs: Array[Double], book: Array[Double],
                  m: Int, nCodes: Int, subDim: Int): Array[Double] = {
    val out = new Array[Double](m * subDim)
    val ds = new Array[Double](nCodes)
    var s = 0
    while (s < m) {
      val base = s * subDim
      var minRaw = Double.PositiveInfinity
      var c = 0
      while (c < nCodes) {
        val cb = (s * nCodes + c) * subDim
        var sum = 0.0
        var d = 0
        while (d < subDim) {
          val diff = xs(base + d) - book(cb + d)
          sum += diff * diff
          d += 1
        }
        ds(c) = sum
        if (sum < minRaw) minRaw = sum
        c += 1
      }
      // lowest code id whose ROUNDED distance equals the minimum rounded
      // distance (= round(minRaw) by monotonicity); only raw distances
      // within 2e-6 of the minimum can round equal, so BigDecimal runs
      // on near-ties only
      var best = -1
      var rMin = Double.NaN
      c = 0
      while (best < 0 && c < nCodes) {
        if (ds(c) == minRaw) best = c
        else if (ds(c) - minRaw < 2e-6) {
          if (java.lang.Double.isNaN(rMin)) rMin = round6(minRaw)
          if (round6(ds(c)) == rMin) best = c
        }
        c += 1
      }
      // all-NaN distances (a NaN vector element or codebook entry):
      // minRaw stays +Inf and no code matches — without a default,
      // subspace 0 would throw AIOOBE and later subspaces would silently
      // reconstruct from the PREVIOUS subspace's last code. Match the
      // HOF reference instead: array_sort places NaN last, so code 0 wins
      if (best < 0) best = 0
      val cb = (s * nCodes + best) * subDim
      var d = 0
      while (d < subDim) {
        out(base + d) = book(cb + d)
        d += 1
      }
      s += 1
    }
    out
  }
}
