package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd dot product over two numeric array columns.
  *
  * Semantics: left-to-right fold of element products in double — EXACTLY
  * the values of `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)),
  * 0D, (acc,v) -> acc+v)` (and of DuckDB's `list_sum(list_transform(...))`
  * oracle), but compiled into a tight loop by whole-stage codegen instead
  * of interpreted higher-order-function evaluation. float→double widening
  * is exact, so the result is bit-identical to the HOF formulation.
  *
  * Length mismatch takes the common prefix; null elements are treated as
  * 0 (the embedding corpus has none — documented divergence from the HOF
  * null-propagation). As in the HOF, a NaN element makes the result NaN
  * and empty input gives 0.0; a null array gives null.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(ByteType | ShortType | IntegerType |
                     FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<byte|short|int|float|double>, got " +
          s"${left.dataType} / ${right.dataType}")
  }

  /** Per-element accessor for the side's element type — every input
    * widens to double. Integer elements are EXACT in double while
    * |value| < 2^26 (products < 2^52 < 2^53) — the int8-quantized
    * vectors ([[graft.ops.Similarity.quantizeInt8]]) are bounded ±127
    * by construction, far inside that. */
  private def getter(e: Expression): String =
    e.dataType.asInstanceOf[ArrayType].elementType match {
      case ByteType    => "getByte"
      case ShortType   => "getShort"
      case IntegerType => "getInt"
      case FloatType   => "getFloat"
      case DoubleType  => "getDouble"
      case t => throw new IllegalStateException(s"unreachable: $t")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a  = l.asInstanceOf[ArrayData]
    val b  = r.asInstanceOf[ArrayData]
    val n  = math.min(a.numElements(), b.numElements())
    def elem(d: ArrayData, get: String, i: Int): Double = get match {
      case "getByte"   => d.getByte(i).toDouble
      case "getShort"  => d.getShort(i).toDouble
      case "getInt"    => d.getInt(i).toDouble
      case "getFloat"  => d.getFloat(i).toDouble
      case _           => d.getDouble(i)
    }
    val lg = getter(left)
    val rg = getter(right)
    var s  = 0.0
    var i  = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else elem(a, lg, i)
      val y = if (b.isNullAt(i)) 0.0 else elem(b, rg, i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = getter(left)
    val rGet = getter(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double x = $a.isNullAt($i) ? 0.0 : (double) $a.$lGet($i);
         |  double y = $b.isNullAt($i) ? 0.0 : (double) $b.$rGet($i);
         |  $s += x * y;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}
