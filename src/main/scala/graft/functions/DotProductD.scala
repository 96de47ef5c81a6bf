package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused dot product over two double arrays as a native Catalyst
  * expression with whole-stage codegen, registered as `graft_dot` by
  * `graft.plans.GraftExtensions` (required in every session that runs
  * catalog queries).
  *
  * The composable form — `aggregate(zip_with(a, b, (x,y) -> x*y), 0d,
  * (acc,x) -> acc+x)` — materializes an intermediate array and runs two
  * higher-order loops with per-element lambda dispatch; in the ANN hot
  * path (|Q|·|C| pairs · dim multiplies, q28/q29/q39) that's the whole
  * cost. This expression emits one tight branch-free loop into the
  * generated code, stays inside WholeStageCodegen, and allocates
  * nothing.
  *
  * Semantics are EXACTLY those of the HOF form (DotProductDSpec keeps
  * it as the reference): null input → null;
  * mismatched lengths → null (zip_with pads with null, null
  * propagates through the fold); any null element → null; otherwise a
  * left-to-right fold in index order, so even the floating-point
  * rounding matches bit-for-bit.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires (array<double>, array<double>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}
