package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** `graft_ln_small(num, den)` — ⌊1000·ln(midpoint of num/den's
  * ratio class)⌉ milli-nats for small rationals num/den ∈ (0, 1]:
  * the dyadic exponent e (r ∈ [2⁻ᵉ, 2⁻ᵉ⁺¹)) by ascending exact
  * shifted compares, then a 4-class mantissa refinement at 5/4, 3/2,
  * 7/4 — the ln the perplexity/NB quality gates (q99/q100) score
  * with.
  *
  * This is the NATIVE form of a 41×4-branch CaseWhen fold (LnSmallSpec
  * keeps that fold as its reference): identical values (the spec pins
  * a dense grid), but the expression is two child evals + one static
  * call, so Catalyst plans/codegens it in microseconds where the
  * fold ladder costs ~0.1 s of planning + janino work per column per
  * query. The DuckDB oracles keep the generated CASE text
  * (`lnSmallWeightSql`) — both are generated from [[LnSmallKernel]]'s
  * one constant table, so the three forms cannot drift. */
object LnSmallKernel {

  val MaxE = 40
  private val mids: Array[Double] =
    Array(math.sqrt(5.0 / 4), math.sqrt(15.0 / 8), math.sqrt(21.0 / 8),
      math.sqrt(7.0 / 2))

  /** ⌊1000·ln(mid_c) − 1000·e·ln2⌉ for e ∈ [0, MaxE], c ∈ [0, 3]. */
  val table: Array[Array[Long]] = Array.tabulate(MaxE + 1, 4)((e, c) =>
    Math.round(1000.0 * (math.log(mids(c)) - e * math.log(2.0))))

  /** Clamp below 2⁻⁴⁰: the [2⁻⁴¹, 2⁻⁴⁰) midpoint. */
  val Bottom: Long = Math.round(1000.0 * (0.5 - (MaxE + 1)) * math.log(2.0))

  /** `num`/`den` must be ≥ 1 with num ≤ den; products stay < 8·den,
    * so exact for den up to 2⁶⁰. */
  def mnat(num: Long, den: Long): Long = {
    var e = 0
    while (e <= MaxE) {
      if (num * (1L << e) >= den) {
        val t = table(e)
        return if (num * (4L << e) < den * 5L) t(0)
        else if (num * (2L << e) < den * 3L) t(1)
        else if (num * (4L << e) < den * 7L) t(2)
        else t(3)
      }
      e += 1
    }
    Bottom
  }
}

case class LnSmall(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType || right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_ln_small requires (bigint, bigint), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_ln_small"

  override protected def nullSafeEval(num: Any, den: Any): Any =
    LnSmallKernel.mnat(num.asInstanceOf[Long], den.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (n, d) => s"graft.functions.LnSmallKernel.mnat($n, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LnSmall =
    copy(left = newLeft, right = newRight)
}
