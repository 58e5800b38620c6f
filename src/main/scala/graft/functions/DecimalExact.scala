package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType}

/**
 * EXACT decimal products for the factorized-aggregate pass (r16 — lifting
 * the `scale <= 6` decline):
 *
 * Spark's native decimal `*` routes through
 * `DecimalPrecision.adjustPrecisionScale`, which caps intermediate
 * precision at 38 by SHRINKING the scale — but never below
 * MINIMUM_ADJUSTED_SCALE = 6. That is exactly why the semiring message
 * passing (per-row weights × per-key child weights, see
 * [[graft.cqc.Yannakakis.aggOverJoin]]) was safe only for scale ≤ 6: a
 * wider scale could be silently ROUNDED mid-semiring, a divergence stock
 * evaluation would not have.
 *
 * These expressions instead compute the product exactly in unbounded
 * arithmetic and type the result DECIMAL(38, s₁+s₂) — the scale can
 * never shrink, and a value whose MAGNITUDE outgrows 38 digits yields
 * NULL, the same bounded-magnitude class as a stock decimal SUM's capped
 * accumulator. Codegen'd (one static helper call per row), so the
 * message-pass projections stay inside whole-stage codegen.
 */
object DecimalExact {

  /** Exact product fitted to DECIMAL(38, scale); null on overflow.
    * (Also the codegen entry point — object methods compile to static
    * forwarders.) */
  def timesExact(a: Decimal, b: Decimal, scale: Int): Decimal =
    fit(a.toJavaBigDecimal.multiply(b.toJavaBigDecimal), scale)

  private def fit(bd: java.math.BigDecimal, scale: Int): Decimal = {
    // bd's scale is already the target (the exact product of the child
    // scales), so changePrecision never rounds — it only overflow-checks
    val d = Decimal(BigDecimal(bd))
    if (d.changePrecision(DecimalType.MAX_PRECISION, scale)) d else null
  }

  /** Integral counts/multiplicities enter the semiring as DECIMAL(20,0):
    * every long fits, and scale 0 keeps the product scale unchanged. */
  def count(c: Column): Column = c.cast(DecimalType(20, 0))

  /** a × b (both DECIMAL-typed columns), typed DECIMAL(38, s_a + s_b). */
  def times(a: Column, b: Column): Column =
    GraftSqlBridge.column(DecimalTimesExact(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** value × count with the count coerced ([[count]]). */
  def timesCount(value: Column, c: Column): Column = times(value, count(c))
}

/** Exact decimal product: DECIMAL(38, s₁+s₂), null on magnitude overflow. */
case class DecimalTimesExact(left: Expression, right: Expression) extends BinaryExpression {
  private def scaleOf(e: Expression): Int = e.dataType match {
    case d: DecimalType => d.scale
    case other => throw new IllegalArgumentException(
      s"${prettyName} needs decimal inputs, got $other — cast counts to DECIMAL(20,0) at the call site")
  }
  private lazy val resultScale: Int = scaleOf(left) + scaleOf(right)
  override def prettyName: String = "graft_decimal_times_exact"
  override def dataType: DataType = {
    require(resultScale <= DecimalType.MAX_PRECISION,
      s"$prettyName result scale $resultScale exceeds ${DecimalType.MAX_PRECISION} — " +
        "the door gate must decline this shape")
    DecimalType(DecimalType.MAX_PRECISION, resultScale)
  }
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalExact.timesExact(a.asInstanceOf[Decimal], b.asInstanceOf[Decimal], resultScale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dexact")
      s"""
         |org.apache.spark.sql.types.Decimal $tmp =
         |  graft.functions.DecimalExact.timesExact($a, $b, $resultScale);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
