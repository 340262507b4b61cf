package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SUM
import org.apache.spark.sql.types.{Decimal, DecimalType}

/** Optimizer rule: exact decimal sums on unscaled longs. Modelled on
  * Spark's `DecimalAggregates` (its window case included), which does this
  * only for a bare column of precision ≤ 8. The queries cast money to
  * `DECIMAL(18,2)` before summing (the oracle parity rule in
  * [[graft.Queries]]), and `dec * dec` widens to `DECIMAL(37,4)`, so
  * without this rule every such sum adds `BigDecimal`s.
  *
  * A non-distinct, unfiltered `SUM(term)` (not `try_sum`, whose overflow
  * is NULL) whose result precision exceeds
  * 18 becomes `MakeDecimal(SUM(long term), P, S)` with the sum's own
  * result type `DECIMAL(P, S)`, when `term` is built only from
  *  - decimal expressions of precision ≤ 18 — `CAST(_ AS DECIMAL(18,2))`,
  *    a literal, a column — taken as their unscaled values (the cast,
  *    with its rounding and its errors, still runs as written),
  *  - `+` and `-` of terms of equal scale, and `*` (the scales add),
  * and every node's decimal scale equals the scale of its long form (a
  * product Spark rounds to fewer digits is left alone), so the term's
  * scale is S. The long sum equals the decimal sum exactly.
  *
  * The long additions and products run in ANSI mode whatever the
  * session's setting, so an overflow raises `ARITHMETIC_OVERFLOW` and
  * never wraps. That is the new bound: every unscaled product, and the
  * unscaled sum of each group or frame, must satisfy |v| < 2^63
  * (≈ 9.2e16 at scale 2), where the decimal sum would have reached 10^P.
  * Beyond it the query fails loudly; it never returns a wrong number.
  */
object DecimalSums extends Rule[LogicalPlan] {

  private val Ansi = NumericEvalContext(EvalMode.ANSI)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(SUM)) {
      case q => q.transformExpressionsDownWithPruning(_.containsPattern(SUM)) {
        case we @ WindowExpression(ae: AggregateExpression, _) =>
          longSum(ae).fold(we: Expression) { case (sum, t) =>
            MakeDecimal(we.copy(windowFunction = sum), t.precision, t.scale,
              nullOnOverflow = false)
          }
        case ae: AggregateExpression =>
          longSum(ae).fold(ae: Expression) { case (sum, t) =>
            MakeDecimal(sum, t.precision, t.scale, nullOnOverflow = false)
          }
      }
    }

  /** `ae` as a sum over unscaled longs, with the decimal type it had. */
  private def longSum(ae: AggregateExpression)
  : Option[(AggregateExpression, DecimalType)] = ae match {
    case AggregateExpression(s @ Sum(term, ctx), _, false, None, _)
        if ctx.evalMode != EvalMode.TRY =>
      s.dataType match {
        case t: DecimalType if t.precision > Decimal.MAX_LONG_DIGITS =>
          unscaled(term).collect { case (long, t.scale) =>
            ae.copy(aggregateFunction = Sum(long, Ansi)) -> t
          }
        case _ => None
      }
    case _ => None
  }

  /** `e` as a long expression holding its unscaled value, and that
    * value's scale; `None` where `e` is not of the shapes above. */
  private def unscaled(e: Expression): Option[(Expression, Int)] =
    e.dataType match {
      case t: DecimalType =>
        val long = e match {
          case Add(l, r, _) => sameScale(l, r)(Add(_, _, Ansi))
          case Subtract(l, r, _) => sameScale(l, r)(Subtract(_, _, Ansi))
          case Multiply(l, r, _) =>
            for ((a, sa) <- unscaled(l); (b, sb) <- unscaled(r))
              yield Multiply(a, b, Ansi) -> (sa + sb)
          case _ => None
        }
        long.orElse(Option.when(t.precision <= Decimal.MAX_LONG_DIGITS)(
          UnscaledValue(e) -> t.scale)).filter(_._2 == t.scale)
      case _ => None
    }

  private def sameScale(l: Expression, r: Expression)(
      op: (Expression, Expression) => Expression): Option[(Expression, Int)] =
    for ((a, sa) <- unscaled(l); (b, sb) <- unscaled(r) if sa == sb)
      yield op(a, b) -> sa
}
