package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** `sum(cast(child AS DECIMAL(25,scale)))` — its DECIMAL(35,scale) value
  * and type, nulls and errors — without a BigDecimal per row in a
  * grouped sum (a window sum recombines, in decimal, per output row).
  *
  * Each row becomes U, its count of 10^-scale units ([[ExactSum.kernel]]).
  * The 21-bit limbs of `hi = floor(U / 2^42)` and `lo = U mod 2^42` are
  * summed as plain longs (partial-aggregated, exact under any
  * partitioning) and recombined once per group in DECIMAL(38,0).
  * |U| < 10^25 < 2^84, so every limb is below 2^21 and no limb sum
  * overflows below 2^42 rows per group. A total of 10^35 units overflows
  * the result as `sum` does, but raises the cast's
  * NUMERIC_VALUE_OUT_OF_RANGE under ANSI. `scale` ≤ 6 keeps the
  * recombination exact (Spark keeps 6 decimals of a capped product).
  * A declarative aggregate, so the plan holds `child` once and the limb
  * arithmetic is built only for codegen. */
case class ExactSum(child: Expression, scale: Int) extends DeclarativeAggregate
    with UnaryLike[Expression] {
  require(0 <= scale && scale <= 6, s"exact sums keep 0..6 decimals, not $scale")

  override def dataType: DataType = DecimalType(35, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum"

  private lazy val sums = Seq.tabulate(4)(i => AttributeReference(s"limb_sum$i", LongType)())
  override lazy val aggBufferAttributes: Seq[AttributeReference] = sums
  override lazy val initialValues: Seq[Expression] = sums.map(_ => Literal(null, LongType))
  override lazy val updateExpressions: Seq[Expression] =
    sums.zip(ExactSum.limbs(child, scale)).map { case (acc, limb) => ExactSum.add(acc, limb) }
  override lazy val mergeExpressions: Seq[Expression] =
    sums.map(acc => ExactSum.add(acc.left, acc.right))
  override lazy val evaluateExpression: Expression = {
    val total = sums.zip(Seq(63, 42, 21, 0)).map { case (acc, bits) =>
      Multiply(Cast(acc, DecimalType(38, 0)), Literal(BigDecimal(2).pow(bits))): Expression
    }.reduce(Add(_, _))
    Cast(Multiply(total, Literal(BigDecimal(1, scale))), dataType)
  }

  override protected def withNewChildInternal(newChild: Expression): ExactSum =
    copy(child = newChild)
}

object ExactSum {
  /** `sum`'s null rule: a null row leaves the total, the first row starts it. */
  private def add(acc: Expression, x: Expression): Expression =
    If(IsNull(x), acc, Add(Coalesce(Seq(acc, Literal(0L))), x))

  /** `(fast, u, d)`: `d` is Spark's own unit count, the integral
    * `CAST(e AS DECIMAL(25,scale)) * 10^scale`, a BigDecimal per row; the
    * long `u` equals it wherever `fast` holds. With x = e·10^scale in
    * double, `fast` is |x| < 2^43 and x more than 2^-6 from a half-integer,
    * and `u = floor(x + 0.5)`. Proof: the cast rounds HALF_UP a decimal D
    * with |D − e| ≤ ½ulp(e) (the shortest decimal that reads back as e, or
    * e itself for integral and decimal inputs). Below 2^43 an ulp of x is
    * at most 2^-10 and ulp(e)·10^scale ≤ 2^-52·|x| ≤ 2^-9, so
    * |x − D·10^scale| < 2^-8: both round to the same integer, and x + 0.5,
    * rounded by at most 2^-11, cannot cross one. Ties, NaN, ±Inf, nulls and
    * large values miss `fast` and take `d`, exact for every long input. */
  private def kernel(e: Expression, scale: Int): (Expression, Expression, Expression) = {
    val x = Multiply(Cast(e, DoubleType), Literal(math.pow(10, scale)))
    val frac = Subtract(Subtract(x, Cast(Floor(x), DoubleType)), Literal(0.5))
    (And(LessThan(Abs(x), Literal(math.pow(2, 43))), GreaterThan(Abs(frac), Literal(1.0 / 64))),
      Floor(Add(x, Literal(0.5))),
      Cast(Multiply(Cast(e, DecimalType(25, scale)), Literal(BigDecimal(10).pow(scale))),
        DecimalType(25, 0)))
  }

  /** Row `e` as a LONG count of 10^-scale units: the value, nulls and
    * errors of `CAST(CAST(e AS DECIMAL(25,scale)) * 10^scale AS BIGINT)`. */
  def units(e: Expression, scale: Int): Expression = {
    val (fast, u, d) = kernel(e, scale)
    If(fast, u, Cast(d, LongType))
  }

  private def limbs(e: Expression, scale: Int): Seq[Expression] = {
    val (fast, u, d) = kernel(e, scale)
    val two42 = Literal(BigDecimal(2).pow(42))
    val dLo = Pmod(d, two42)
    val hi = If(fast, ShiftRight(u, Literal(42)), Cast(Divide(Subtract(d, dLo), two42), LongType))
    val lo = If(fast, BitwiseAnd(u, Literal((1L << 42) - 1)), Cast(dLo, LongType))
    val mask = Literal((1L << 21) - 1)
    Seq(ShiftRight(hi, Literal(21)), BitwiseAnd(hi, mask), ShiftRight(lo, Literal(21)),
      BitwiseAnd(lo, mask))
  }
}
