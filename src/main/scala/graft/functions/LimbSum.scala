// Hosted under org.apache.spark.sql for the same reason as VecDot:
// the private[sql] Column/type helpers of the public Spark jars.
package org.apache.spark.sql.graft

import java.math.{BigInteger, RoundingMode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, CheckOverflowInSum, Coalesce, EvalMode, Expression, If, ImplicitCastInputTypes, IsNull, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `sum(cast(v AS decimal(38,6)))` over a DOUBLE column, bit for bit,
  * with a fixed-width buffer and no per-row BigDecimal — the exact,
  * order-independent window SUM of the CEP plans (the reference folds
  * a `BigDecimal`, engine/window/Window.java:98-126).
  *
  * Per row, `u` is the unscaled value of the cast ([[Dec6Unscaled]]):
  * an integral |v| ≤ 2^53 is v × 10^6 in integer arithmetic; any other
  * value goes through Spark's own `Decimal` HALF_UP rounding, and a
  * value the cast cannot represent fails (ANSI) or is skipped, as the
  * cast does. `u` is added into three long limbs — `lo` and `mid` hold
  * 32 bits each, `hi` the signed rest — carrying on every update and
  * merge, so the buffer spans decimal(38,6)'s whole range with no bound
  * on rows per group. The limbs are evaluated once per group to
  * decimal(38,6) through the decimal sum's own overflow check: like
  * its 16-byte buffer, they hold up to ±2^127, so a running sum may
  * pass 10^38 and come back, and a final |sum| ≥ 10^38 fails (ANSI)
  * or is null, as the decimal sum's does. A sum past ±2^127 sets `hi`
  * to a sticky overflow mark and fails (or is null) the same way.
  *
  * A `DeclarativeAggregate` over three nullable longs (all null until
  * the first non-null value), so `HashAggregateExec` keeps it in its
  * codegen'd fixed-width map. The update is the merge of the buffer
  * with the row's own limbs; the row's `u` and limbs are common
  * subexpressions of the three limb updates, computed once per row. */
case class LimbSum(child: Expression, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LimbSumImpl.ResultType
  override def nullable: Boolean = true
  override def prettyName: String = "limb_sum"
  override def flatArguments: Iterator[Any] = Iterator(child)

  private lazy val lo = AttributeReference("lo", LongType)()
  private lazy val mid = AttributeReference("mid", LongType)()
  private lazy val hi = AttributeReference("hi", LongType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lo, mid, hi)
  override lazy val initialValues: Seq[Expression] = Seq.fill(3)(Literal(null, LongType))

  private def call(dt: DataType, name: String, args: Expression*): Expression =
    StaticInvoke(LimbSumImpl.getClass, dt, name, args,
      returnNullable = !dt.isInstanceOf[LongType])

  /** Limb k of a + b, as [[LimbSumImpl.limbAdd]]; null when either side
    * is empty, so `coalesce(a + b, a, b)` is the merge. */
  private def merged(a: Seq[Expression], b: Seq[Expression]): Seq[Expression] =
    (0 until 3).map(k => Coalesce(Seq(
      call(LongType, "limbAdd", Literal(k) +: (a ++ b): _*), a(k), b(k))))

  override lazy val updateExpressions: Seq[Expression] = {
    val u = Dec6Unscaled(child, ansi)
    merged(aggBufferAttributes,
      (0 until 3).map(k => call(LongType, "rowLimb", Literal(k), u, child)))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    merged(aggBufferAttributes.map(_.left), aggBufferAttributes.map(_.right))

  override lazy val evaluateExpression: Expression =
    If(IsNull(lo), Literal(null, dataType),
      CheckOverflowInSum(call(dataType, "limbsToDecimal", lo, mid, hi),
        LimbSumImpl.ResultType, !ansi, null))

  override protected def withNewChildInternal(newChild: Expression): LimbSum =
    copy(child = newChild)
}

/** The unscaled value of `cast(v AS decimal(38,6))` as a long
  * ([[LimbSumImpl.dec6Unscaled]]); null where the cast is null. */
case class Dec6Unscaled(child: Expression, ansi: Boolean) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val u = LimbSumImpl.dec6Unscaled(v.asInstanceOf[Double], ansi)
    if (u == LimbSumImpl.Skip) null else u
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = org.apache.spark.sql.graft.LimbSumImpl.dec6Unscaled($v, $ansi);
         |${ev.isNull} = ${ev.value} == ${LimbSumImpl.Skip}L;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Dec6Unscaled =
    copy(child = newChild)
}

/** Static cores of [[LimbSum]] (codegen calls them) and the one
  * 6-decimal rounding of the CEP engines: the stateful engine's
  * running `BigDecimal` sum adds [[dec6]] too. */
object LimbSumImpl {
  /** [[dec6Unscaled]]: `u` needs more than 62 bits; [[rowLimb]]
    * recomputes it from `v`. */
  val Big: Long = Long.MinValue
  /** [[dec6Unscaled]]: the cast is null (a non-ANSI failure). */
  val Skip: Long = Long.MaxValue
  /** The `hi` limb of a sum past ±2^127 (sticky). */
  val Overflow: Long = Long.MinValue
  /** decimal(38,6): the cast's type, and the sum's. */
  val ResultType: DecimalType = DecimalType(38, 6)

  private val Mask = 0xFFFFFFFFL
  private val Units = 1000000L
  private val TwoTo53 = 9007199254740992.0
  /** |n| below this keeps n × 10^6 within 62 bits. */
  private val FastUnitsLimit = (1L << 62) / Units
  private val Low64 = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)

  private def isFast(v: Double): Boolean = v == Math.rint(v) && Math.abs(v) <= TwoTo53

  /** `v` rounded HALF_UP to 6 decimal places, as `cast(v AS
    * decimal(38,6))` rounds it but with no range check: an integral
    * |v| ≤ 2^53 in integer arithmetic, anything else through Spark's
    * `Decimal(v)` (the shortest decimal that reads back as `v`, which is
    * the cast's input). NaN and infinities throw NumberFormatException. */
  def dec6(v: Double): java.math.BigDecimal =
    if (isFast(v)) {
      val n = v.toLong
      if (Math.abs(n) < FastUnitsLimit) java.math.BigDecimal.valueOf(n * Units, 6)
      else java.math.BigDecimal.valueOf(n).setScale(6)
    } else Decimal(v).toJavaBigDecimal.setScale(6, RoundingMode.HALF_UP)

  /** Unscaled value of `cast(v AS decimal(38,6))` when it fits 62 bits,
    * else [[Big]]. A value the cast cannot represent (NaN, infinities,
    * |v| ≥ 10^32) goes through the cast itself: under ANSI it throws the
    * cast's error, otherwise the result is [[Skip]]. */
  def dec6Unscaled(v: Double, ansi: Boolean): Long =
    if (isFast(v)) {
      val n = v.toLong
      if (Math.abs(n) < FastUnitsLimit) n * Units else Big
    } else {
      val d = try dec6(v) catch { case _: NumberFormatException => null }
      if (d == null || d.precision > ResultType.precision) castFailure(v, ansi)
      else {
        val bi = d.unscaledValue
        if (bi.bitLength < 63) bi.longValue else Big
      }
    }

  private def castFailure(v: Double, ansi: Boolean): Long = {
    val cast = Cast(Literal(v), ResultType, None,
      if (ansi) EvalMode.ANSI else EvalMode.LEGACY)
    if (cast.eval() == null) Skip
    else throw new IllegalStateException(
      s"cast($v AS ${ResultType.sql}) succeeded, yet dec6 found the value out of range")
  }

  /** Limb k (0 = lo, 1 = mid, 2 = hi) of one row's `u`. */
  def rowLimb(k: Int, u: Long, v: Double): Long =
    if (u != Big) limbOf(k, u, u >> 63)
    else {
      val bi = dec6(v).unscaledValue
      limbOf(k, bi.longValue, bi.shiftRight(64).longValue)
    }

  private def limbOf(k: Int, low64: Long, high64: Long): Long =
    if (k == 0) low64 & Mask else if (k == 1) low64 >>> 32 else high64

  /** Limb k of (lo1, mid1, hi1) + (lo2, mid2, hi2), carrying from the
    * low limbs up; `hi` is [[Overflow]] once either side is, or the sum
    * leaves the signed 128-bit range. */
  def limbAdd(k: Int, lo1: Long, mid1: Long, hi1: Long,
      lo2: Long, mid2: Long, hi2: Long): Long = {
    val s0 = lo1 + lo2
    val s1 = mid1 + mid2 + (s0 >>> 32)
    if (k == 0) s0 & Mask
    else if (k == 1) s1 & Mask
    else if (hi1 == Overflow || hi2 == Overflow) Overflow
    else try Math.addExact(Math.addExact(hi1, hi2), s1 >>> 32)
    catch { case _: ArithmeticException => Overflow }
  }

  /** The limbs' value at scale 6, null once overflowed; its precision
    * may pass 38 (`CheckOverflowInSum` judges it). */
  def limbsToDecimal(lo: Long, mid: Long, hi: Long): Decimal =
    if (hi == Overflow) null
    else {
      val low64 = (mid << 32) | lo
      if (hi == (low64 >> 63)) Decimal(low64, 38, 6)
      else Decimal(new java.math.BigDecimal(
        BigInteger.valueOf(hi).shiftLeft(64).add(BigInteger.valueOf(low64).and(Low64)), 6))
    }
}

object LimbSumColumns {
  def limbSum(v: Column): Column =
    ExpressionUtils.column(LimbSum(ExpressionUtils.expression(v)).toAggregateExpression())
}
