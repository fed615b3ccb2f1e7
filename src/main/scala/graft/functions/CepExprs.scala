// Hosted under org.apache.spark.sql for the same reason as VecDot:
// the private[sql] Column/type helpers of the public Spark jars.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, QuinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Window starts covering an event on the grid with origin `anchor` —
  * the arithmetic twin of the reference's window assigners, as ONE
  * native call: tumbling → the single width-aligned start; sliding →
  * every slide-aligned start whose half-open window covers the event
  * (ceil(w/s) candidates, the non-covering ones dropped — exact
  * non-divisible semantics); anything else (global) → a single null
  * start (the unbounded bucket marker). Anchor 0 is the epoch grid;
  * any other anchor is that grid translated (alignment is a pure
  * translation, a WindowLaws property).
  *
  * The one window-assignment arithmetic of the engine: both batch
  * plans call it through this expression, and the stateful engine's
  * per-event fold calls its static core [[CepExprImpl.starts]].
  * Replaces a CASE over sequence/transform/filter higher-order
  * functions that Catalyst evaluated interpreted per fanned-out
  * (metric, rule) row. */
case class WindowStartsExpr(children: Seq[Expression])
    extends QuinaryExpression with ExpectsInputTypes {

  require(children.size == 5, "window_starts(type, ev_ms, w, s, anchor)")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, LongType, LongType, LongType, LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "window_starts"

  override def nullSafeEval(wt: Any, ev: Any, w: Any, s: Any, anchor: Any): Any =
    CepExprImpl.windowStarts(wt.asInstanceOf[UTF8String], ev.asInstanceOf[Long],
      w.asInstanceOf[Long], s.asInstanceOf[Long], anchor.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (wt, evMs, w, s, anchor) =>
      s"org.apache.spark.sql.graft.CepExprImpl.windowStarts($wt, $evMs, $w, $s, $anchor)")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WindowStartsExpr =
    copy(children = newChildren)
}

object CepExprImpl {
  private val Tumbling = UTF8String.fromString(_root_.graft.model.WindowType.Tumbling.name)
  private val Sliding = UTF8String.fromString(_root_.graft.model.WindowType.Sliding.name)

  private val NoStarts = Array.emptyLongArray

  /** The window-start arithmetic ([[WindowStartsExpr]]): starts covering
    * `ev` on the grid with origin `anchor`, latest first; null for a
    * global (unbounded) window. A non-positive w (or s, sliding) yields
    * NO covering windows rather than an ArithmeticException: a rule
    * frame built directly, or published through `RuleBook` and
    * `DynamicRules.persist`, skips `Parsers.parseRules`' positivity
    * filter, and such a rule must not fail the plan or the streaming
    * query that serves every other rule. */
  def starts(wt: UTF8String, ev: Long, w: Long, s: Long, anchor: Long): Array[Long] =
    if (wt.equals(Tumbling)) {
      if (w <= 0) NoStarts
      else Array(anchor + Math.floorDiv(ev - anchor, w) * w)
    } else if (wt.equals(Sliding)) {
      if (w <= 0 || s <= 0) NoStarts
      else {
        val n = ((w + s - 1) / s).toInt // ceil(w/s) candidate starts
        val out = new Array[Long](n)
        var k = 0
        var st = anchor + Math.floorDiv(ev - anchor, s) * s
        while (k < n && st > ev - w) { out(k) = st; st -= s; k += 1 }
        java.util.Arrays.copyOf(out, k)
      }
    } else null

  /** [[starts]] as the expression's array; global → one null start.
    * Static for codegen. */
  def windowStarts(wt: UTF8String, ev: Long, w: Long, s: Long,
      anchor: Long): GenericArrayData = {
    val a = starts(wt, ev, w, s, anchor)
    if (a == null) new GenericArrayData(Array[Any](null))
    else new GenericArrayData(a)
  }
}

object CepExprColumns {
  def windowStarts(windowType: Column, evMs: Column, wMs: Column, sMs: Column,
      anchor: Column): Column =
    ExpressionUtils.column(WindowStartsExpr(
      Seq(windowType, evMs, wMs, sMs, anchor).map(ExpressionUtils.expression)))
}
