// Hosted under org.apache.spark.sql for the same reason as VecDot:
// the private[sql] Column/type helpers of the public Spark jars.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, QuinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `true` iff every element of `needles` occurs in `haystack` (both
  * ARRAY<STRING>, no null elements) — the reference's rule-match
  * predicate "all grouping keys present in the event's tags"
  * (Rule.java:63-66).
  *
  * The declarative spelling `forall(needles, k →
  * array_contains(haystack, k))` is a higher-order function: Catalyst
  * evaluates the lambda interpreted (CodegenFallback) for every
  * (metric, rule) pair of the broadcast fan-out join — the predicate,
  * not the data, dominated the one-pass CEP plan. This compiles to two
  * nested primitive loops inside the generated predicate. */
case class ArrayContainsAll(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "array_contains_all"

  override protected def nullSafeEval(h: Any, n: Any): Any =
    CepExprImpl.containsAll(h.asInstanceOf[ArrayData], n.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, n) =>
      s"org.apache.spark.sql.graft.CepExprImpl.containsAll($h, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayContainsAll =
    copy(left = newLeft, right = newRight)
}

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

/** The map's values for each key in `keys`, in key order (null where
  * absent) — `transform(keys, k → element_at(map, k))` as one native
  * call (the lambda spelling is interpreted per fanned-out row). Used
  * for the reference's groupId tag-value extraction. */
case class MapValuesForKeys(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(MapType(StringType, StringType), ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "map_values_for_keys"

  override protected def nullSafeEval(m: Any, k: Any): Any =
    CepExprImpl.valuesForKeys(m.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData],
      k.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, k) =>
      s"org.apache.spark.sql.graft.CepExprImpl.valuesForKeys($m, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MapValuesForKeys =
    copy(left = newLeft, right = newRight)
}

object CepExprImpl {
  /** See [[MapValuesForKeys]]. Static for codegen. */
  def valuesForKeys(m: org.apache.spark.sql.catalyst.util.MapData,
      keys: ArrayData): GenericArrayData = {
    val mk = m.keyArray()
    val mv = m.valueArray()
    val nm = m.numElements()
    val n = keys.numElements()
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      val key = keys.getUTF8String(i)
      var j = 0
      var v: AnyRef = null
      while (v == null && j < nm) {
        if (mk.getUTF8String(j).equals(key)) v = mv.getUTF8String(j)
        j += 1
      }
      out(i) = v
      i += 1
    }
    new GenericArrayData(out)
  }

  private val Tumbling = UTF8String.fromString(_root_.graft.model.WindowType.Tumbling.name)
  private val Sliding = UTF8String.fromString(_root_.graft.model.WindowType.Sliding.name)

  /** See [[ArrayContainsAll]]. Static for codegen. */
  def containsAll(haystack: ArrayData, needles: ArrayData): Boolean = {
    val n = needles.numElements()
    val h = haystack.numElements()
    var i = 0
    while (i < n) {
      val needle = needles.getUTF8String(i)
      var found = false
      var j = 0
      while (!found && j < h) {
        if (haystack.getUTF8String(j).equals(needle)) found = true
        j += 1
      }
      if (!found) return false
      i += 1
    }
    true
  }

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
  def arrayContainsAll(haystack: Column, needles: Column): Column =
    ExpressionUtils.column(ArrayContainsAll(
      ExpressionUtils.expression(haystack), ExpressionUtils.expression(needles)))

  def windowStarts(windowType: Column, evMs: Column, wMs: Column, sMs: Column,
      anchor: Column): Column =
    ExpressionUtils.column(WindowStartsExpr(
      Seq(windowType, evMs, wMs, sMs, anchor).map(ExpressionUtils.expression)))

  def mapValuesForKeys(m: Column, keys: Column): Column =
    ExpressionUtils.column(MapValuesForKeys(
      ExpressionUtils.expression(m), ExpressionUtils.expression(keys)))
}
