package graft.cep

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cep.Metrics.RuleRow
import graft.model._
import graft.streaming.DynamicRules

/** Compiles [[graft.model.Rule]]s into Spark logical plans.
  *
  * This is the heart of the rebuild: where the reference hand-rolls a
  * per-event interpreter (reference: engine/CEPEngine.java:36-64 and
  * the engine/window classes), we emit a declarative DataFrame plan and let
  * Catalyst/Tungsten pick the physical strategy. The same plan works on
  * a batch frame (oracle-testable) and a streaming frame (Structured
  * Streaming batch/stream parity).
  *
  * Expected metrics schema (see [[Metrics.eventsAsMetrics]]):
  * {{{ eventTime TIMESTAMP, tags MAP<STRING,STRING>, metrics MAP<STRING,DOUBLE> }}}
  *
  * Two compilation modes, each taking an [[Alignment]] (epoch grids
  * by default, the reference's first-event grids on request):
  *
  *  - [[planRule]]: one rule → one static plan. Epoch-aligned it uses
  *    the built-in `window()`/`groupBy` (whole-stage codegen, static
  *    window expansion); use when rules are few and known.
  *  - [[planAll]]: N rules → ONE pass over the metric stream. The rule
  *    book rides in every task (reference: CEPTaskRunner.java:41,
  *    PartitionEngine.java:26-51), where the streaming engine's own
  *    [[graft.streaming.DynamicRules.Matcher]] performs the
  *    reference's 1→N fan-out and stamps each event's `group_id`;
  *    windows are computed arithmetically (width is per-rule *data*,
  *    so the built-in `window()` cannot be used), and agg/comparator
  *    dispatch is a `CASE` expression. At 100 TB this is the plan you
  *    want: one scan + one aggregation shuffle for the whole rule set,
  *    instead of N scans.
  *
  * Arithmetic windows (planAll, and planRule under first-event
  * alignment) come from one native function, `window_starts`, whose
  * anchor argument is the alignment: 0 for the epoch grid, the
  * (rule, group)'s earliest event for the reference's grids. The
  * stateful engine ([[graft.streaming.StatefulCep]]) calls the same
  * function per event, and its closed windows become results through
  * planAll's own [[judgeWindows]].
  *
  * Scale posture: the only shuffle at scale is the final hash aggregation on
  * (ruleId, groupId, windowStart) — exactly the reference's
  * `keyBy(groupId)` (CEPTaskRunner.java:46) — and Spark performs
  * partial (map-side) aggregation before it. Rules are never
  * shuffled: the fan-out's tasks carry the compiled book in their
  * closure, and after the aggregate each window's rule parameters
  * (constant per rule id) join back from a broadcast on `rule_id`
  * instead of riding in the aggregation key. The one
  * driver read is planAll's collect of the rule book (KBs of control
  * data); no per-group driver state or threads. Streams shuffle only
  * there too; a NARROW batch input (fewer splits than cores) is spread
  * across the cores first (see [[planAll]]).
  */
object CepQuery {

  /** Decimal type of exact, order-independent sums. Summing doubles is
    * order-dependent across partitions; summing decimals is exact, so
    * results are deterministic under any parallelism — required both
    * for the DuckDB oracle hash-match and for run-to-run stability on a
    * real cluster. The CEP plans' SUM is `sum(cast(v AS SumDecimal))`
    * computed by [[graft.functions.limb_sum]]; other queries spell the
    * cast. */
  val SumDecimal = "decimal(38,6)"

  /** `metrics['field']` as a double column. */
  def measure(field: String): Column = element_at(col("metrics"), field)

  /** A window's partial aggregates — SUM (exactly
    * `sum(cast(v AS decimal(38,6)))` through the fixed-width
    * [[graft.functions.limb_sum]], returned as DOUBLE), COUNT, MIN and
    * MAX. Every [[AggType]]'s result is a function of them. */
  private final case class Partials(sumV: Column, cnt: Column,
      minV: Column, maxV: Column) {
    def result(agg: AggType): Column = agg match {
      case AggType.Sum => sumV
      case AggType.Avg => sumV / cnt
      case AggType.Min => minV
      case AggType.Max => maxV
    }
  }

  private def partials(v: Column): Partials =
    Partials(graft.functions.limb_sum(v).cast("double"), count(v), min(v), max(v))

  /** The aggregate column for a given agg type over value column `v`
    * (result is DOUBLE). */
  def aggColumn(agg: AggType, v: Column): Column = partials(v).result(agg)

  /** HAVING comparison (reference: Rule.java:39-56). */
  def cmpColumn(op: CmpOp, result: Column, limit: Column): Column = op match {
    case CmpOp.Eq => result === limit
    case CmpOp.Ne => result =!= limit
    case CmpOp.Gt => result > limit
    case CmpOp.Lt => result < limit
    case CmpOp.Ge => result >= limit
    case CmpOp.Le => result <= limit
  }

  /** CASE over every value of an enum: rows whose `key` equals
    * `label(e)` get `f(e)`; any other key gets `f(fallback)`. */
  private def dispatch[E](all: Seq[E], key: Column, label: E => String,
      fallback: E)(f: E => Column): Column = {
    val cases = all.filterNot(_ == fallback)
    cases.tail.foldLeft(when(key === label(cases.head), f(cases.head))) {
      (c, e) => c.when(key === label(e), f(e))
    }.otherwise(f(fallback))
  }

  /** One rule → one static DataFrame plan (SURVEY §2.2 template).
    *
    * Output: one column per grouping key (named after the key), plus
    * `result` (DOUBLE), plus `window_start`/`window_end` (absent for
    * global windows). `align` picks the window grid (see
    * [[Alignment]]); global windows ignore it. Epoch grids use Spark's
    * built-in `window()`; first-event grids assign windows
    * arithmetically, like [[planAll]] (a per-group `min(eventTime)`
    * window function whose partitioning the aggregation reuses, so the
    * plan still shuffles once).
    */
  def planRule(metricFrame: DataFrame, rule: Rule,
      align: Alignment = Alignment.Epoch): DataFrame = {
    // A non-ACTIVE rule matches nothing (Rule.java:63-66); resolve that
    // statically rather than emitting a constant predicate.
    val stateOk = rule.ruleState == RuleState.Active
    val matched = metricFrame.filter(
      lit(stateOk) &&
        forall(array(rule.groupingKeyNames.map(lit): _*),
          k => map_contains_key(col("tags"), k)))
    val keyCols = rule.groupingKeyNames.map(k => element_at(col("tags"), k).as(k))
    val v = measure(rule.aggregateFieldName)
    val agg = aggColumn(rule.aggregatorFunctionType, v).as("result")
    val width = s"${rule.windowMinutes} minutes"

    def builtin(window: Column): DataFrame =
      matched.groupBy(keyCols :+ window: _*).agg(agg)
        .withColumn("window_start", col("window.start"))
        .withColumn("window_end", col("window.end"))
        .drop("window")

    val grouped = (rule.windowType, align) match {
      case (WindowType.Global, _) =>
        matched.groupBy(keyCols: _*).agg(agg)
      case (WindowType.Tumbling, Alignment.Epoch) =>
        builtin(window(col("eventTime"), width))
      case (_, Alignment.Epoch) =>
        builtin(window(col("eventTime"), width,
          s"${rule.windowSlideMinute} minutes"))
      case (_, Alignment.FirstEvent) =>
        val keys = rule.groupingKeyNames.map(col)
        val prepared = matched
          .select(keyCols ++ Seq(
            lit(rule.windowType.name).as("window_type"),
            unix_millis(col("eventTime")).as("ev_ms"),
            lit(rule.windowMillis).as("w_ms"),
            lit(rule.slideMillis).as("s_ms"),
            v.as("v")): _*)
          .filter(col("v").isNotNull)
        assignWindows(prepared, align, keys)
          .groupBy(keys :+ col("ws_ms"): _*)
          .agg(aggColumn(rule.aggregatorFunctionType, col("v")).as("result"))
          .withColumn("window_start", timestamp_millis(col("ws_ms")))
          .withColumn("window_end", timestamp_millis(col("ws_ms") + rule.windowMillis))
          .drop("ws_ms")
    }
    grouped.filter(cmpColumn(rule.limitOperatorType, col("result"),
      lit(rule.limit.underlying)))
  }

  /** N rules → ONE pass: the rule matcher's fan-out + arithmetic
    * windows on the `align`ed grid + CASE-dispatched agg and
    * comparator.
    *
    * `ruleFrame` must have [[Metrics.RuleRow]]'s columns (see
    * [[Metrics.rulesToDF]]). Output:
    * {{{ rule_id INT, group_id STRING, window_start TIMESTAMP,
    *     window_end TIMESTAMP, result DOUBLE }}}
    * Global windows emit NULL window bounds.
    *
    * The fan-out is [[graft.streaming.DynamicRules.Matcher]] over the
    * collected ACTIVE book: the matcher that
    * [[graft.streaming.DynamicRules.fanOut]] runs over a published
    * snapshot, so both engines match the same rules and key the same
    * groups. `group_id` is the reference's `ruleId_tagVal1_tagVal2…`
    * (PartitionEngine.java:72-81) and the aggregation keys on it, so
    * tag tuples that join to one id (`("a_b","c")` and `("a","b_c")`)
    * are one group, as in the reference.
    * Under [[Alignment.FirstEvent]] each (rule, group) derives its grid
    * origin from its earliest event; the window function computing it
    * hash-partitions on (rule, group), which the final aggregation
    * reuses, so the plan still has exactly one aggregation shuffle.
    * That spelling is batch-only (streams forbid plain window
    * functions): on streams, first-event alignment is
    * [[graft.streaming.StatefulCep.run]]'s argument.
    *
    * A narrow batch `metricFrame` (only narrow nodes, fewer splits than
    * `defaultParallelism`: a one-file JSON input is one split) is
    * hash-spread on `eventTime`, the one scalar every metric row has,
    * before the fan-out ([[graft.ops.Spread.ifNarrow]]). Otherwise the
    * 1→N fan-out, the window explode and the partial aggregation all
    * run in that one task. A wide input and a stream get no spread.
    * The spread changes no result: SUM/AVG add exact decimals
    * and MIN/MAX ignore order (PlanShapeSpec's repartition-invariance
    * spec).
    *
    * The ACTIVE rules' ids must be unique: a window's rule parameters
    * join back on `rule_id` after the aggregate. A book that repeats
    * one fails here, while the plan is built, naming the repeated ids.
    */
  def planAll(metricFrame: DataFrame, ruleFrame: DataFrame,
      align: Alignment = Alignment.Epoch): DataFrame = {
    val book = activeBook(ruleFrame)
    val repeated = book.groupBy(_.rule_id).collect { case (id, rs) if rs.size > 1 => id }
    require(repeated.isEmpty,
      s"planAll: ACTIVE rule ids must be unique; repeated: ${repeated.toSeq.sorted.mkString(", ")}")
    val matcher = new DynamicRules.Matcher(book)
    val fanned = DynamicRules.matched(
      graft.ops.Spread.ifNarrow(metricFrame, col("eventTime")))(() => matcher)
    aggregateAndEmit(assignWindows(fanned, align, Seq(col("rule_id"), col("group_id"))), book)
  }

  /** Window assignment, arithmetically (width/slide are per-row data):
    * one native call per row computes the starts covering `ev_ms`
    * (ceil(w/s) candidates for sliding with non-covering starts dropped
    * — exact non-divisible semantics; single aligned start for
    * tumbling; a null start for global's unbounded bucket), and each
    * row explodes into one row per start (`ws_ms`). Needs the columns
    * `window_type`, `ev_ms`, `w_ms`, `s_ms`. The grid's anchor is the
    * literal 0 under [[Alignment.Epoch]]; under
    * [[Alignment.FirstEvent]] it is derived from the earliest `ev_ms`
    * of each `group` (tumbling at t0, sliding at t0 − w; global rows
    * get a null anchor, which nulls the array, and explode_outer emits
    * exactly the one null-window row global needs). */
  private def assignWindows(prepared: DataFrame, align: Alignment,
      group: Seq[Column]): DataFrame = {
    val (anchored, anchor) = align match {
      case Alignment.Epoch => (prepared, lit(0L))
      case Alignment.FirstEvent =>
        val t0 = min(col("ev_ms")).over(Window.partitionBy(group: _*))
        (prepared.withColumn("_anchor",
          when(col("window_type") === WindowType.Sliding.name, t0 - col("w_ms"))
            .when(col("window_type") === WindowType.Tumbling.name, t0)),
          col("_anchor"))
    }
    anchored.withColumn("ws_ms", explode_outer(
        graft.functions.window_starts(col("window_type"), col("ev_ms"),
          col("w_ms"), col("s_ms"), anchor)))
      // explode_outer, deliberately: plain explode makes the optimizer
      // infer a `size(ws_ms) > 0` filter over the whole window-array
      // expression, evaluating it twice per (metric, rule) row. The
      // filter below keeps the null row only for global rules: a
      // tumbling or sliding rule that covers the event with no window
      // (w < s sliding, a non-positive width or slide) must contribute
      // to no window.
      .filter(col("ws_ms").isNotNull || !col("window_type").isin(
        WindowType.Tumbling.name, WindowType.Sliding.name))
      .drop("_anchor")
  }

  /** Derived once: deriving a product encoder runs Scala reflection,
    * which every planAll build would pay again. */
  private lazy val ruleRowEncoder = Encoders.product[RuleRow]

  /** The ACTIVE rules of a rule frame, collected to the driver: no
    * Spark job for a local rule frame, one for any other. */
  private[graft] def activeBook(ruleFrame: DataFrame): Seq[RuleRow] =
    ruleFrame.filter(col("rule_state") === RuleState.Active.name)
      .as(ruleRowEncoder).collect().toSeq

  /** A rule's window width in ms. */
  private val wMs: Column = (col("window_minutes").cast("long") * 60000L).as("w_ms")

  /** The single hash-aggregation shuffle on
    * (rule_id, group_id, ws_ms), keyed like the reference's
    * keyBy(groupId), and the window's partials. The rule parameters
    * [[judgeWindows]] reads (`agg_type`, `cmp_op`, `limit`) and `w_ms`
    * are constant per rule, so they stay out of the aggregation key:
    * they join back from the broadcast `book` on `rule_id`. Then
    * [[judgeWindows]] and the output projection. */
  private def aggregateAndEmit(windowed: DataFrame, book: Seq[RuleRow]): DataFrame = {
    val p = partials(col("v"))
    val agged = windowed
      .groupBy(col("rule_id"), col("group_id"), col("ws_ms"))
      .agg(p.sumV.as("sum_v"), p.cnt.as("cnt_v"), p.minV.as("min_v"),
        p.maxV.as("max_v"))
    val params = windowed.sparkSession.createDataset(book)(ruleRowEncoder)
      .select(col("rule_id"), col("agg_type"), col("cmp_op"), col("limit"), wMs)

    judgeWindows(agged.join(broadcast(params), "rule_id")).select(
      col("rule_id"),
      col("group_id"),
      timestamp_millis(col("ws_ms")).as("window_start"),
      timestamp_millis(col("ws_ms") + col("w_ms")).as("window_end"),
      col("result"))
  }

  /** The one place a closed window becomes an alert (reference
    * Trigger.java:14-19, Rule.java:39-86), for [[planAll]] after its
    * hash aggregate and [[graft.streaming.StatefulCep.run]] after
    * `transformWithState`. Over rows of partials (`sum_v` DOUBLE,
    * `cnt_v`, `min_v`, `max_v`) and rule parameters (`agg_type`,
    * `cmp_op`, `limit`) it adds `result` and keeps the rows passing
    * HAVING, as CASEs over every [[AggType]] and [[CmpOp]] built from
    * `Partials.result` and [[cmpColumn]] (unknown agg type → MAX,
    * unknown comparator → `!=`). */
  private[graft] def judgeWindows(windows: DataFrame): DataFrame = {
    val perWindow = Partials(col("sum_v"), col("cnt_v"), col("min_v"), col("max_v"))
    windows
      .withColumn("result",
        dispatch(AggType.all, col("agg_type"), (a: AggType) => a.name,
          AggType.Max)(perWindow.result))
      .filter(dispatch(CmpOp.all, col("cmp_op"), (o: CmpOp) => o.symbol, CmpOp.Ne)(
        cmpColumn(_, col("result"), col("limit"))))
  }
}
