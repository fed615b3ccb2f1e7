package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.{CepExprImpl, LimbSumImpl}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.unsafe.types.UTF8String
import graft.cep.{Alignment, CepQuery}
import graft.model.WindowType

/** Per-event, per-(rule,group) stateful window engine on Spark 4's
  * `transformWithState` — the faithful rebuild of the reference's
  * imperative processing model (reference: engine/CEPEngine.java:36-64:
  * one `WindowAssigner` per groupId owning open windows;
  * engine/window/Window.java:40-47: per-event fold into running
  * aggregates; engine/trigger: fire + evict when a window's time
  * passes).
  *
  * The declarative plans in [[graft.cep.CepQuery]] are the scale
  * default — Catalyst optimizes them and the state store handles the
  * windows. This operator exists for the semantics the declarative
  * path cannot express per-event:
  *
  *  - **emission timing**: results emit exactly when the watermark
  *    passes a window's end (append-style finality per window), not on
  *    every update;
  *  - **late-data drop**: an event for an already-closed window is
  *    silently discarded — the reference's observable behavior
  *    (SURVEY §2.3 "late data": re-created windows never re-fire);
  *  - **global windows never emit** here, exactly like the reference
  *    (its AllWindow trigger can never fire, SURVEY §2.4 #5) — use the
  *    declarative path in update mode for correct global results.
  *
  * The window arithmetic is the declarative plans' own: each event's
  * covering starts come from `CepExprImpl.starts`, the core of the
  * `window_starts` expression that [[graft.cep.CepQuery]] calls, on
  * the key's grid (anchor 0, or the first event's grid under
  * [[graft.cep.Alignment.FirstEvent]]). The processor emits closed
  * windows unjudged ([[ClosedWindow]]); `result` and HAVING come after
  * it, in the same incremental plan, from planAll's own
  * [[graft.cep.CepQuery.judgeWindows]].
  *
  * State per key is bounded: one (sum, count, min, max) quadruple per
  * OPEN window — never the raw events (AVG divides sum by count, so no
  * `originValues` buffer; the reference's unbounded TreeMap leak,
  * SURVEY §2.4 #1, is structurally impossible here). Keys are
  * (rule_id, group values), identical to the reference's
  * `keyBy(groupId)` partitioning. State lives in a named, typed
  * [[ValueState]] and firing is timer-driven: each key keeps ONE
  * event-time timer at its earliest open window end, and
  * `handleExpiredTimer` fires and re-arms. An input batch reads the
  * key's state once and moves the timer only when that earliest end
  * changes, so events landing in already-open windows touch no timer.
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass`), which
  * [[graft.GraftSession.local]] sets.
  *
  * Per-task cost: Structured Streaming runs each micro-batch as a job,
  * so `StatefulProcessor.init` runs once per state partition per
  * micro-batch. The [[KeyState]] encoder is therefore derived once, on
  * the driver in [[run]], and handed to the processor; deriving it in
  * `init` ran Scala reflection under its global lock in every task,
  * so concurrent tasks queued on that lock.
  *
  * Retention note: Spark's native state TTL (`TTLConfig`) is
  * processing-time based and is REJECTED in `TimeMode.EventTime`
  * ([STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL]), so this
  * engine deliberately exposes no TTL knob. It does not need one for
  * boundedness: every open window's end carries a timer, and a key's
  * state is cleared entirely once no window remains open — a group's
  * state cannot outlive the watermark passing its last window. The
  * residual operational case (a permanently stalled watermark) stalls
  * ALL event-time processing, not just state cleanup.
  */
object StatefulCep {

  /** One fanned-out event: metric × matched rule, as
    * [[DynamicRules.Matcher]] emits it for [[DynamicRules.fanOut]] and
    * CepQuery.planAll alike.
    * `eventTime` carries the watermark into the stateful operator
    * (Spark's event-time mode requires the watermarked column to reach
    * it); `ev_ms` is its millisecond copy for arithmetic. */
  final case class CepEvent(
      rule_id: Int, group_id: String, eventTime: java.sql.Timestamp,
      ev_ms: Long, v: Double,
      window_type: String, w_ms: Long, s_ms: Long,
      agg_type: String, cmp_op: String, limit: Double)

  /** Running aggregate of one open window. `sum` is a BigDecimal of
    * the per-event values rounded to 6 decimal places ([[dec6]]) — the
    * same exact sum the declarative plans' fixed-width limb aggregate
    * (`graft.functions.limb_sum`) computes — so SUM/AVG are
    * order-independent and bit-equal to the declarative plans (double
    * accumulation would make threshold comparisons at the limit
    * boundary fold-order-dependent). The limbs are the batch plans'
    * buffer only; this state holds the BigDecimal. */
  final case class WindowAgg(
      ws_ms: Long, sum: BigDecimal, cnt: Long, mn: Double, mx: Double)

  /** Open windows of one (rule, group) key, plus the rule's constant
    * parameters (needed on timeout invocations, which carry no
    * events). `closedBelow` is the eviction frontier: windows ending
    * at or below it have fired and must never be re-created
    * (late-data drop). `anchor` is the window-grid origin: 0 for
    * epoch alignment, the first event's grid origin otherwise.
    *
    * STATE FORMAT v2 (breaking): [[WindowAgg.sum]] went Double →
    * BigDecimal and `anchor` was added. A streaming job restarted from
    * a v1 (pre-change) checkpoint fails state-schema validation —
    * there is no migration path; drop the old checkpoint and replay,
    * or drain the old job before upgrading. Any future field change
    * here is the same operational event: call it out in the release
    * note, never reuse a checkpoint across state shapes. */
  final case class KeyState(
      w_ms: Long, agg_type: String, cmp_op: String, limit: Double,
      windows: List[WindowAgg], closedBelow: Long, anchor: Long)

  /** A window the watermark closed, unjudged: bounds in ms, the
    * [[WindowAgg]] partials and the key's current rule parameters —
    * the columns [[graft.cep.CepQuery.judgeWindows]] reads. */
  final case class ClosedWindow(
      rule_id: Int, group_id: String, window_start: Long, window_end: Long,
      sum_v: Double, cnt_v: Long, min_v: Double, max_v: Double,
      agg_type: String, cmp_op: String, limit: Double)

  /** Result row of [[run]]: planAll's columns, window bounds in ms. */
  final case class CepResult(
      rule_id: Int, group_id: String, window_start: Long, window_end: Long,
      result: Double)

  /** Grid origin a new key adopts for its first event. */
  private def anchorFor(align: Alignment, e: CepEvent): Long = align match {
    case Alignment.Epoch => 0L
    case Alignment.FirstEvent =>
      if (e.window_type == WindowType.Sliding.name) e.ev_ms - e.w_ms else e.ev_ms
  }

  /** `v` rounded the way CepQuery.SumDecimal's cast rounds (HALF_UP to
    * 6 decimal places) before entering the running sum: the declarative
    * plans' own conversion, `LimbSumImpl.dec6` (an integral |v| ≤ 2^53
    * in integer arithmetic, with no decimal string). */
  private[graft] def dec6(v: Double): BigDecimal = BigDecimal(LimbSumImpl.dec6(v))

  private def fold(w: WindowAgg, v: Double): WindowAgg =
    WindowAgg(w.ws_ms, w.sum + dec6(v), w.cnt + 1,
      math.min(w.mn, v), math.max(w.mx, v))

  /** Fold one batch of events into open windows (reference
    * Window.receive, Window.java:40-47). Late events — window end at or
    * below the watermark or the eviction frontier — are silently
    * dropped, the reference's observable late-data behavior
    * (SURVEY §2.3). Rules are upsertable at runtime: the state adopts
    * the latest event's rule parameters, so firing/eviction agrees
    * with window assignment after a rule's width changes. A new key's
    * first-event grid hangs off the EARLIEST event of the batch that
    * creates it, as `planRule` anchors on min(ev_ms), not off the
    * shuffle's row order. Returns null when no state existed and no
    * event survived. */
  private[graft] def foldEvents(st0: KeyState, events: Iterator[CepEvent],
      wm: Long, align: Alignment = Alignment.Epoch): KeyState = {
    var st = st0
    val evs =
      if (st0 == null && align == Alignment.FirstEvent)
        events.toArray.sortBy(_.ev_ms).iterator
      else events
    evs.foreach { e =>
      st =
        if (st == null)
          KeyState(e.w_ms, e.agg_type, e.cmp_op, e.limit, Nil, Long.MinValue,
            anchorFor(align, e))
        else
          st.copy(w_ms = e.w_ms, agg_type = e.agg_type,
            cmp_op = e.cmp_op, limit = e.limit)
      // Global rules get no starts: they never fire here (see above).
      val starts = CepExprImpl.starts(UTF8String.fromString(e.window_type),
        e.ev_ms, e.w_ms, e.s_ms, st.anchor)
      if (starts != null) starts.foreach { ws =>
        val we = ws + e.w_ms
        if (we > st.closedBelow && we > wm) {
          val updated = st.windows.find(_.ws_ms == ws) match {
            case Some(w) => fold(w, e.v) :: st.windows.filterNot(_.ws_ms == ws)
            case None => WindowAgg(ws, dec6(e.v), 1, e.v, e.v) :: st.windows
          }
          st = st.copy(windows = updated)
        }
      }
    }
    st
  }

  /** Fire every window whose end the watermark has passed (reference
    * Trigger.trigger + evict, Trigger.java:14-19), in window order,
    * unjudged, with the key's newest rule parameters. Returns the
    * emissions and the surviving state (open windows only, eviction
    * frontier advanced). */
  private[graft] def fireReady(
      key: (Int, String), st: KeyState, wm: Long): (List[ClosedWindow], KeyState) = {
    val (toFire, open) = st.windows.partition(w => w.ws_ms + st.w_ms <= wm)
    val out = toFire.sortBy(_.ws_ms).map(w =>
      ClosedWindow(key._1, key._2, w.ws_ms, w.ws_ms + st.w_ms,
        w.sum.toDouble, w.cnt, w.mn, w.mx, st.agg_type, st.cmp_op, st.limit))
    val closedBelow =
      if (toFire.isEmpty) st.closedBelow
      else math.max(st.closedBelow, toFire.map(_.ws_ms + st.w_ms).max)
    (out, st.copy(windows = open, closedBelow = closedBelow))
  }

  /** Earliest open window end: where the key's one timer sits. */
  private def earliestEnd(st: KeyState): Option[Long] =
    if (st == null || st.windows.isEmpty) None
    else Some(st.windows.iterator.map(_.ws_ms).min + st.w_ms)

  /** One per-key timer at the earliest open window end: timers fire
    * when the EVENT-TIME watermark passes them (TimeMode.EventTime).
    * Events arriving after the watermark already passed a window's
    * end fire it inline. `enc` comes from [[run]] (see "Per-task
    * cost" above). */
  private class CepProcessor(align: Alignment, enc: Encoder[KeyState])
      extends StatefulProcessor[(Int, String), CepEvent, ClosedWindow] {

    @transient private var state: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyState]("cepWindows", enc, TTLConfig.NONE)

    /** Persist survivors, or clear everything; the timer moves only
      * when the earliest open window end does (`oldEnd` is where it
      * sits now, None when no timer is armed). */
    private def commit(kept: KeyState, oldEnd: Option[Long]): Unit = {
      if (kept.windows.isEmpty) state.clear() else state.update(kept)
      val newEnd = earliestEnd(kept)
      if (newEnd != oldEnd) {
        oldEnd.foreach(getHandle.deleteTimer)
        newEnd.foreach(getHandle.registerTimer)
      }
    }

    override def handleInputRows(
        key: (Int, String), rows: Iterator[CepEvent],
        tv: TimerValues): Iterator[ClosedWindow] = {
      val wm = tv.getCurrentWatermarkInMs()
      val st0 = state.get() // null for a key with no state: one read
      val st = foldEvents(st0, rows, wm, align)
      if (st == null) return Iterator.empty
      val (out, kept) = fireReady(key, st, wm)
      commit(kept, earliestEnd(st0))
      out.iterator
    }

    override def handleExpiredTimer(
        key: (Int, String), tv: TimerValues,
        timer: ExpiredTimerInfo): Iterator[ClosedWindow] = {
      val st = state.get()
      if (st == null) return Iterator.empty
      // The expired timer IS the one we registered, and it is gone.
      val (out, kept) = fireReady(key, st, tv.getCurrentWatermarkInMs())
      commit(kept, None)
      out.iterator
    }
  }

  /** Wire the stateful engine over a fanned-out event stream:
    * `fannedOut` is [[DynamicRules.fanOut]] over a rule snapshot that
    * [[DynamicRules.persist]] published, the one way rules reach this
    * engine (watermarked on `eventTime`, [[CepEvent]] columns). Output
    * mode: Append. `align` picks the window grid (see [[Alignment]]). */
  def run(fannedOut: DataFrame,
      align: Alignment = Alignment.Epoch): Dataset[CepResult] = {
    implicit val eEnc = Encoders.product[CepEvent]
    implicit val wEnc = Encoders.product[ClosedWindow]
    implicit val kEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    judged(fannedOut
      .as[CepEvent]
      .groupByKey(e => (e.rule_id, e.group_id))
      .transformWithState(new CepProcessor(align, Encoders.product[KeyState]),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF())
  }

  /** [[ClosedWindow]] rows judged by planAll's own spelling. */
  private[graft] def judged(closed: DataFrame): Dataset[CepResult] =
    CepQuery.judgeWindows(closed)
      .select(col("rule_id"), col("group_id"), col("window_start"),
        col("window_end"), col("result"))
      .as(Encoders.product[CepResult])
}
