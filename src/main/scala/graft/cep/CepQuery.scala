package graft.cep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model._

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
  * Two compilation modes:
  *
  *  - [[planRule]]: one rule → one static plan using built-in
  *    `window()`/`groupBy`. Best per-query plan (whole-stage codegen,
  *    static window expansion); use when rules are few and known.
  *  - [[planAll]]: N rules → ONE pass over the metric stream. The rule
  *    set is broadcast (reference: CEPTaskRunner.java:41,
  *    PartitionEngine.java:26-51), the metric×rule theta-join performs
  *    the reference's 1→N fan-out, windows are computed arithmetically
  *    (width is per-rule *data*, so the built-in `window()` cannot be
  *    used), and agg/comparator dispatch is a `CASE` expression. At
  *    100 TB this is the plan you want: one scan + one shuffle for the
  *    whole rule set, instead of N scans.
  *
  * Scale posture: the only shuffle is the final hash aggregation on
  * (ruleId, groupValues, windowStart) — exactly the reference's
  * `keyBy(groupId)` (CEPTaskRunner.java:46) — and Spark performs
  * partial (map-side) aggregation before it. Rules are broadcast, never
  * shuffled. No per-group driver state, threads, or collect().
  */
object CepQuery {

  /** Decimal type used for exact, order-independent SUM/AVG.
    * Summing doubles is order-dependent across partitions; summing
    * decimals is exact, so results are deterministic under any
    * parallelism — required both for the DuckDB oracle hash-match and
    * for run-to-run stability on a real cluster. */
  val SumDecimal = "decimal(38,6)"

  /** `metrics['field']` as a double column. */
  def measure(field: String): Column = element_at(col("metrics"), field)

  /** The aggregate column for a given agg type over value column `v`
    * (pre-cast to decimal for SUM/AVG exactness; result is DOUBLE). */
  def aggColumn(agg: AggType, v: Column): Column = agg match {
    case AggType.Sum => sum(v.cast(SumDecimal)).cast("double")
    case AggType.Avg => sum(v.cast(SumDecimal)).cast("double") / count(v)
    case AggType.Min => min(v)
    case AggType.Max => max(v)
  }

  /** HAVING comparison (reference: Rule.java:39-56). */
  def cmpColumn(op: CmpOp, result: Column, limit: Column): Column = op match {
    case CmpOp.Eq => result === limit
    case CmpOp.Ne => result =!= limit
    case CmpOp.Gt => result > limit
    case CmpOp.Lt => result < limit
    case CmpOp.Ge => result >= limit
    case CmpOp.Le => result <= limit
  }

  /** One rule → one static DataFrame plan (SURVEY §2.2 template).
    *
    * Output: one column per grouping key (named after the key), plus
    * `window_start`/`window_end` (absent for global windows), plus
    * `result` (DOUBLE).
    */
  def planRule(metricFrame: DataFrame, rule: Rule): DataFrame = {
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

    val grouped = rule.windowType match {
      case WindowType.Tumbling =>
        matched
          .groupBy(keyCols :+ window(col("eventTime"), s"${rule.windowMinutes} minutes"): _*)
          .agg(agg)
      case WindowType.Sliding =>
        matched
          .groupBy(keyCols :+ window(col("eventTime"),
            s"${rule.windowMinutes} minutes", s"${rule.windowSlideMinute} minutes"): _*)
          .agg(agg)
      case WindowType.Global =>
        matched.groupBy(keyCols: _*).agg(agg)
    }
    val flat = rule.windowType match {
      case WindowType.Global => grouped
      case _ =>
        grouped
          .withColumn("window_start", col("window.start"))
          .withColumn("window_end", col("window.end"))
          .drop("window")
    }
    flat.filter(cmpColumn(rule.limitOperatorType, col("result"),
      lit(rule.limit.underlying)))
  }

  /** One rule → first-event-aligned windows — the reference's exact
    * alignment, where [[planRule]] uses Spark's epoch-aligned
    * `window()` (declared deviation, SURVEY §7.4 #3):
    *
    *  - tumbling (TumblingWindowAssigner.java:22-46): windows start at
    *    the group's earliest event time and tile forward in W steps;
    *  - sliding (SlidingWindowAssigner.java:26-55): the slide grid is
    *    anchored at `firstEvent − W` (the assigner's initial
    *    `doCreateWindowList(t0 − W, t0, W, S)`) and extends forward in
    *    S steps; an event belongs to every grid window covering it.
    *    Grid windows holding no events emit nothing here — the
    *    reference would fire them as empty aggregates, one of its
    *    catalogued defects (SURVEY §2.4), deliberately not replicated.
    *
    * Declarative two-phase plan: per-group `min(eventTime)` via a
    * window function, then arithmetic bucketing (relative to the
    * anchor, sliding coverage is the same ceil(W/S)-then-filter
    * arithmetic as [[planAll]]) — so it stays oracle-testable and
    * codegen'd. Costs one extra shuffle (the partition-by for the
    * running min) over the epoch-aligned plan; both shuffles hash on
    * the same grouping keys, so at scale the second is a cheap re-use
    * of an already co-located layout. */
  def planRuleFirstAligned(metricFrame: DataFrame, rule: Rule): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rule.windowType == WindowType.Tumbling ||
      rule.windowType == WindowType.Sliding,
      "first-event alignment applies to tumbling/sliding windows")
    val stateOk = rule.ruleState == RuleState.Active
    val matched = metricFrame.filter(
      lit(stateOk) &&
        forall(array(rule.groupingKeyNames.map(lit): _*),
          k => map_contains_key(col("tags"), k)))
    val keyCols = rule.groupingKeyNames.map(k => element_at(col("tags"), k).as(k))
    val keyNames = rule.groupingKeyNames.map(col)
    val w = rule.windowMillis
    val withT0 = matched
      .select(keyCols :+ unix_millis(col("eventTime")).as("ev_ms")
        :+ measure(rule.aggregateFieldName).as("v"): _*)
      .withColumn("t0", min(col("ev_ms")).over(Window.partitionBy(keyNames: _*)))
    val prepared = rule.windowType match {
      case WindowType.Tumbling =>
        withT0.withColumn("ws_ms",
          col("t0") + floor((col("ev_ms") - col("t0")) / w) * w)
      case _ =>
        val s = rule.slideMillis
        val n = (w + s - 1) / s // ceil(w/s) candidate starts
        withT0
          .withColumn("anchor", col("t0") - w)
          .withColumn("ws_ms", explode(filter(
            transform(sequence(lit(0L), lit(n - 1)),
              i => col("anchor") +
                (floor((col("ev_ms") - col("anchor")) / s) - i) * s),
            ws => ws > col("ev_ms") - w)))
    }
    prepared
      .groupBy(keyNames :+ col("ws_ms"): _*)
      .agg(aggColumn(rule.aggregatorFunctionType, col("v")).as("result"))
      .withColumn("window_start", timestamp_millis(col("ws_ms")))
      .withColumn("window_end", timestamp_millis(col("ws_ms") + w))
      .drop("ws_ms")
      .filter(cmpColumn(rule.limitOperatorType, col("result"),
        lit(rule.limit.underlying)))
  }

  /** N rules → ONE pass: broadcast theta-join fan-out + arithmetic
    * windows + CASE-dispatched agg and comparator.
    *
    * `ruleFrame` must have [[Metrics.RuleRowSchema]] columns (see
    * [[Rules.toDF]]). Output:
    * {{{ rule_id INT, group_id STRING, window_start TIMESTAMP,
    *     window_end TIMESTAMP, result DOUBLE }}}
    * Global windows emit NULL window bounds. `group_id` is the
    * reference's `ruleId_tagVal1_tagVal2…` (PartitionEngine.java:72-81).
    */
  def planAll(metricFrame: DataFrame, ruleFrame: DataFrame): DataFrame = {
    val prepared = prepareFanned(fanOutJoin(metricFrame, ruleFrame))

    // Window assignment, arithmetically (width/slide are per-rule
    // data): one native call per fanned-out row computes the covering
    // starts (ceil(w/s) candidates for sliding with non-covering
    // starts dropped — exact non-divisible semantics; single aligned
    // start for tumbling; a null start for global's unbounded bucket).
    // The CASE-over-HOFs spelling this replaces was evaluated
    // interpreted per row and dominated the one-pass plan's runtime.
    // Epoch-aligned (SURVEY §7.4); see [[planAllFirstAligned]] for the
    // reference's first-event grids.
    val windowed = prepared.withColumn("ws_ms",
      graft.functions.window_starts(col("window_type"), col("ev_ms"),
        col("w_ms"), col("s_ms")))
      // explode_outer, deliberately: plain explode makes the optimizer
      // infer a `size(ws_ms) > 0` filter and push the whole window-array
      // CASE expression into the broadcast join condition, evaluating it
      // twice per (metric, rule) pair. For w ≥ s every branch yields
      // ≥ 1 element so outer semantics are identical; the filter below
      // drops the null row a degenerate w < s sliding rule would emit
      // (an event covered by no window must contribute to no window).
      .withColumn("ws_ms", explode_outer(col("ws_ms")))
      .filter(col("window_type") =!= WindowType.Sliding.name ||
        col("ws_ms").isNotNull)

    aggregateAndEmit(windowed)
  }

  /** [[planAll]] with the reference's first-event window alignment
    * (see [[planRuleFirstAligned]]): each (rule, group) derives its
    * grid origin from its earliest event — tumbling anchors at t0,
    * sliding at t0 − w; global is unchanged. One window function
    * computes the per-(rule, group) min, and its hash partitioning is
    * reused by the final aggregation (a subset of the grouping keys),
    * so the plan still shuffles exactly once.
    *
    * Batch path (streaming forbids plain window functions): on streams,
    * first-event alignment lives in the stateful engine —
    * [[graft.streaming.StatefulCep]] with `Alignment.FirstEvent`,
    * whose per-key anchor is the same grid. */
  def planAllFirstAligned(metricFrame: DataFrame, ruleFrame: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prepared = prepareFanned(fanOutJoin(metricFrame, ruleFrame))
      .withColumn("t0", min(col("ev_ms")).over(
        Window.partitionBy(col("rule_id"), col("group_vals"))))
      .withColumn("anchor",
        when(col("window_type") === WindowType.Sliding.name,
          col("t0") - col("w_ms"))
        .when(col("window_type") === WindowType.Tumbling.name, col("t0")))
    // Anchored grids are translated epoch grids (WindowLaws property):
    // shift the event into anchor space, assign, shift back. Global
    // rows have a null anchor, which nulls the array and explode_outer
    // emits exactly the one null-window row global needs.
    val windowed = prepared
      .withColumn("ws_ms", explode_outer(transform(
        graft.functions.window_starts(col("window_type"),
          col("ev_ms") - col("anchor"), col("w_ms"), col("s_ms")),
        ws => ws + col("anchor"))))
      .filter(col("window_type") =!= WindowType.Sliding.name ||
        col("ws_ms").isNotNull)
      .drop("t0", "anchor")
    aggregateAndEmit(windowed)
  }

  /** Pivot-key sentinel for rules with no grouping keys (they match
    * every metric; the sentinel gives them a hash-joinable key). A tag
    * named "" cannot collide: the exploded key list is de-duplicated. */
  private val KeylessPivot = ""

  /** planAll steps 1-2 — rule-match fan-out + per-(metric, rule)
    * derived columns, as a broadcast HASH join. The match semantics
    * are the reference's (Rule.java:63-66): rule is ACTIVE and every
    * grouping key is present in the event's tag map.
    *
    * The naive spelling is a broadcast nested-loop theta-join on
    * `containsAll(tag_keys, grouping_key_names)`: every metric row
    * evaluates the subset predicate against EVERY rule — O(M·R), the
    * term that explodes when the rule book grows to thousands. Instead
    * each rule is keyed by ONE pivot grouping key and each metric
    * explodes its (few, distinct) tag keys, so a (metric, rule)
    * candidate is produced by one hash-table probe — O(M·keys-per-tag-
    * map + matches) — and only candidates pay the full containsAll
    * verification. Map keys are distinct, and a rule has one pivot, so
    * no candidate is produced twice. Keyless rules (match everything)
    * pivot on a sentinel appended to every metric's key list.
    *
    * The pivot is each rule's RAREST grouping key across the book
    * (ties lexicographic): when rules are heterogeneous (half group by
    * t_group, half by t_type), a fixed first-key pivot would hash
    * every metric against every rule sharing that key, while the
    * rarest key spreads the build side across distinct probe values.
    * The statistics are two aggregations over the rule frame — KBs of
    * control data on the broadcast side, never the metric stream.
    *
    * The metric side explodes only the pivot values SOME rule uses
    * (an `array_intersect` against the collected distinct pivots
    * before the explode): with a homogeneous book that is ONE row per
    * metric — fewer row copies than both the naive explode (tag keys
    * + sentinel per metric) and the old nested-loop join's R predicate
    * evaluations. The tag-key array is materialized per METRIC before
    * the join: inlining map_keys(tags) into the join input would
    * re-extract it per exploded row. Shared with the stateful engines'
    * fan-out ([[graft.streaming.StatefulCep.fanOut]]). */
  private[graft] def fanOutJoin(metricFrame: DataFrame, ruleFrame: DataFrame): DataFrame = {
    val rules = withRarestKeyPivot(
      ruleFrame.filter(col("rule_state") === RuleState.Active.name))
    // Driver-side control read, like the pivot histogram: the handful
    // of distinct pivot values prunes the metric-side explode.
    val pivotVals = rules.select(col("_pivot")).distinct()
      .collect().map(_.getString(0)).sorted
    metricFrame.withColumn("_tag_keys", map_keys(col("tags")))
      .withColumn("_pivot",
        // Set-equal to array_intersect(tag_keys ++ [sentinel],
        // pivotVals) — but iterating the (few, distinct, sorted)
        // pivot literals with array_contains probes costs no per-row
        // hash-set allocation, and with a homogeneous book it is one
        // containment check per metric.
        explode(filter(typedlit(pivotVals.toSeq),
          p => (p === KeylessPivot) || array_contains(col("_tag_keys"), p))))
      .join(broadcast(rules), "_pivot")
      .filter(graft.functions.array_contains_all(col("_tag_keys"),
        col("grouping_key_names")))
      .drop("_pivot", "_tag_keys")
  }

  /** Attach `_pivot` = the rule's grouping key with the lowest
    * rule-frequency in the book (ties lexicographic; sentinel for
    * keyless rules). The frequency histogram is collected to the
    * driver — rules are KBs of CONTROL data (the same contract as
    * RuleBook's collect), and keeping the statistic driver-side keeps
    * the broadcast build subtree exchange-free, preserving the
    * one-shuffle-per-plan promise PlanShapeSpec pins. The per-rule
    * argmin folds over the (≤ a handful of) grouping keys with a
    * literal frequency map. */
  private def withRarestKeyPivot(activeRules: DataFrame): DataFrame = {
    val freqs: Map[String, Long] = activeRules
      .select(explode(col("grouping_key_names")).as("_k"))
      .groupBy(col("_k")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (freqs.isEmpty) // no keyed rule in the book
      return activeRules.withColumn("_pivot", lit(KeylessPivot))
    val freqMap = typedlit(freqs)
    val best = aggregate(col("grouping_key_names"),
      struct(lit(Long.MaxValue).as("f"), lit(KeylessPivot).as("k")),
      (acc, k) => {
        val cand = struct(element_at(freqMap, k).as("f"), k.as("k"))
        when(cand < acc, cand).otherwise(acc)
      })
    activeRules.withColumn("_pivot", best.getField("k"))
  }

  private def prepareFanned(joined: DataFrame): DataFrame =
    joined
      .select(
        col("rule_id"),
        col("agg_type"), col("cmp_op"), col("limit"),
        col("window_type"),
        (col("window_minutes").cast("long") * 60000L).as("w_ms"),
        (col("window_slide_minute").cast("long") * 60000L).as("s_ms"),
        graft.functions.map_values_for_keys(col("tags"), col("grouping_key_names"))
          .as("group_vals"),
        unix_millis(col("eventTime")).as("ev_ms"),
        element_at(col("metrics"), col("agg_field")).as("v"))

  /** planAll steps 4-5 — the single hash-aggregation shuffle keyed
    * like the reference's keyBy(groupId) (rule attributes ride along,
    * constant per rule_id), then CASE-dispatched aggregate + HAVING
    * comparator (both are data) and the output projection. */
  private def aggregateAndEmit(windowed: DataFrame): DataFrame = {
    val agged = windowed
      .groupBy(col("rule_id"), col("group_vals"), col("ws_ms"),
        col("agg_type"), col("cmp_op"), col("limit"), col("w_ms"))
      .agg(
        sum(col("v").cast(SumDecimal)).cast("double").as("sum_v"),
        count(col("v")).as("cnt_v"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))

    val result = agged.withColumn("result",
      when(col("agg_type") === AggType.Sum.name, col("sum_v"))
        .when(col("agg_type") === AggType.Avg.name, col("sum_v") / col("cnt_v"))
        .when(col("agg_type") === AggType.Min.name, col("min_v"))
        .otherwise(col("max_v")))

    val kept = result.filter(
      when(col("cmp_op") === CmpOp.Gt.symbol, col("result") > col("limit"))
        .when(col("cmp_op") === CmpOp.Lt.symbol, col("result") < col("limit"))
        .when(col("cmp_op") === CmpOp.Ge.symbol, col("result") >= col("limit"))
        .when(col("cmp_op") === CmpOp.Le.symbol, col("result") <= col("limit"))
        .when(col("cmp_op") === CmpOp.Eq.symbol, col("result") === col("limit"))
        .otherwise(col("result") =!= col("limit")))

    kept.select(
      col("rule_id"),
      concat_ws("_", col("rule_id").cast("string"), col("group_vals"))
        .as("group_id"),
      timestamp_millis(col("ws_ms")).as("window_start"),
      timestamp_millis(col("ws_ms") + col("w_ms")).as("window_end"),
      col("result"))
  }
}
