package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}
import graft.model.{AggType, CmpOp}
import graft.model.WindowType.{Global, Sliding, Tumbling}

/** JSON-line → metric / rule parsing with the reference's routing
  * semantics, expressed as declarative (codegen-friendly) column
  * expressions — no UDFs, no driver-side loops.
  *
  * Reference behavior reproduced (CEPTaskRunner.java:58-72):
  *  - a key `== "eventTime"` is the epoch-millis event time;
  *  - a key that CONTAINS "t_" (not merely starts with) is a tag;
  *  - every other key is a measure, parsed as an INTEGER — any
  *    non-integer measure value drops the whole event;
  *  - unparseable lines (bad JSON / missing or bad eventTime) drop.
  */
object Parsers {

  /** Parse a frame with a string `line` column into the engine metric
    * schema (eventTime TIMESTAMP, tags MAP<STRING,STRING>,
    * metrics MAP<STRING,DOUBLE>). Invalid lines are filtered out
    * (reference O4 null-filter, CEPTaskRunner.java:34). */
  def parseMetrics(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    // from_json to MAP<STRING,STRING> keeps unknown keys and renders
    // scalar values as their literal JSON text; the key routing —
    // `t_`-containing → tag, `eventTime` → time, rest → integer
    // measure, any non-integer measure drops the event
    // (CEPTaskRunner.java:67-70) — is ONE native pass over the map
    // (graft.functions.metric_route), not a stack of interpreted
    // higher-order functions: routing cost matched the JSON parse
    // itself, and ingest parsing is the engine's hot path.
    val routed = graft.functions.metric_route(
      from_json(col(lineCol), MapType(StringType, StringType)))
    lines
      .select(routed.as("_r"))
      .select(
        timestamp_millis(col("_r.ev_ms")).as("eventTime"),
        col("_r.tags").as("tags"),
        col("_r.metrics").as("metrics"),
        col("_r.ok").as("_ok"))
      .filter(col("eventTime").isNotNull && col("_ok"))
      .drop("_ok")
  }

  /** Parse a frame with a string `line` column into [[graft.cep.Metrics.RuleRow]]
    * shape. Mirrors fastjson leniency the reference relies on
    * (SURVEY §1.3): field-name matching is case-insensitive, and
    * `groupingKeyNames` may be either a JSON array or a bare string
    * (coerced to a one-element list). Comparator accepts both word and
    * symbol spellings (those of [[graft.model.CmpOp]]) and is normalized
    * to the symbol. Invalid lines drop, among them a rule whose key list
    * is missing (it would read `[null]`), malformed or holds a null;
    * every row reads `.as[RuleRow]`. */
  def parseRules(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    // Case-insensitive field access: parse to a map and lower-case keys.
    val m0 = from_json(col(lineCol), MapType(StringType, StringType))
    val m = transform_keys(m0, (k, _) => lower(k))
    def f(name: String): Column = try_element_at(m, lit(name.toLowerCase))

    val gk = f("groupingKeyNames")
    val gkArr = when(gk.startsWith("["), from_json(gk, ArrayType(StringType)))
      .otherwise(array(gk))

    val cmpSymbols = typedlit(CmpOp.all.flatMap(o =>
      Seq(o.name -> o.symbol, o.symbol -> o.symbol)).toMap)
    val cmp = try_element_at(cmpSymbols, upper(f("limitOperatorType")))

    val wt = lower(f("windowType"))
    lines
      .select(
        f("ruleId").try_cast("int").as("rule_id"),
        upper(f("ruleState")).as("rule_state"),
        when(wt.isin(Tumbling.name, Sliding.name), wt).otherwise(Global.name)
          .as("window_type"),
        coalesce(f("windowMinutes").try_cast("int"), lit(0)).as("window_minutes"),
        coalesce(f("windowSlideMinute").try_cast("int"), lit(0))
          .as("window_slide_minute"),
        gkArr.as("grouping_key_names"),
        upper(f("aggregatorFunctionType")).as("agg_type"),
        f("aggregateFieldName").as("agg_field"),
        cmp.as("cmp_op"),
        f("limit").try_cast("double").as("limit"))
      // A rule with an unknown comparator or aggregator can never
      // apply (the reference's enum valueOf throws at apply time,
      // Rule.java:99-107), nor one without a numeric limit (its
      // BigDecimal compare, Rule.java:39-56) — dropping it at parse time
      // is the same observable behavior, surfaced earlier. Likewise a
      // windowed rule with a non-positive width/slide (the reference's
      // assigners divide by them; missing JSON fields default to 0)
      // could only ever divide-by-zero — reject it here, and a rule
      // whose key list is null or holds a null too: no tag map contains
      // a null key (Rule.java:63-66), so it could never match.
      .filter(col("rule_id").isNotNull && col("rule_state").isNotNull &&
        col("cmp_op").isNotNull && col("limit").isNotNull &&
        forall(col("grouping_key_names"), _.isNotNull) &&
        col("agg_type").isin(AggType.all.map(_.name): _*) &&
        (col("window_type") === Global.name || col("window_minutes") > 0) &&
        (col("window_type") =!= Sliding.name || col("window_slide_minute") > 0))
  }
}
