package graft.cep

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/** Canonical metric-frame construction + rule-frame representation.
  *
  * The engine's metric schema mirrors the reference's `Metric` POJO
  * (reference: src/main/java/org/apache/sn/task/model/Metric.java:10-15):
  * {{{ eventTime TIMESTAMP, tags MAP<STRING,STRING>, metrics MAP<STRING,DOUBLE> }}}
  */
object Metrics {

  /** Adapt the testdata `events` table (event_id, ts, user_id,
    * event_type, value, props) into the engine's metric shape:
    * tags t_type/t_user, measure "value". */
  def eventsAsMetrics(events: DataFrame): DataFrame =
    events.select(
      col("ts").as("eventTime"),
      map(
        lit("t_type"), col("event_type"),
        lit("t_user"), col("user_id").cast("string")).as("tags"),
      map(lit("value"), col("value")).as("metrics"))

  /** Flat, Encoder-friendly mirror of [[graft.model.Rule]] for use as a
    * DataFrame (the rule book of [[CepQuery.planAll]]). Comparator is
    * stored in symbol form. */
  final case class RuleRow(
      rule_id: Int,
      rule_state: String,
      window_type: String,
      window_minutes: Int,
      window_slide_minute: Int,
      grouping_key_names: Seq[String],
      agg_type: String,
      agg_field: String,
      cmp_op: String,
      limit: Double)

  def toRow(r: Rule): RuleRow = RuleRow(
    r.ruleId, r.ruleState.name, r.windowType.name,
    r.windowMinutes, r.windowSlideMinute, r.groupingKeyNames,
    r.aggregatorFunctionType.name, r.aggregateFieldName,
    r.limitOperatorType.symbol, r.limit.toDouble)

  def fromRow(r: RuleRow): Rule = Rule(
    r.rule_id, RuleState.parse(r.rule_state), WindowType.parse(r.window_type),
    r.window_minutes, r.window_slide_minute, r.grouping_key_names,
    AggType.parse(r.agg_type), r.agg_field, CmpOp.parse(r.cmp_op),
    BigDecimal(r.limit))

  def rulesToDF(spark: SparkSession, rules: Seq[Rule]): DataFrame = {
    import spark.implicits._
    rules.map(toRow).toDF()
  }
}
