package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.parse.Parsers

/** Reference parse semantics (CEPTaskRunner.java:53-72, SURVEY §1.3):
  * key routing, integer-only measures, lenient rule JSON. */
class ParsersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("metric parse routes keys: contains t_ → tag, eventTime, rest → measures") {
    val line =
      """{"eventTime":1650557501028,"t_ip":"127.0.0.4","t_name":"m1","t_group":"business","cpu_usage":9,"memory_usage":4}"""
    val out = Parsers.parseMetrics(Seq(line).toDF("line")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[java.sql.Timestamp]("eventTime").getTime == 1650557501028L)
    assert(r.getAs[Map[String, String]]("tags") ==
      Map("t_ip" -> "127.0.0.4", "t_name" -> "m1", "t_group" -> "business"))
    assert(r.getAs[Map[String, Double]]("metrics") ==
      Map("cpu_usage" -> 9.0, "memory_usage" -> 4.0))
  }

  test("key CONTAINING t_ anywhere is a tag (reference uses contains, not startsWith)") {
    val line = """{"eventTime":1000,"host_t_x":"h1","cpu":5}"""
    val r = Parsers.parseMetrics(Seq(line).toDF("line")).collect().head
    assert(r.getAs[Map[String, String]]("tags") == Map("host_t_x" -> "h1"))
    assert(r.getAs[Map[String, Double]]("metrics") == Map("cpu" -> 5.0))
  }

  test("non-integer measure value drops the whole event; bad lines drop") {
    val lines = Seq(
      """{"eventTime":1000,"t_g":"a","cpu":5}""", // keeps
      """{"eventTime":2000,"t_g":"a","cpu":5.5}""", // non-integer measure → drop
      """{"eventTime":3000,"t_g":"a","cpu":"abc"}""", // non-numeric → drop
      """{"t_g":"a","cpu":5}""", // missing eventTime → drop
      """garbage""").toDF("line")
    val out = Parsers.parseMetrics(lines).collect()
    assert(out.map(_.getAs[java.sql.Timestamp]("eventTime").getTime).toSeq == Seq(1000L))
  }

  test("negative integer measures are kept (parse accepts -5)") {
    val r = Parsers
      .parseMetrics(Seq("""{"eventTime":1,"t_g":"a","delta":-5}""").toDF("line"))
      .collect().head
    assert(r.getAs[Map[String, Double]]("metrics") == Map("delta" -> -5.0))
  }

  test("rule parse: bare-string grouping keys, case-insensitive fields, symbol ops") {
    val lines = Seq(
      """{"ruleId":2,"ruleState":"ACTIVE","windowType":"sliding","windowMinutes":10,"windowSlideMinute":5,"groupingKeyNames":"t_host","aggregatorFunctionType":"AVG","aggregateFieldName":"mem","LimitOperatorType":">=","limit":0.5}""")
      .toDF("line")
    val r = Parsers.parseRules(lines).collect().head
    assert(r.getAs[Int]("rule_id") == 2)
    assert(r.getAs[scala.collection.Seq[String]]("grouping_key_names").toSeq == Seq("t_host"))
    assert(r.getAs[String]("cmp_op") == ">=")
    assert(r.getAs[Double]("limit") == 0.5)
  }

  test("rule parse: unknown comparator or aggregator drops the rule (reference rejects at apply time)") {
    val lines = Seq(
      """{"ruleId":1,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":1,"windowSlideMinute":0,"groupingKeyNames":["t_a"],"aggregatorFunctionType":"SUM","aggregateFieldName":"v","limitOperatorType":"APPROXIMATELY","limit":1}""",
      """{"ruleId":2,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":1,"windowSlideMinute":0,"groupingKeyNames":["t_a"],"aggregatorFunctionType":"MEDIAN","aggregateFieldName":"v","limitOperatorType":">","limit":1}""",
      """{"ruleId":3,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":1,"windowSlideMinute":0,"groupingKeyNames":["t_a"],"aggregatorFunctionType":"MAX","aggregateFieldName":"v","limitOperatorType":">","limit":1}""",
      // Nor can a rule whose key list is missing (it would read
      // [null]), malformed, or holds a null: no tag map has a null key.
      """{"ruleId":4,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":1,"windowSlideMinute":0,"aggregatorFunctionType":"MAX","aggregateFieldName":"v","limitOperatorType":">","limit":1}""",
      """{"ruleId":5,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":1,"windowSlideMinute":0,"groupingKeyNames":"[t_a","aggregatorFunctionType":"MAX","aggregateFieldName":"v","limitOperatorType":">","limit":1}""",
      """{"ruleId":6,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":1,"windowSlideMinute":0,"groupingKeyNames":["t_a",null],"aggregatorFunctionType":"MAX","aggregateFieldName":"v","limitOperatorType":">","limit":1}""")
      .toDF("line")
    val kept = Parsers.parseRules(lines).select("rule_id").as[Int].collect().toSeq
    assert(kept == Seq(3))
  }

  test("rule parse: windowed rules with non-positive width/slide drop (assigners would divide by zero)") {
    val lines = Seq(
      """{"ruleId":1,"ruleState":"ACTIVE","windowType":"tumbling","windowSlideMinute":0,"groupingKeyNames":["t_a"],"aggregatorFunctionType":"SUM","aggregateFieldName":"v","limitOperatorType":">","limit":1}""",
      """{"ruleId":2,"ruleState":"ACTIVE","windowType":"sliding","windowMinutes":10,"windowSlideMinute":0,"groupingKeyNames":["t_a"],"aggregatorFunctionType":"SUM","aggregateFieldName":"v","limitOperatorType":">","limit":1}""",
      """{"ruleId":3,"ruleState":"ACTIVE","windowType":"global","groupingKeyNames":["t_a"],"aggregatorFunctionType":"SUM","aggregateFieldName":"v","limitOperatorType":">","limit":1}""")
      .toDF("line")
    // 1: tumbling with missing windowMinutes (defaults 0) — drop;
    // 2: sliding with zero slide — drop; 3: global needs no width — keep.
    val kept = Parsers.parseRules(lines).select("rule_id").as[Int].collect().toSeq
    assert(kept == Seq(3))
  }

  test("rule parse: a missing or non-numeric limit drops the rule (batch would compare against null)") {
    def line(id: Int, limit: String): String =
      s"""{"ruleId":$id,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":1,"windowSlideMinute":0,"groupingKeyNames":["t_a"],"aggregatorFunctionType":"SUM","aggregateFieldName":"v","limitOperatorType":">"$limit}"""
    val lines = Seq(line(1, ""), line(2, ""","limit":"high""""),
      line(3, ""","limit":null"""), line(4, ""","limit":"2.5""""),
      line(5, ""","limit":-3""")).toDF("line")
    val kept = Parsers.parseRules(lines).select("rule_id", "limit")
      .as[(Int, Option[Double])].collect().toSeq.sortBy(_._1)
    assert(kept == Seq((4, Some(2.5)), (5, Some(-3.0))))
  }

  test("rule parse: unknown window type → global; word comparators normalize to symbols") {
    val lines = Seq(
      """{"ruleId":3,"ruleState":"PAUSE","windowType":"session","windowMinutes":0,"windowSlideMinute":0,"groupingKeyNames":["t_a"],"aggregatorFunctionType":"MIN","aggregateFieldName":"lat","limitOperatorType":"LESS_EQUAL","limit":99}""")
      .toDF("line")
    val r = Parsers.parseRules(lines).collect().head
    assert(r.getAs[String]("window_type") == "global")
    assert(r.getAs[String]("cmp_op") == "<=")
    assert(r.getAs[String]("rule_state") == "PAUSE")
    // Every spelling of graft.model's comparators and aggregators.
    import graft.model.{AggType, CmpOp}
    val spellings = CmpOp.all.flatMap(o =>
      Seq(o.name, o.name.toLowerCase, o.symbol).map(_ -> o.symbol))
    val all = for (((sp, sym), i) <- spellings.zipWithIndex;
        (agg, a) <- AggType.all.zipWithIndex) yield (i * 10 + a, sp, sym, agg.name)
    val got = Parsers.parseRules(all.map { case (id, sp, _, agg) =>
        s"""{"ruleId":$id,"ruleState":"ACTIVE","windowType":"global","groupingKeyNames":["t_a"],"aggregatorFunctionType":"${agg.toLowerCase}","aggregateFieldName":"v","limitOperatorType":"$sp","limit":1}"""
      }.toDF("line"))
      .select("rule_id", "cmp_op", "agg_type").as[(Int, String, String)].collect().toSet
    assert(got == all.map { case (id, _, sym, agg) => (id, sym, agg) }.toSet)
  }
}
