package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper

  test("the result line is one valid JSON object with exactly the four keys") {
    val line = Json.result(correct = true, attempted = 12, failed = 0, Seq(
      ("drain_eps", 3173.4591234, "events/s"), ("alert_p99_ms", 2037.369, "ms"),
      ("tiny", 1.0e-7, "s"), ("whole", 42.0, "count")))
    val node = mapper.readTree(line)
    assert(node.isObject)
    val keys = Seq.newBuilder[String]
    node.fieldNames().forEachRemaining(k => keys += k)
    assert(keys.result() == Seq("correct", "attempted", "failed", "metrics"))
    assert(node.get("correct").asBoolean && node.get("attempted").asLong == 12)
    val m = node.get("metrics")
    assert(m.get("drain_eps").get("value").asDouble == 3173.4591234)
    assert(m.get("drain_eps").get("unit").asText == "events/s")
    assert(m.get("tiny").get("value").asDouble == 1.0e-7)
    assert(m.get("whole").get("value").asDouble == 42.0)
  }

  test("strings are escaped and non-finite numbers refused") {
    assert(mapper.readTree(Json.str("a\"b\\c\nd")).asText == "a\"b\\c\nd")
    assertThrows[IllegalArgumentException](Json.num(Double.NaN))
    assertThrows[IllegalArgumentException](Json.num(Double.PositiveInfinity))
  }

  test("every per-layer metric is reported, unmeasured ones as 0") {
    val out = Layers.report(Map("parse.busy_s" -> 1.5))
    assert(out.map(_._1) == Layers.All.map(_._1))
    assert(out.find(_._1 == "parse.busy_s").get._2 == 1.5)
    assert(out.filter(_._1 != "parse.busy_s").forall(_._2 == 0.0))
    assertThrows[IllegalArgumentException](Layers.report(Map("no.such" -> 1.0)))
  }

  test("BENCHMARK.json lists exactly the per-layer metrics a traced run reports") {
    val declared = mapper.readTree(new java.io.File("../BENCHMARK.json")).get("per_layer")
    val names = Seq.newBuilder[(String, String)]
    declared.elements().forEachRemaining(m => names += m.get("name").asText -> m.get("unit").asText)
    assert(names.result() == Layers.All)
  }
}
