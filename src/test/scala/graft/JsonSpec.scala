package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' one-line outputs must parse as JSON whatever the
  * strings in them hold; Jackson rejects raw control chars, so a parse
  * is a real check. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  test("Json.str escapes control chars, quote and backslash; Json.num writes NaN as null") {
    val nasty = "tab\tcr\rsoh\u0001quote\"backslash\\nl\n"
    val line = s"""{"s":${Json.str(nasty)},"nan":${Json.num(Double.NaN)},""" +
      s""""inf":${Json.num(Double.NegativeInfinity)},"x":${Json.num(1.5)}}"""
    assert(!line.exists(_ < ' '), s"raw control char in $line")
    val tree = mapper.readTree(line)
    assert(tree.get("s").asText == nasty)
    assert(tree.get("nan").isNull && tree.get("inf").isNull)
    assert(tree.get("x").asDouble == 1.5)
  }
}
