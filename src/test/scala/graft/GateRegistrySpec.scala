package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of [[SparkEntry.gates]] that the compiler cannot check. */
class GateRegistrySpec extends AnyFunSuite {
  private val gates = SparkEntry.gates

  test("gate names are distinct") {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate names: ${dups.mkString(", ")}")
  }

  test("every oracle is non-empty SQL (a null is an object-init-order capture)") {
    val bad = gates.collect {
      case SparkEntry.Gate(n, _, Some(sql)) if sql == null || sql.trim.isEmpty => n
    }
    assert(bad.isEmpty, s"null or empty oracle: ${bad.mkString(", ")}")
  }

  test("190 gated rows and 15 bench-only rows") {
    assert(gates.count(_.oracle.isDefined) == 190)
    assert(gates.count(_.oracle.isEmpty) == 15)
  }
}
