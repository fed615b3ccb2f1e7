package perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.cep.Metrics.RuleRow

/** The reference fold against windows computed by hand. */
class RefFoldSpec extends AnyFunSuite {

  private val min = 60000L
  private val t0 = Gen.T0

  private def ev(idx: Long, atMin: Double, host: String, cpu: Long,
      kind: Gen.Kind = Gen.Ok): Gen.Event =
    Gen.Event(idx, t0 + (atMin * min).toLong, Vector("t_host" -> host),
      Vector("cpu" -> cpu), kind)

  private def rule(id: Int, wt: String, w: Int, s: Int, agg: String,
      cmp: String = ">", limit: Double = -1.0): RuleRow =
    RuleRow(id, "ACTIVE", wt, w, s, Seq("t_host"), agg, "cpu", cmp, limit)

  private def batch(evs: Seq[Gen.Event], rules: Seq[RuleRow]): RefFold.Batch =
    RefFold.Batch(evs.toIndexedSeq, evs.map(_.idx).toIndexedSeq, rules)

  private def rows(out: Seq[RefFold.Row]): Set[(Int, String, Long, Long, Double)] =
    out.map(r => (r.ruleId, r.groupId, r.windowStart.get - t0, r.windowEnd.get - t0,
      r.result)).toSet

  test("tumbling AVG divides the exact sum by the count") {
    val r = rule(1, "tumbling", 2, 0, "AVG")
    val evs = Seq(ev(0, 0.1, "a", 1), ev(1, 0.5, "a", 2), ev(2, 1.9, "a", 4),
      ev(3, 2.0, "a", 10), ev(4, 0.2, "b", 7))
    assert(rows(RefFold.expected(Seq(batch(evs, Seq(r))), streaming = true)) == Set(
      (1, "1_a", 0L, 2 * min, 7.0 / 3),
      (1, "1_a", 2 * min, 4 * min, 10.0),
      (1, "1_b", 0L, 2 * min, 7.0)))
  }

  test("sliding with a slide that does not divide the width") {
    // w = 5, s = 2 (minutes): an event at 1.0 lies in [-2,3) and [0,5),
    // one at 4.5 in [0,5), [2,7) and [4,9).
    val r = rule(2, "sliding", 5, 2, "SUM")
    val evs = Seq(ev(0, 1.0, "a", 3), ev(1, 4.5, "a", 5))
    assert(RefFold.windowStarts(r, t0 + (1.0 * min).toLong).map(_.get - t0).toSet ==
      Set(-2 * min, 0L))
    assert(RefFold.windowStarts(r, t0 + (4.5 * min).toLong).map(_.get - t0).toSet ==
      Set(0L, 2 * min, 4 * min))
    assert(rows(RefFold.expected(Seq(batch(evs, Seq(r))), streaming = true)) == Set(
      (2, "2_a", -2 * min, 3 * min, 3.0),
      (2, "2_a", 0L, 5 * min, 8.0),
      (2, "2_a", 2 * min, 7 * min, 5.0),
      (2, "2_a", 4 * min, 9 * min, 5.0)))
  }

  test("streaming drops an event whose windows ended at or before the watermark") {
    val r = rule(3, "tumbling", 1, 0, "MAX")
    // Batch 0 moves the watermark to 5.5; in batch 1 the event at 4.2
    // (window [4,5)) is late, the one at 5.1 (window [5,6)) is not.
    val b0 = batch(Seq(ev(0, 4.0, "a", 1), ev(1, 5.5, "a", 2)), Seq(r))
    val b1 = batch(Seq(ev(2, 4.2, "a", 50, Gen.Late), ev(3, 5.1, "a", 9)), Seq(r))
    assert(rows(RefFold.expected(Seq(b0, b1), streaming = true)) == Set(
      (3, "3_a", 4 * min, 5 * min, 1.0),
      (3, "3_a", 5 * min, 6 * min, 9.0)))
    // In one batch (or in batch mode) nothing is late.
    assert(rows(RefFold.expected(Seq(batch(b0.events ++ b1.events, Seq(r))), streaming = true))
      .contains((3, "3_a", 4 * min, 5 * min, 50.0)))
  }

  test("malformed events never count; thresholds filter at the end") {
    val sum = rule(4, "tumbling", 1, 0, "SUM", ">=", 10)
    val evs = Seq(ev(0, 0.1, "a", 4), ev(1, 0.2, "a", 6), ev(2, 0.3, "b", 4),
      ev(3, 0.4, "b", 100, Gen.Malformed))
    assert(rows(RefFold.expected(Seq(batch(evs, Seq(sum))), streaming = true)) ==
      Set((4, "4_a", 0L, min, 10.0)))
  }

  test("global windows are emitted in batch mode only, with no bounds") {
    val g = rule(5, "global", 0, 0, "MIN")
    val evs = Seq(ev(0, 0.1, "a", 4), ev(1, 9.0, "a", 2))
    assert(RefFold.expected(Seq(batch(evs, Seq(g))), streaming = true).isEmpty)
    val out = RefFold.expected(Seq(batch(evs, Seq(g))), streaming = false)
    assert(out.map(r => (r.groupId, r.windowStart, r.windowEnd, r.result)) ==
      Seq(("5_a", None, None, 2.0)))
  }

  test("the rules a batch ran under decide which events fan out") {
    val a = rule(6, "tumbling", 1, 0, "SUM")
    val paused = a.copy(rule_state = "PAUSE")
    val b0 = batch(Seq(ev(0, 0.1, "a", 1)), Seq(a))
    val b1 = batch(Seq(ev(1, 0.2, "a", 2)), Seq(paused))
    val b2 = batch(Seq(ev(2, 0.3, "a", 4)), Seq(a))
    assert(rows(RefFold.expected(Seq(b0, b1, b2), streaming = true)) ==
      Set((6, "6_a", 0L, min, 5.0)))
  }

  test("the check counts missing, wrong and extra rows") {
    val want = Seq(RefFold.Row(1, "1_a", Some(0L), Some(min), 2.0, 0L),
      RefFold.Row(1, "1_b", Some(0L), Some(min), 3.0, 0L),
      RefFold.Row(1, "1_c", Some(0L), Some(min), 4.0, 0L))
    val got = Seq(want(0), want(1).copy(result = 3.5), want(0),
      RefFold.Row(9, "9_z", Some(0L), Some(min), 1.0, 0L))
    assert(RefFold.check(want, got) == RefFold.Check(3, missing = 1, wrong = 1, extra = 2))
    assert(RefFold.check(want, want).failed == 0)
  }
}
