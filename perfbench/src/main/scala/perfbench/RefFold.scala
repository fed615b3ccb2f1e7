package perfbench

import scala.collection.mutable
import graft.cep.Metrics.RuleRow

/** Independent reference for the CEP workloads: folds the generated
  * events into the exact window rows the engine must emit. It shares no
  * code with the engine. SUM and AVG are folded as exact `BigDecimal`s
  * over the integer measures; windows are epoch-aligned; a sliding rule
  * covers an event with every window `[ws, ws + w)` on its slide grid
  * that contains it, whether or not the slide divides the width.
  *
  * Streaming mode follows the engine's watermark contract: micro-batch
  * `k` runs with watermark `wm_k` = the largest event time among the
  * fanned-out events of batches `0..k-1` (0 before the first), and an
  * event of batch `k` reaches a window only if the window ends after
  * `wm_k`. Global windows never close there, so they are never
  * emitted. Batch mode has no watermark and emits global windows too.
  * Malformed events never reach either. */
object RefFold {

  /** One expected (or emitted) window row. `windowStart` is `None` for a
    * global window. `lastDue` is the largest due time (benchmark clock,
    * ns) of the events folded into it, the start of its alert
    * latency. */
  final case class Row(ruleId: Int, groupId: String, windowStart: Option[Long],
      windowEnd: Option[Long], result: Double, lastDue: Long)

  /** One micro-batch (or, in batch mode, the whole input): its events,
    * their due times, and the ACTIVE rules its tasks saw. */
  final case class Batch(events: IndexedSeq[Gen.Event], due: IndexedSeq[Long],
      rules: Seq[RuleRow])

  private final class Acc(var sum: BigDecimal, var cnt: Long, var mn: Long,
      var mx: Long, var lastDue: Long)

  /** Window starts of `evMs` under rule `r`; `None` stands for the one
    * global window. */
  def windowStarts(r: RuleRow, evMs: Long): Seq[Option[Long]] = {
    val w = r.window_minutes * 60000L
    r.window_type match {
      case "tumbling" => Seq(Some(Math.floorDiv(evMs, w) * w))
      case "sliding" =>
        val s = r.window_slide_minute * 60000L
        // The latest start at or before the event, then every earlier
        // start whose window still contains it.
        val top = Math.floorDiv(evMs, s) * s
        Iterator.iterate(top)(_ - s).takeWhile(_ + w > evMs).map(Some(_)).toSeq
      case _ => Seq(None)
    }
  }

  private def passes(cmp: String, v: Double, limit: Double): Boolean = cmp match {
    case ">" => v > limit
    case "<" => v < limit
    case ">=" => v >= limit
    case "<=" => v <= limit
    case "=" => v == limit
    case _ => v != limit
  }

  /** Rules indexed by their first grouping key ("" for keyless rules),
    * so an event only tests the rules whose first key it carries. */
  private def index(rules: Seq[RuleRow]): Map[String, Seq[RuleRow]] =
    rules.filter(_.rule_state == "ACTIVE")
      .groupBy(_.grouping_key_names.headOption.getOrElse(""))

  /** The rows the engine must emit for `batches`, in `streaming` or
    * batch mode. */
  def expected(batches: Seq[Batch], streaming: Boolean): Seq[Row] = {
    val windows = mutable.HashMap.empty[(Int, String, Option[Long]), Acc]
    val ruleById = mutable.HashMap.empty[Int, RuleRow]
    var maxEv = 0L
    batches.foreach { b =>
      val wm = maxEv
      val byKey = index(b.rules)
      val keyless = byKey.getOrElse("", Nil)
      var i = 0
      while (i < b.events.size) {
        val e = b.events(i)
        if (e.kind != Gen.Malformed) {
          val tags = e.tags.toMap
          val candidates = keyless ++ e.tags.flatMap { case (k, _) => byKey.getOrElse(k, Nil) }
          var fanned = false
          candidates.foreach { r =>
            val v = e.metrics.collectFirst { case (k, x) if k == r.agg_field => x }
            if (v.isDefined && r.grouping_key_names.forall(tags.contains)) {
              fanned = true
              ruleById(r.rule_id) = r
              val gid = (r.rule_id.toString +: r.grouping_key_names.map(tags)).mkString("_")
              val w = r.window_minutes * 60000L
              windowStarts(r, e.evMs).foreach { ws =>
                if (!streaming || ws.exists(_ + w > wm)) {
                  val x = v.get
                  windows.get((r.rule_id, gid, ws)) match {
                    case Some(a) =>
                      a.sum += x; a.cnt += 1
                      a.mn = math.min(a.mn, x); a.mx = math.max(a.mx, x)
                      a.lastDue = math.max(a.lastDue, b.due(i))
                    case None =>
                      windows((r.rule_id, gid, ws)) = new Acc(BigDecimal(x), 1, x, x, b.due(i))
                  }
                }
              }
            }
          }
          if (fanned) maxEv = math.max(maxEv, e.evMs)
        }
        i += 1
      }
    }
    windows.iterator.flatMap { case ((rid, gid, ws), a) =>
      val r = ruleById(rid)
      val w = r.window_minutes * 60000L
      val result = r.agg_type match {
        case "SUM" => a.sum.toDouble
        case "AVG" => a.sum.toDouble / a.cnt
        case "MIN" => a.mn.toDouble
        case _ => a.mx.toDouble
      }
      if (passes(r.cmp_op, result, r.limit))
        Some(Row(rid, gid, ws, ws.map(_ + w), result, a.lastDue))
      else None
    }.toSeq
  }

  /** Outcome of comparing emitted rows with the expected ones. */
  final case class Check(expected: Int, missing: Int, wrong: Int, extra: Int) {
    def failed: Int = missing + wrong + extra
  }

  /** Compare emitted rows with `expect`, keyed by (rule, group, window
    * start). A key emitted twice counts the second as extra. */
  def check(expect: Seq[Row], emitted: Seq[Row]): Check = {
    val want = expect.map(r => (r.ruleId, r.groupId, r.windowStart) -> r).toMap
    val seen = mutable.HashSet.empty[(Int, String, Option[Long])]
    var wrong = 0
    var extra = 0
    emitted.foreach { r =>
      val k = (r.ruleId, r.groupId, r.windowStart)
      if (!seen.add(k)) extra += 1
      else want.get(k) match {
        case None => extra += 1
        case Some(x) =>
          if (x.windowEnd != r.windowEnd ||
              java.lang.Double.compare(x.result, r.result) != 0) wrong += 1
      }
    }
    Check(want.size, want.keysIterator.count(k => !seen.contains(k)), wrong, extra)
  }
}
