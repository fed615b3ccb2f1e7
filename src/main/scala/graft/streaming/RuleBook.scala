package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import graft.cep.Metrics.RuleRow
import graft.model.RuleState

/** Versioned, thread-safe registry of standing rules — the rebuild of
  * the reference's broadcast `MapState[ruleId → Rule]`
  * (reference: PartitionEngine.java:28-33, 54-63).
  *
  * Upsert semantics match the reference exactly: DELETE removes the
  * rule; ACTIVE and PAUSE upsert it. The version counter lets pollers
  * (e.g. [[StreamingEngine.sync]]) cheaply detect change.
  */
final class RuleBook {
  private val rules = TrieMap.empty[Int, RuleRow]
  private val ver = new AtomicLong(0L)

  /** Apply a batch of rule-change events in order (reference
    * processBroadcastElement, PartitionEngine.java:54-63). */
  def applyChanges(changes: Seq[RuleRow]): Unit = {
    changes.foreach { r =>
      if (r.rule_state == RuleState.Delete.name) rules.remove(r.rule_id)
      else rules.put(r.rule_id, r)
    }
    if (changes.nonEmpty) ver.incrementAndGet()
    ()
  }

  def snapshot: Map[Int, RuleRow] = rules.readOnlySnapshot().toMap

  /** Rules that should currently match metrics (ACTIVE only —
    * PAUSE keeps identity but stops matching, Rule.java:63-66). */
  def activeRules: Seq[RuleRow] =
    snapshot.values.filter(_.rule_state == RuleState.Active.name).toSeq.sortBy(_.rule_id)

  def version: Long = ver.get()
}
