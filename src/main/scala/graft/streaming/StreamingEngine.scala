package graft.streaming

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.cep.{Alignment, CepQuery, Metrics}
import graft.cep.Metrics.RuleRow
import graft.model._
import graft.parse.Parsers

/** Structured-Streaming rebuild of the reference's dynamic-rule runtime
  * (reference: CEPTaskRunner.java:31-49, PartitionEngine, CEPEngine).
  *
  * Mapping of the reference's runtime concepts:
  *
  *  - rule socket stream + broadcast MapState → a rule-line stream
  *    consumed via `foreachBatch` into a [[RuleBook]];
  *  - per-(rule,group) window state + wall-clock triggers → Spark's
  *    managed state store + event-time watermark (declared deviation,
  *    SURVEY §7.4: watermark semantics instead of the reference's
  *    fire-at-wall-clock-end triggers, which silently never fire on
  *    replayed data);
  *  - dynamic add/pause/delete WITHOUT restart → two rule-lifecycle
  *    paths:
  *    (a) **per-rule queries** ([[sync]] + [[attachRuleStream]]): each
  *    ACTIVE rule runs as its own update-mode streaming query over the
  *    shared metric stream. Adding a rule starts a query; PAUSE/DELETE
  *    stops it; re-activation restarts it — and a stable per-rule
  *    checkpoint directory means its window state survives a pause
  *    (PAUSE keeps identity, Rule.java:63-66). Rules are independent,
  *    so one rule's lifecycle never touches another rule's state. This
  *    is the only path that emits global-window rules.
  *    (b) **dynamic one-pass** ([[startOnePassDynamic]] +
  *    [[attachRuleStreamDynamic]]), the production mode for large rule
  *    sets: a single append-mode stateful query ([[StatefulCep.run]])
  *    whose fan-out resolves rules per micro-batch from a
  *    [[DynamicRules]] snapshot — rule swaps take effect with the
  *    query running, the reference's zero-downtime semantics.
  *
  * Checkpoints: the per-rule queries (and a `CepQuery.planAll` stream)
  * keep the window SUM as `limb_sum`'s three long limbs in their
  * aggregation state. A checkpoint written before that buffer replaced
  * the decimal(38,6) sum fails state-schema validation on restart;
  * drop it and replay. The one-pass query's [[StatefulCep.KeyState]]
  * did not change, so its checkpoints still restore.
  */
final class StreamingEngine(
    spark: SparkSession,
    metricStream: () => DataFrame,
    book: RuleBook,
    sink: StreamingEngine.SinkConfig = StreamingEngine.SinkConfig()) {

  private val running = TrieMap.empty[Int, (RuleRow, StreamingQuery)]

  /** The per-rule streaming plan: identical logical plan to the batch
    * path (CepQuery.planRule) — Structured Streaming batch/stream
    * parity is the point of the architecture. */
  def ruleQuery(rule: Rule): DataFrame =
    CepQuery.planRule(
      metricStream().withWatermark("eventTime", sink.watermarkDelay), rule)

  private def startQuery(row: RuleRow): StreamingQuery = {
    val rule = Metrics.fromRow(row)
    val name = s"cep_rule_${rule.ruleId}"
    var w = ruleQuery(rule).writeStream
      .queryName(name)
      .format(sink.format)
      .outputMode(sink.outputMode)
    sink.checkpointRoot.foreach(r => w = w.option("checkpointLocation", s"$r/$name"))
    sink.pathRoot.foreach(r => w = w.option("path", s"$r/$name"))
    w.start()
  }

  /** Reconcile running queries with the current rule book: start
    * queries for new/changed ACTIVE rules, stop queries for rules that
    * were paused, deleted, or redefined. Call after every rule-book
    * change (attachRuleStream does) or on a timer. */
  def sync(): Unit = synchronized {
    val want = book.activeRules.map(r => r.rule_id -> r).toMap
    // stop: no longer active, or definition changed
    running.toSeq.foreach { case (id, (row, q)) =>
      if (!want.get(id).contains(row)) {
        q.stop(); running.remove(id)
      }
    }
    // start: active but not running
    want.foreach { case (id, row) =>
      if (!running.contains(id)) running.put(id, (row, startQuery(row)))
    }
  }

  /** Rule rows of one parsed control micro-batch (rules are small by
    * contract — this is a control path, not a data path). */
  private def parseRuleRows(batch: DataFrame): Seq[RuleRow] =
    Parsers.parseRules(batch).as(Encoders.product[RuleRow]).collect().toSeq

  /** Consume a streaming frame of rule JSON lines into the book and
    * re-sync after every micro-batch — the rebuild of the reference's
    * rule socket + broadcast (CEPTaskRunner.java:37-41). */
  def attachRuleStream(ruleLines: DataFrame): StreamingQuery =
    ruleLines.writeStream
      .queryName("cep_rule_control")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        book.applyChanges(parseRuleRows(batch))
        sync()
      }
      .start()

  /** Test/ops helper: block until every running rule query has
    * processed all available input. */
  def awaitQuiescence(): Unit = {
    running.values.toSeq.foreach(_._2.processAllAvailable())
    onePass.foreach(_.processAllAvailable())
  }

  /** Stop every rule query (state survives in checkpoints). */
  def shutdown(): Unit = synchronized {
    running.values.foreach(_._2.stop())
    running.clear()
    onePass.foreach(_.stop())
    onePass = None
  }

  def runningRuleIds: Set[Int] = running.keySet.toSet

  // ---------------------------------------------------------------------------
  // One-pass stateful production mode with zero-downtime rule updates
  // ---------------------------------------------------------------------------

  private var onePass: Option[StreamingQuery] = None

  /** PRODUCTION DEFAULT for large rule sets: start the entire ACTIVE
    * rule book as ONE append-mode stateful query under
    * `<checkpointRoot>/cep_one_pass` — the dynamic rule fan-out
    * ([[DynamicRules.fanOut]]) into the `transformWithState` window
    * engine ([[StatefulCep.run]]). One metric scan, one shuffle, and
    * append-style finality: every window emits exactly once when the
    * watermark passes its end, late events are dropped — the
    * reference's observable semantics.
    *
    * The fan-out reads the newest [[DynamicRules]] snapshot under
    * `ruleDir` at every task launch, so rule upserts published by
    * [[attachRuleStreamDynamic]] take effect on the next micro-batch
    * WITHOUT stopping the query — the reference's zero-downtime
    * broadcast rule swap (PartitionEngine.java:54-63), on Spark's
    * managed state. Open windows of a paused or deleted rule keep
    * firing from state (spec-pinned). The state schema
    * ([[StatefulCep.KeyState]]) is rule-independent, so a query
    * restarted on the same checkpoint resumes its open windows —
    * including across a NEW SparkSession / JVM (spec-pinned). Requires
    * the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`), which
    * [[graft.GraftSession.local]] sets. */
  def startOnePassDynamic(
      ruleDir: String,
      align: Alignment = Alignment.Epoch): StreamingQuery = synchronized {
    DynamicRules.persist(spark, ruleDir, book.version, book.activeRules)
    onePass.foreach(_.stop())
    var w = StatefulCep.run(
        DynamicRules.fanOut(metricStream(), ruleDir, sink.watermarkDelay),
        align)
      .writeStream
      .queryName("cep_one_pass")
      .format(sink.format)
      .outputMode("append")
    sink.checkpointRoot.foreach(r => w = w.option("checkpointLocation", s"$r/cep_one_pass"))
    sink.pathRoot.foreach(r => w = w.option("path", s"$r/cep_one_pass"))
    val q = w.start()
    onePass = Some(q)
    q
  }

  /** Rule control stream for [[startOnePassDynamic]]: each rule
    * micro-batch updates the book and publishes a new snapshot version
    * to `ruleDir` — the running query is NOT touched. */
  def attachRuleStreamDynamic(
      ruleLines: DataFrame, ruleDir: String): StreamingQuery =
    ruleLines.writeStream
      .queryName("cep_rule_control_dynamic")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = parseRuleRows(batch)
        if (rows.nonEmpty) {
          book.applyChanges(rows)
          DynamicRules.persist(spark, ruleDir, book.version, book.activeRules)
        }
      }
      .start()
}

object StreamingEngine {
  /** Where rule-query results go. Defaults suit tests (in-memory table
    * per rule named cep_rule_<id>); production uses e.g.
    * format="parquet", outputMode="append", checkpoint/path roots set. */
  final case class SinkConfig(
      format: String = "memory",
      outputMode: String = "update",
      watermarkDelay: String = "0 seconds",
      checkpointRoot: Option[String] = None,
      pathRoot: Option[String] = None)
}
