package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The per-layer metrics of a traced run. Every workload reports every
  * metric; a layer the workload does not exercise reports 0. */
object Layers {

  /** (name, unit) of every per-layer metric, in report order. */
  val All: Seq[(String, String)] = Seq(
    "parse.busy_s" -> "s", "parse.lines_per_s" -> "lines/s", "parse.rejected" -> "count",
    "fanout.busy_s" -> "s", "fanout.rows_out" -> "count", "fanout.matches_per_event" -> "ratio",
    "state.busy_s" -> "s", "state.rows_total" -> "count", "state.bytes" -> "bytes",
    "state.rows_updated" -> "count", "state.update_ms" -> "ms", "state.commit_ms" -> "ms",
    "state.removal_ms" -> "ms",
    "control.upserts" -> "count", "control.publish_ms" -> "ms",
    "batch.count" -> "count", "batch.p50_ms" -> "ms", "batch.add_batch_ms" -> "ms",
    "batch.planning_ms" -> "ms", "batch.wal_commit_ms" -> "ms", "batch.latest_offset_ms" -> "ms",
    "cep.plan_ms" -> "ms", "cep.fanout_rows" -> "count", "cep.agg_busy_s" -> "s",
    "curation.pipeline_s" -> "s", "curation.funnel_s" -> "s", "dedup.save_index_s" -> "s",
    "dedup.against_index_s" -> "s", "dedup.append_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.driver_gap_ms" -> "ms",
    "source.backlog_max" -> "count", "source.backlog_end" -> "count",
    "source.gen_late_p99_ms" -> "ms", "sink.windows" -> "count", "sink.write_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MiB",
    "trace.overhead_frac" -> "ratio", "scale.eps_1core" -> "events/s",
    "scale.speedup_4v1" -> "ratio")

  /** The full metric list from the values a workload measured. */
  def report(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unknown layer metrics: $unknown")
    All.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  /** The parse and fan-out metrics from the layer prefixes: line, parsed
    * and fanned-out row counts and the two self times. A self time
    * below the prefixes' noise reads 0. */
  def prefixMetrics(lines: Long, parsed: Long, fanned: Long, parseS: Double,
      fanoutS: Double): Map[String, Double] = Map(
    "parse.busy_s" -> math.max(0.0, parseS),
    "parse.lines_per_s" -> (if (parseS > 0) lines / parseS else 0.0),
    "parse.rejected" -> (lines - parsed).toDouble,
    "fanout.busy_s" -> math.max(0.0, fanoutS),
    "fanout.rows_out" -> fanned.toDouble,
    "fanout.matches_per_event" -> fanned.toDouble / math.max(1L, parsed))

  /** Median wall time of `reps` runs of `body`, seconds. */
  def timeS(reps: Int)(body: => Unit): Double =
    Runs.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; Runs.seconds(System.nanoTime() - t0)
    })

  /** Micro-batch and state-store metrics from the query's progress. */
  def progressMetrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(k: String): Double = if (ps.isEmpty) 0.0 else Runs.median(ps.map(dur(_, k)))
    val ops = ps.flatMap(_.stateOperators)
    Map(
      "batch.count" -> ps.size.toDouble,
      "batch.p50_ms" -> med("triggerExecution"),
      "batch.add_batch_ms" -> med("addBatch"),
      "batch.planning_ms" -> med("queryPlanning"),
      "batch.wal_commit_ms" -> med("walCommit"),
      "batch.latest_offset_ms" -> med("latestOffset"),
      "state.rows_total" -> ops.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "state.bytes" -> ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "state.rows_updated" -> ops.map(_.numRowsUpdated.toDouble).sum,
      "state.update_ms" -> ops.map(_.allUpdatesTimeMs.toDouble).sum,
      "state.commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
      "state.removal_ms" -> ops.map(_.allRemovalsTimeMs.toDouble).sum)
  }

  /** Total `addBatch` time of the given progress entries, seconds. */
  def addBatchS(ps: Seq[StreamingQueryProgress]): Double =
    ps.map(p => Option(p.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0)).sum / 1000.0

  /** Run `body` against a fresh one-core session, stopping the current
    * session first and the one-core session after. */
  def onOneCore[T](work: String)(body: SparkSession => T): T = {
    SparkSession.active.stop()
    val one = Main.session(1, work)
    try body(one) finally one.stop()
  }
}
