package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.parse.Parsers

/** End-to-end runner mirroring the reference's topology
  * (reference: CEPTaskRunner.java:28-49): newline-delimited JSON
  * metrics on one socket, rule updates on another, results to the
  * console sink.
  *
  * {{{ sbt "runMain graft.streaming.CepRunner localhost 9999 8888" }}}
  *
  * Feed it exactly like the reference's netcat demo:
  * `nc -lk 9999 < metrics.jsonl` and `nc -lk 8888 < rules.jsonl`.
  */
object CepRunner {

  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
      .withColumnRenamed("value", "line")

  /** Streaming text-file source (each file = JSON lines) — the
    * production-shaped alternative to sockets. */
  def fileLines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir).withColumnRenamed("value", "line")

  /** Kafka wire frame (binary `value` + topic/partition/offset/
    * timestamp metadata) → the engine's `line` frame. Split from
    * [[kafkaLines]] so the projection is unit-testable without a
    * broker: the cast is the whole contract (metric/rule payloads are
    * UTF-8 JSON lines, one event per record; keys/headers unused,
    * matching the reference's value-only socket framing). */
  def kafkaFrameToLines(kafkaFrame: DataFrame): DataFrame =
    kafkaFrame.select(
      org.apache.spark.sql.functions.col("value").cast("string").as("line"))

  /** Kafka source for the production topology (SURVEY §2.1 O1 names
    * Kafka as the prod ingress): one topic of JSON-line metrics (or
    * rules) → the same `line` frame the socket/file sources produce,
    * ready for `Parsers.parseMetrics` / `attachRuleStream`.
    *
    * `startingOffsets=latest` mirrors the reference's socket behavior
    * (a restarted job with a checkpoint resumes from the checkpointed
    * offsets regardless). Requires the `spark-sql-kafka-0-10`
    * connector on the classpath — not present in this sandbox (no
    * broker either), so e2e coverage here is the frame-shape spec on
    * [[kafkaFrameToLines]]; the reader wiring below is the standard
    * connector surface. */
  def kafkaLines(spark: SparkSession, bootstrapServers: String,
      topic: String, startingOffsets: String = "latest"): DataFrame =
    kafkaFrameToLines(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load())

  /** Synthetic metric stream from the rate source — soak/throughput
    * testing without external feeders: each tick becomes a metric in
    * the engine's canonical shape (`nGroups` round-robin tag groups,
    * value cycling 0..99), directly consumable by CepQuery plans and
    * the stateful engine. */
  def rateMetrics(spark: SparkSession, rowsPerSecond: Int,
      nGroups: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(
        col("timestamp").as("eventTime"),
        map(lit("t_group"),
          concat(lit("g"), (col("value") % nGroups).cast("string"))).as("tags"),
        map(lit("cpu_usage"), (col("value") % 100).cast("double")).as("metrics"))
  }

  /** args: [host] [metricPort] [rulePort] [mode]; mode `per-rule`
    * (one update-mode console query per ACTIVE rule) or `dynamic` (ONE
    * append-mode transformWithState query over the whole rule book,
    * checkpointed; rule changes are published as [[DynamicRules]]
    * snapshots and take effect on the next micro-batch with the query
    * running — zero downtime, the reference's broadcast-state
    * semantics). Any other mode fails before a session starts.
    *
    * `per-rule` is the CLI default because global (All-window) rules
    * emit only there: it runs them in UPDATE mode, emitting the
    * running aggregate per micro-batch. A global window never closes,
    * so `dynamic` never emits for it, matching the reference (its
    * global trigger never fires, SURVEY §2.4). */
  def main(args: Array[String]): Unit = {
    val mode = args.lift(3).getOrElse("per-rule")
    require(mode == "per-rule" || mode == "dynamic",
      s"unknown mode $mode (have: per-rule, dynamic)")
    val host = args.headOption.getOrElse("localhost")
    val metricPort = args.lift(1).map(_.toInt).getOrElse(9999)
    val rulePort = args.lift(2).map(_.toInt).getOrElse(8888)
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus(8))

    val book = new RuleBook
    val metricSource =
      () => Parsers.parseMetrics(socketLines(spark, host, metricPort))
    val control = mode match {
      case "dynamic" =>
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_one_pass_").toString
        val engine = new StreamingEngine(spark, metricSource, book,
          StreamingEngine.SinkConfig(format = "console",
            outputMode = "append", checkpointRoot = Some(ckpt)))
        val ruleDir = java.nio.file.Files
          .createTempDirectory("graft_dyn_rules_").toString
        engine.startOnePassDynamic(ruleDir)
        engine.attachRuleStreamDynamic(
          socketLines(spark, host, rulePort), ruleDir)
      case "per-rule" =>
        val engine = new StreamingEngine(spark, metricSource, book,
          StreamingEngine.SinkConfig(format = "console", outputMode = "update"))
        engine.attachRuleStream(socketLines(spark, host, rulePort))
    }
    control.awaitTermination()
  }
}
