package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.CepQuery
import graft.model._
import graft.streaming.{RuleBook, StreamingEngine}
import graft.cep.Metrics.RuleRow

/** Streaming rebuild semantics: batch/stream parity of the rule plan,
  * and the reference's dynamic rule lifecycle (add / pause / delete at
  * runtime, PartitionEngine.java:54-63) driven through MemoryStream. */
case class StreamingEv(ms: Long, g: String, cpu: Int)

class StreamingEngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val t0 = 1650557501028L
  private type Ev = StreamingEv
  private val Ev = StreamingEv
  private val demoEvents = Seq(
    Ev(t0, "business", 9), Ev(t0 + 1000, "work", 1), Ev(t0 + 2000, "business", 2),
    Ev(t0 + 3000, "work", 5), Ev(t0 + 4000, "business", 5), Ev(t0 + 5000, "work", 10))
  private val demoRule = Rule(1, RuleState.Active, WindowType.Tumbling, 2, 0,
    Seq("t_group"), AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(11))

  private def toMetricFrame(df: DataFrame): DataFrame =
    df.select(
      timestamp_millis(col("ms")).as("eventTime"),
      map(lit("t_group"), col("g")).as("tags"),
      map(lit("cpu_usage"), col("cpu").cast("double")).as("metrics"))

  test("streaming per-rule query emits the same results as the batch plan") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(demoEvents: _*)
    val book = new RuleBook
    val engine = new StreamingEngine(spark, () => toMetricFrame(mem.toDF()), book)
    book.applyChanges(Seq(graft.cep.Metrics.toRow(demoRule)))
    engine.sync()
    assert(engine.runningRuleIds == Set(1))
    engine.awaitQuiescence()
    val got = spark.table("cep_rule_1")
      .select("t_group", "result").as[(String, Double)].collect().toMap
    assert(got == Map("business" -> 16.0, "work" -> 16.0))
    engine.shutdown()
  }

  test("dynamic rule lifecycle via rule stream: add, add, delete, pause") {
    implicit val sqlCtx = spark.sqlContext
    val metricMem = MemoryStream[Ev]
    metricMem.addData(demoEvents: _*)
    val ruleMem = MemoryStream[String]
    val book = new RuleBook
    val engine = new StreamingEngine(spark, () => toMetricFrame(metricMem.toDF()), book)
    val control = engine.attachRuleStream(ruleMem.toDF().withColumnRenamed("value", "line"))

    def ruleJson(id: Int, state: String): String =
      s"""{"ruleId":$id,"ruleState":"$state","windowType":"tumbling","windowMinutes":2,"windowSlideMinute":0,"groupingKeyNames":["t_group"],"aggregatorFunctionType":"SUM","aggregateFieldName":"cpu_usage","limitOperatorType":">","limit":11}"""

    ruleMem.addData(ruleJson(1, "ACTIVE"))
    control.processAllAvailable()
    assert(engine.runningRuleIds == Set(1))

    ruleMem.addData(ruleJson(2, "ACTIVE"))
    control.processAllAvailable()
    assert(engine.runningRuleIds == Set(1, 2))
    engine.awaitQuiescence()
    assert(spark.table("cep_rule_2").count() == 2) // both groups sum 16 > 11

    ruleMem.addData(ruleJson(1, "DELETE"))
    control.processAllAvailable()
    assert(engine.runningRuleIds == Set(2))
    assert(book.snapshot.keySet == Set(2))

    ruleMem.addData(ruleJson(2, "PAUSE"))
    control.processAllAvailable()
    assert(engine.runningRuleIds == Set.empty[Int])
    assert(book.snapshot.keySet == Set(2)) // PAUSE keeps identity

    control.stop(); engine.shutdown()
  }

  test("window state survives a rule pause/resume via the per-rule checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val mem = MemoryStream[Ev]
    val book = new RuleBook
    val engine = new StreamingEngine(
      spark, () => toMetricFrame(mem.toDF()), book,
      StreamingEngine.SinkConfig(
        format = "parquet", outputMode = "append",
        checkpointRoot = Some(s"$tmp/ckpt"), pathRoot = Some(s"$tmp/out")))
    val row = graft.cep.Metrics.toRow(demoRule)

    // Phase 1: rule active, first half of window A arrives (sum so far
    // would NOT pass the >11 threshold on its own: 9+1+2 per group? no —
    // business 9+2=11, work 1+5=6; neither passes without phase 2).
    book.applyChanges(Seq(row))
    engine.sync()
    mem.addData(Ev(t0, "business", 9), Ev(t0 + 1000, "work", 1),
      Ev(t0 + 2000, "business", 2), Ev(t0 + 3000, "work", 5))
    engine.awaitQuiescence()

    // Pause: query stops, checkpoint (offsets + window state) remains.
    book.applyChanges(Seq(row.copy(rule_state = "PAUSE")))
    engine.sync()
    assert(engine.runningRuleIds.isEmpty)

    // Resume: same checkpoint dir -> continues where it left off. The
    // second half of window A plus a far-future event to close it.
    book.applyChanges(Seq(row.copy(rule_state = "ACTIVE")))
    engine.sync()
    mem.addData(Ev(t0 + 4000, "business", 5), Ev(t0 + 5000, "work", 10),
      Ev(t0 + 600000, "business", 1))
    engine.awaitQuiescence()
    engine.shutdown()

    // Both groups must total 16 — phase-1 events counted exactly once,
    // which requires the pre-pause window state to have survived.
    val out = spark.read.parquet(s"$tmp/out/cep_rule_1")
      .select("t_group", "result").as[(String, Double)].collect().toMap
    assert(out == Map("business" -> 16.0, "work" -> 16.0))
  }

  test("file source e2e: JSON-line files -> parseMetrics -> rule query (reference wire format)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_files_").toString
    // The reference's own sample metric shape (resources/metrics).
    val lines = demoEvents.map(e =>
      s"""{"eventTime":${e.ms},"t_group":"${e.g}","cpu_usage":${e.cpu}}""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-0.jsonl"),
      String.join("\n", lines: _*).getBytes)
    val metricStream = graft.parse.Parsers.parseMetrics(
      graft.streaming.CepRunner.fileLines(spark, dir))
    val q = CepQuery.planRule(
      metricStream.withWatermark("eventTime", "0 seconds"), demoRule)
      .writeStream.format("memory").queryName("cep_file_src")
      .outputMode("update").start()
    q.processAllAvailable()
    val got = spark.table("cep_file_src")
      .select("t_group", "result").as[(String, Double)].collect().toMap
    assert(got == Map("business" -> 16.0, "work" -> 16.0))
    q.stop()
  }

  test("kafka frame shape: binary value records -> line frame -> parsed metrics -> rule results") {
    // No broker/connector in this sandbox, so the testable half of the
    // Kafka source is the wire-frame projection: records shaped
    // exactly like the connector's output (binary value + metadata
    // columns) must flow through kafkaFrameToLines -> parseMetrics ->
    // the rule plan unchanged.
    val kafkaShaped = demoEvents.zipWithIndex.map { case (e, i) =>
      (Array.emptyByteArray,
        s"""{"eventTime":${e.ms},"t_group":"${e.g}","cpu_usage":${e.cpu}}"""
          .getBytes("UTF-8"),
        "metrics", 0, i.toLong,
        new java.sql.Timestamp(e.ms), 0)
    }.toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val lines = graft.streaming.CepRunner.kafkaFrameToLines(kafkaShaped)
    assert(lines.columns.toSeq == Seq("line"))
    val got = CepQuery.planRule(
      graft.parse.Parsers.parseMetrics(lines), demoRule)
      .select("t_group", "result").as[(String, Double)].collect().toMap
    assert(got == Map("business" -> 16.0, "work" -> 16.0))
  }

  test("kafka contract e2e: streamed connector-schema frames -> lines -> rule windows emitted") {
    // The closest a broker-less sandbox gets to a Kafka e2e: frames
    // with the connector's EXACT output schema (key/value binary,
    // topic/partition/offset/timestamp/timestampType) are replayed
    // through a STREAMING source (parquet file stream) and must flow
    // kafkaFrameToLines -> parseMetrics -> windowed rule plan to
    // emitted window results — the full pipeline a real Kafka topic
    // would drive, with only the TCP hop simulated.
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka_").toString
    val frames = demoEvents.zipWithIndex.map { case (e, i) =>
      (Array.emptyByteArray,
        s"""{"eventTime":${e.ms},"t_group":"${e.g}","cpu_usage":${e.cpu}}"""
          .getBytes("UTF-8"),
        "metrics", i % 3, i.toLong, // records spread over 3 partitions
        new java.sql.Timestamp(e.ms), 0)
    }.toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    frames.write.mode("overwrite").parquet(s"$dir/frames")
    val streamedFrames = spark.readStream
      .schema(frames.schema).parquet(s"$dir/frames")
    val metricStream = graft.parse.Parsers.parseMetrics(
      graft.streaming.CepRunner.kafkaFrameToLines(streamedFrames))
    val q = CepQuery.planRule(
      metricStream.withWatermark("eventTime", "0 seconds"), demoRule)
      .writeStream.format("memory").queryName("cep_kafka_contract")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cep_kafka_contract")
        .select("t_group", "result").as[(String, Double)].collect().toMap
      assert(got == Map("business" -> 16.0, "work" -> 16.0))
    } finally q.stop()
  }

  test("session_window streaming: sessions emit in append mode once the watermark passes them") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)] // (user, ms, value)
    val frame = mem.toDF().toDF("user", "ms", "value")
      .select(col("user"), timestamp_millis(col("ms")).as("ts"), col("value"))
      .withWatermark("ts", "0 seconds")
    val out = graft.ops.Windows.sessionAgg(frame, Seq("user"), "ts",
      "10 seconds", Seq(
        "n_events" -> count(lit(1)),
        "total" -> sum(col("value"))))
    val q = out.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // u1's two events chain (5 s < 10 s gap); u2 has one event.
      mem.addData((1L, 0L, 1.0), (1L, 5000L, 2.0), (2L, 0L, 5.0))
      q.processAllAvailable()
      // Advance the watermark far past both sessions' ends.
      mem.addData((1L, 60000L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .select(col("user"), unix_millis(col("session_start")),
          unix_millis(col("session_end")), col("n_events"), col("total"))
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      // session_end = last event + gap; the late u1 session (at 60 s)
      // is still open, so exactly the two closed sessions appear.
      assert(rows == Set(
        (1L, 0L, 15000L, 2L, 3.0),
        (2L, 0L, 10000L, 1L, 5.0)))
    } finally q.stop()
  }

  test("socket source e2e: the reference's netcat topology against a real TCP socket") {
    // Stand-in for `nc -lk 9999 < metrics`: a one-shot server that
    // writes the demo metric lines to the first client.
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      demoEvents.foreach(e =>
        out.println(s"""{"eventTime":${e.ms},"t_group":"${e.g}","cpu_usage":${e.cpu}}"""))
      out.flush()
      Thread.sleep(60000) // keep the connection open while the query drains
      sock.close()
    })
    feeder.setDaemon(true)
    feeder.start()
    val metricStream = graft.parse.Parsers.parseMetrics(
      graft.streaming.CepRunner.socketLines(spark, "localhost", port))
    val q = CepQuery.planRule(metricStream, demoRule)
      .writeStream.format("memory").queryName("cep_socket_src")
      .outputMode("update").start()
    try {
      // Drain until both groups appear (socket sources deliver
      // asynchronously; processAllAvailable alone can race the feeder).
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var got = Map.empty[String, Double]
      while (got.size < 2 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        got = spark.table("cep_socket_src")
          .select("t_group", "result").as[(String, Double)].collect().toMap
        if (got.size < 2) Thread.sleep(200)
      }
      assert(got == Map("business" -> 16.0, "work" -> 16.0))
    } finally { q.stop(); server.close() }
  }

  test("rate source: synthetic metric stream drives a rule query end to end") {
    val rule = demoRule.copy(limitOperatorType = CmpOp.Ge, limit = BigDecimal(0))
    val q = CepQuery.planRule(
      graft.streaming.CepRunner.rateMetrics(spark, rowsPerSecond = 500), rule)
      .writeStream.format("memory").queryName("cep_rate_src")
      .outputMode("update").start()
    try {
      // The rate source ticks in wall-clock time: drain until the
      // first window aggregates appear (bounded wait).
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var rows = 0L
      while (rows == 0 && System.nanoTime() < deadline) {
        q.processAllAvailable()
        rows = spark.table("cep_rate_src").count()
        if (rows == 0) Thread.sleep(200)
      }
      assert(rows > 0)
      // Groups are the synthetic g0..g7 round-robin tags.
      val groups = spark.table("cep_rate_src")
        .select("t_group").distinct().as[String].collect().toSet
      assert(groups.nonEmpty && groups.forall(_.startsWith("g")))
    } finally q.stop()
  }

  test("one-pass stateful engine recovers open-window state across a NEW SparkSession (same checkpoint)") {
    // A one-pass transformWithState query stopped mid-window and
    // rebuilt in a FRESH SparkSession (new session state, new engine,
    // new RuleBook) on the same checkpoint must resume with the
    // open-window aggregates intact — phase-1 events counted exactly
    // once in the final emission.
    val tmp = java.nio.file.Files.createTempDirectory("graft_onepass_").toString
    val srcDir = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def writeLines(name: String, evs: Seq[Ev]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$srcDir/$name"),
        evs.map(e => s"""{"eventTime":${e.ms},"t_group":"${e.g}","cpu_usage":${e.cpu}}""")
          .mkString("\n").getBytes)
    def engineFor(sess: org.apache.spark.sql.SparkSession): StreamingEngine = {
      val book = new RuleBook
      book.applyChanges(Seq(graft.cep.Metrics.toRow(demoRule)))
      new StreamingEngine(
        sess,
        () => graft.parse.Parsers.parseMetrics(
          graft.streaming.CepRunner.fileLines(sess, srcDir)),
        book,
        StreamingEngine.SinkConfig(
          format = "parquet", outputMode = "append",
          checkpointRoot = Some(s"$tmp/ckpt"), pathRoot = Some(s"$tmp/out")))
    }

    // Phase 1 (session A): first half of the 2-minute window — sums
    // are business 11 / work 6, neither passes the >11 threshold yet,
    // so nothing emits and everything rides in state.
    writeLines("a.jsonl", Seq(
      Ev(t0, "business", 9), Ev(t0 + 1000, "work", 1),
      Ev(t0 + 2000, "business", 2), Ev(t0 + 3000, "work", 5)))
    val e1 = engineFor(spark)
    val q1 = e1.startOnePassDynamic(s"$tmp/rules")
    q1.processAllAvailable()
    e1.shutdown()

    // Phase 2: a NEW SparkSession (fresh session state over the shared
    // context), a NEW engine + book, the SAME checkpoint. Second half
    // of the window plus a far-future event to push the watermark past
    // the window end.
    val spark2 = spark.newSession()
    writeLines("b.jsonl", Seq(
      Ev(t0 + 4000, "business", 5), Ev(t0 + 5000, "work", 10),
      Ev(t0 + 600000, "business", 1)))
    val e2 = engineFor(spark2)
    val q2 = e2.startOnePassDynamic(s"$tmp/rules")
    q2.processAllAvailable()
    e2.shutdown()

    // Totals require phase-1 state: without recovery business/work
    // would be 6/10 (below threshold) and nothing would emit.
    val out = spark.read.parquet(s"$tmp/out/cep_one_pass")
      .select("group_id", "result").as[(String, Double)].collect().toMap
    assert(out == Map("1_business" -> 16.0, "1_work" -> 16.0))
  }

  test("DynamicRules.fanOut: ACTIVE matchable rules, keyless group id") {
    import graft.streaming.StatefulCep.CepEvent
    val tmp = java.nio.file.Files.createTempDirectory("graft_dynrules_").toString
    val rules = Seq(
      graft.cep.Metrics.toRow(demoRule), // keyed, ACTIVE
      graft.cep.Metrics.toRow(demoRule.copy(ruleId = 2,
        groupingKeyNames = Seq.empty)), // keyless: matches everything
      graft.cep.Metrics.toRow(demoRule.copy(ruleId = 3,
        ruleState = RuleState.Pause)), // paused: matches nothing
      graft.cep.Metrics.toRow(demoRule.copy(ruleId = 4,
        groupingKeyNames = Seq("t_zone")))) // key absent from tags
    graft.streaming.DynamicRules.persist(spark, tmp, 1L, rules)
    // A metric that matches rules 1 and 2 by tags but lacks their
    // measure fans out to no event.
    val noMeasure = Seq((t0 + 6000L, "business")).toDF("ms", "g").select(
      timestamp_millis(col("ms")).as("eventTime"),
      map(lit("t_group"), col("g")).as("tags"),
      map(lit("mem_usage"), lit(1.0)).as("metrics"))
    val batch = toMetricFrame(demoEvents.toDF()).unionByName(noMeasure)
    val dyn = graft.streaming.DynamicRules.fanOut(batch, tmp)
      .as[CepEvent].collect()
    // Each demo event once per ACTIVE rule whose keys its tags hold,
    // with rule 1's parameters and the reference's group id.
    def event(e: Ev, rule: Int, gid: String): CepEvent =
      CepEvent(rule, gid, new java.sql.Timestamp(e.ms), e.ms, e.cpu.toDouble,
        "tumbling", 120000L, 0L, "SUM", ">", 11.0)
    val expected = demoEvents.flatMap(e =>
      Seq(event(e, 1, s"1_${e.g}"), event(e, 2, "2")))
    assert(dyn.length == expected.length && dyn.toSet == expected.toSet)
    assert(dyn.map(_.rule_id).toSet == Set(1, 2)) // ACTIVE + matchable only
    assert(dyn.filter(_.rule_id == 2).map(_.group_id).toSet == Set("2")) // keyless gid
    assert(!dyn.exists(_.ev_ms == t0 + 6000L))
  }

  test("DynamicRules retains a bounded snapshot window and serves the newest version") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dynrules_gc_").toString
    val row = graft.cep.Metrics.toRow(demoRule)
    (1L to 12L).foreach { v =>
      graft.streaming.DynamicRules.persist(spark, tmp, v,
        Seq(row.copy(rule_id = v.toInt)))
    }
    val files = new java.io.File(tmp).listFiles().map(_.getName)
      .filter(_.endsWith(".bin"))
    assert(files.length <= 8, s"unbounded snapshot growth: ${files.length} files")
    // The newest snapshot is the one served.
    val ids = graft.streaming.DynamicRules
      .fanOut(toMetricFrame(demoEvents.toDF()), tmp)
      .select("rule_id").distinct().as[Int].collect().toSet
    assert(ids == Set(12))
  }

  test("ZERO-downtime rule updates: add and pause take effect with the one-pass query uninterrupted") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_dyn_").toString
    val srcDir = s"$tmp/in"
    val ruleDir = s"$tmp/rules"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def writeLines(name: String, evs: Seq[(Long, String, Int)]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$srcDir/$name"),
        evs.map { case (ms, g, cpu) =>
          s"""{"eventTime":$ms,"t_group":"$g","cpu_usage":$cpu}""" }
          .mkString("\n").getBytes)
    // Threshold >5 so a HALF window (business 11 / work 6) still
    // passes: rule 1's open window must fire from state AFTER the rule
    // is paused, visibly.
    def ruleJson(id: Int, state: String): String =
      s"""{"ruleId":$id,"ruleState":"$state","windowType":"tumbling","windowMinutes":2,"windowSlideMinute":0,"groupingKeyNames":["t_group"],"aggregatorFunctionType":"SUM","aggregateFieldName":"cpu_usage","limitOperatorType":">","limit":5}"""
    val sixteen = Seq(("business", 9), ("work", 1), ("business", 2),
      ("work", 5), ("business", 5), ("work", 10))
    def at(base: Long, evs: Seq[(String, Int)]): Seq[(Long, String, Int)] =
      evs.zipWithIndex.map { case ((g, v), i) => (base + i * 1000L, g, v) }

    val ruleMem = MemoryStream[String]
    val book = new RuleBook
    val engine = new StreamingEngine(
      spark,
      () => graft.parse.Parsers.parseMetrics(
        graft.streaming.CepRunner.fileLines(spark, srcDir)),
      book,
      StreamingEngine.SinkConfig(
        format = "parquet", outputMode = "append",
        checkpointRoot = Some(s"$tmp/ckpt"), pathRoot = Some(s"$tmp/out")))
    val q = engine.startOnePassDynamic(ruleDir)
    val control = engine.attachRuleStreamDynamic(
      ruleMem.toDF().withColumnRenamed("value", "line"), ruleDir)
    try {
      val runId = q.runId

      // Rule 1 arrives -> NO restart; window A + closer fires it.
      ruleMem.addData(ruleJson(1, "ACTIVE"))
      control.processAllAvailable()
      writeLines("a.jsonl", at(t0, sixteen) :+ ((t0 + 600000L, "business", 1)))
      engine.awaitQuiescence()
      assert(q.runId == runId && q.isActive)

      // Rule 2 added mid-stream -> window B feeds BOTH rules.
      val tB = t0 + 720000L
      ruleMem.addData(ruleJson(2, "ACTIVE"))
      control.processAllAvailable()
      writeLines("b.jsonl", at(tB, sixteen) :+ ((tB + 600000L, "business", 1)))
      engine.awaitQuiescence()
      assert(q.runId == runId && q.isActive)

      // Window C in two halves: first half lands under BOTH rules,
      // then rule 1 is PAUSED with that window still open. The second
      // half must reach only rule 2 — and rule 1's open window must
      // still fire (from checkpointed state) with the pre-pause sums.
      val tC = t0 + 1440000L
      writeLines("c1.jsonl", at(tC, sixteen.take(4)))
      engine.awaitQuiescence()
      ruleMem.addData(ruleJson(1, "PAUSE"))
      control.processAllAvailable()
      writeLines("c2.jsonl",
        at(tC + 4000L, sixteen.drop(4)) :+ ((tC + 600000L, "business", 1)))
      engine.awaitQuiescence()
      assert(q.runId == runId && q.isActive,
        "rule changes must never restart the one-pass query")

      val wsA = Math.floorDiv(t0, 120000L) * 120000L
      val got = spark.read.parquet(s"$tmp/out/cep_one_pass")
        .select("rule_id", "group_id", "window_start", "result")
        .as[(Int, String, Long, Double)].collect().toSet
      assert(got == Set(
        (1, "1_business", wsA, 16.0), (1, "1_work", wsA, 16.0),
        (1, "1_business", wsA + 720000L, 16.0), (1, "1_work", wsA + 720000L, 16.0),
        (2, "2_business", wsA + 720000L, 16.0), (2, "2_work", wsA + 720000L, 16.0),
        (1, "1_business", wsA + 1440000L, 11.0), (1, "1_work", wsA + 1440000L, 6.0),
        (2, "2_business", wsA + 1440000L, 16.0), (2, "2_work", wsA + 1440000L, 16.0)))
    } finally {
      control.stop(); engine.shutdown()
    }
  }

  test("a rule upsert while a window is open changes its aggregator and threshold: it fires once, judged by the newest rule") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_").toString
    val srcDir = s"$tmp/in"
    val ruleDir = s"$tmp/rules"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    def writeLines(name: String, evs: Seq[Ev]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$srcDir/$name"),
        evs.map(e => s"""{"eventTime":${e.ms},"t_group":"${e.g}","cpu_usage":${e.cpu}}""")
          .mkString("\n").getBytes)
    def ruleJson(agg: String, op: String, limit: Int): String =
      s"""{"ruleId":1,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":2,"windowSlideMinute":0,"groupingKeyNames":["t_group"],"aggregatorFunctionType":"$agg","aggregateFieldName":"cpu_usage","limitOperatorType":"$op","limit":$limit}"""
    val ruleMem = MemoryStream[String]
    val book = new RuleBook
    val engine = new StreamingEngine(
      spark,
      () => graft.parse.Parsers.parseMetrics(
        graft.streaming.CepRunner.fileLines(spark, srcDir)),
      book,
      StreamingEngine.SinkConfig(
        format = "parquet", outputMode = "append",
        checkpointRoot = Some(s"$tmp/ckpt"), pathRoot = Some(s"$tmp/out")))
    val q = engine.startOnePassDynamic(ruleDir)
    val control = engine.attachRuleStreamDynamic(
      ruleMem.toDF().withColumnRenamed("value", "line"), ruleDir)
    try {
      ruleMem.addData(ruleJson("SUM", ">", 5))
      control.processAllAvailable()
      // First half under SUM > 5: business 9+2, work 1+5, both above.
      writeLines("a1.jsonl", Seq(Ev(t0, "business", 9), Ev(t0 + 1000, "work", 1),
        Ev(t0 + 2000, "business", 2), Ev(t0 + 3000, "work", 5)))
      engine.awaitQuiescence()
      ruleMem.addData(ruleJson("MAX", ">=", 9))
      control.processAllAvailable()
      // Second half, then a closer: under MAX >= 9, business (max 9,
      // from the first half, at the limit) passes and work (max 8)
      // fails, though both windows' sums (16, 14) pass SUM > 5.
      writeLines("a2.jsonl", Seq(Ev(t0 + 4000, "business", 5),
        Ev(t0 + 5000, "work", 8), Ev(t0 + 600000, "business", 1)))
      engine.awaitQuiescence()
      assert(q.isActive && q.exception.isEmpty)
      val wsA = Math.floorDiv(t0, 120000L) * 120000L
      val got = spark.read.parquet(s"$tmp/out/cep_one_pass")
        .select("rule_id", "group_id", "window_start", "result")
        .as[(Int, String, Long, Double)].collect().toSeq
      assert(got == Seq((1, "1_business", wsA, 9.0)))
    } finally {
      control.stop(); engine.shutdown()
    }
  }

  test("CepRunner fails on an unknown mode, naming both modes, before it starts anything") {
    val e = intercept[IllegalArgumentException] {
      graft.streaming.CepRunner.main(Array("localhost", "1", "1", "dynamc"))
    }
    assert(e.getMessage.contains("dynamc") && e.getMessage.contains("per-rule") &&
      e.getMessage.contains("dynamic"))
  }

  test("a rule with zero width or zero slide yields no windows; the one-pass query and the other rules run on") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_degenerate_").toString
    val srcDir = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$srcDir/a.jsonl"),
      (demoEvents :+ Ev(t0 + 600000, "business", 1))
        .map(e => s"""{"eventTime":${e.ms},"t_group":"${e.g}","cpu_usage":${e.cpu}}""")
        .mkString("\n").getBytes)
    // RuleBook and DynamicRules.persist take rule rows as given; only
    // Parsers.parseRules filters non-positive widths and slides.
    val book = new RuleBook
    book.applyChanges(Seq(
      graft.cep.Metrics.toRow(demoRule),
      graft.cep.Metrics.toRow(demoRule.copy(ruleId = 2, windowMinutes = 0)),
      graft.cep.Metrics.toRow(demoRule.copy(ruleId = 3,
        windowType = WindowType.Sliding, windowSlideMinute = 0))))
    val engine = new StreamingEngine(
      spark,
      () => graft.parse.Parsers.parseMetrics(
        graft.streaming.CepRunner.fileLines(spark, srcDir)),
      book,
      StreamingEngine.SinkConfig(
        format = "parquet", outputMode = "append",
        checkpointRoot = Some(s"$tmp/ckpt"), pathRoot = Some(s"$tmp/out")))
    val q = engine.startOnePassDynamic(s"$tmp/rules")
    try {
      engine.awaitQuiescence()
      assert(q.isActive && q.exception.isEmpty)
      val got = spark.read.parquet(s"$tmp/out/cep_one_pass")
        .select("rule_id", "group_id", "result").as[(Int, String, Double)]
        .collect().toSet
      assert(got == Set((1, "1_business", 16.0), (1, "1_work", 16.0)))
    } finally engine.shutdown()
  }

  test("a rule line with a missing or non-numeric limit reaches neither the rule book nor the one-pass query") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_nolimit_").toString
    val srcDir = s"$tmp/in"
    val ruleDir = s"$tmp/rules"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    // SUM > 0 fires on every demo window, so a rule read as limit 0
    // would show in the output.
    def ruleJson(id: Int, limit: String): String =
      s"""{"ruleId":$id,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":2,"windowSlideMinute":0,"groupingKeyNames":["t_group"],"aggregatorFunctionType":"SUM","aggregateFieldName":"cpu_usage","limitOperatorType":">"$limit}"""
    val ruleMem = MemoryStream[String]
    val book = new RuleBook
    val engine = new StreamingEngine(
      spark,
      () => graft.parse.Parsers.parseMetrics(
        graft.streaming.CepRunner.fileLines(spark, srcDir)),
      book,
      StreamingEngine.SinkConfig(
        format = "parquet", outputMode = "append",
        checkpointRoot = Some(s"$tmp/ckpt"), pathRoot = Some(s"$tmp/out")))
    val q = engine.startOnePassDynamic(ruleDir)
    val control = engine.attachRuleStreamDynamic(
      ruleMem.toDF().withColumnRenamed("value", "line"), ruleDir)
    try {
      ruleMem.addData(ruleJson(1, ""","limit":11"""), ruleJson(2, ""),
        ruleJson(3, ""","limit":"high""""), ruleJson(4, ""","limit":null"""))
      control.processAllAvailable()
      assert(book.snapshot.keySet == Set(1))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$srcDir/a.jsonl"),
        (demoEvents :+ Ev(t0 + 600000, "business", 1))
          .map(e => s"""{"eventTime":${e.ms},"t_group":"${e.g}","cpu_usage":${e.cpu}}""")
          .mkString("\n").getBytes)
      engine.awaitQuiescence()
      assert(q.isActive && q.exception.isEmpty)
      val got = spark.read.parquet(s"$tmp/out/cep_one_pass")
        .select("rule_id", "group_id", "result").as[(Int, String, Double)]
        .collect().toSet
      assert(got == Set((1, "1_business", 16.0), (1, "1_work", 16.0)))
    } finally {
      control.stop(); engine.shutdown()
    }
  }

  test("one-pass streaming snapshot plan (planAll) runs in update mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(demoEvents: _*)
    val rules = graft.cep.Metrics.rulesToDF(spark,
      Seq(demoRule, demoRule.copy(ruleId = 3, ruleState = RuleState.Pause)))
    val q = CepQuery.planAll(toMetricFrame(mem.toDF()), rules).writeStream
      .queryName("cep_one_pass").format("memory").outputMode("update").start()
    q.processAllAvailable()
    val got = spark.table("cep_one_pass")
      .select("rule_id", "group_id", "result")
      .as[(Int, String, Double)].collect().toSet
    assert(got == Set((1, "1_business", 16.0), (1, "1_work", 16.0)))
    q.stop()
  }

  test("ingest-time classifier scoring: batch-trained weights, stream-applied, batch==stream rows") {
    // The deployment shape for the learned quality gate: train on a
    // batch seed set (classifierTrain), ship the weights into the
    // ingest stream as a pure projection (classifierScore). Stateless,
    // so streaming output must be byte-identical to the batch plan.
    implicit val sqlCtx = spark.sqlContext
    val seed = Seq(
      (1L, "insightful thorough analysis common words", 1),
      (2L, "spam garbage clickbait common words", 0),
      (3L, "insightful analysis of words", 1),
      (4L, "clickbait garbage heap words", 0)).toDF("doc_id", "text", "label")
    val dim = 64
    val trained = graft.ops.TextAnalysis
      .classifierTrain(seed, "label", dim = dim, iters = 8, meanPool = true,
        lrNum = 16L, lrDen = 1L)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val weights = (0 until dim).map(b => trained.getOrElse(b.toLong, 0.0))
    val bias = trained.getOrElse(-1L, 0.0)
    def score(df: DataFrame) =
      graft.ops.TextAnalysis.classifierScore(df, weights, bias = bias)
    val incoming = Seq((10L, "insightful words"), (11L, "garbage words"),
      (12L, ""), (13L, "naïve café 中文"))
    val mem = MemoryStream[(Long, String)]
    val q = score(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cls_score_stream")
      .outputMode("append").start()
    try {
      mem.addData(incoming.take(2): _*); q.processAllAvailable()
      mem.addData(incoming.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cls_score_stream").collect()
      .map(r => (r.getLong(0), r.toSeq.drop(1).toString)).toMap
    val batch = score(incoming.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.toSeq.drop(1).toString)).toMap
    assert(streamed == batch && streamed.size == 4)
    // The learned gate is live in the stream: good doc above bad doc.
    val sc = spark.table("cls_score_stream").collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(sc(10L) > sc(11L))
  }

  test("ingest-time semantic decontamination: frozen eval matrix, stream-applied, batch==stream rows") {
    // The leakage guard's deployment shape: freeze the eval-set
    // matrix once (semanticProbe), score every ARRIVING embedding
    // against it before it lands in the corpus. Stateless projection,
    // so streaming rows must equal the batch operator's bit-for-bit.
    implicit val sqlCtx = spark.sqlContext
    val evalSet = Seq(100L -> Seq(1f, 0f, 0f), 101L -> Seq(0f, 1f, 0f))
      .toDF("vec_id", "embedding")
    val probe = graft.ops.Decontamination.semanticProbe(evalSet, 0.9)
    val incoming = Seq(
      10L -> Seq(0.99f, 0.14f, 0f), // near eval 100 -> contaminated
      11L -> Seq(0f, 0f, 1f),       // orthogonal -> clean
      12L -> Seq(0f, 0f, 0f))       // zero vector -> unscoreable
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = probe(mem.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("sem_decontam_stream")
      .outputMode("append").start()
    try {
      incoming.foreach { r => mem.addData(r); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("sem_decontam_stream")
      .as[(Long, Option[Long], Option[Long], Boolean)].collect().toSet
    val batch = graft.ops.Decontamination
      .flagContaminatedSemantic(incoming.toDF("vec_id", "embedding"),
        evalSet, 0.9)
      .as[(Long, Option[Long], Option[Long], Boolean)].collect().toSet
    assert(streamed == batch && streamed.size == 3)
    assert(streamed.find(_._1 == 10L).get._4 &&
      !streamed.find(_._1 == 11L).get._4 &&
      streamed.find(_._1 == 12L).get._2.isEmpty)
  }

  test("ingest-time hashed doc vectors: operator-level batch==stream parity across batch splits") {
    // hashedVectors is the text->vector bridge an ingest pipeline runs
    // per arriving doc; the operator (not just its native expression)
    // must be batch/stream identical and independent of micro-batch
    // boundaries.
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "alpha beta alpha"), (2L, "gamma"), (3L, ""),
      (4L, "中文 beta 中文"))
    def vecs(df: DataFrame) =
      graft.ops.TextAnalysis.hashedVectors(df, dim = 16)
        .select(col("doc_id"), col("vec").cast("string").as("v"))
    val mem = MemoryStream[(Long, String)]
    val q = vecs(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("hvec_stream")
      .outputMode("append").start()
    try {
      rows.foreach { r => mem.addData(r); q.processAllAvailable() } // one per micro-batch
    } finally q.stop()
    val streamed = spark.table("hvec_stream")
      .as[(Long, String)].collect().toMap
    val batch = vecs(rows.toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    assert(streamed == batch && streamed.size == 4)
  }

  test("ingest-time novelty against a batch gram-df snapshot: batch==stream rows") {
    // The deployment shape for cross-corpus novelty: last night's
    // batch builds the gram index (gramIndex -> parquet), the ingest
    // stream scores each arriving doc against the plan-shipped set
    // (noveltyAgainstIndex's native path). Stateless projection, so
    // streaming output must be byte-identical to the batch plan.
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "the quick brown fox jumps over it"),
      (2L, "all rights reserved worldwide")).toDF("doc_id", "text")
    val idx = graft.ops.TextAnalysis.gramIndex(ref, n = 2)
    def score(df: DataFrame) =
      graft.ops.TextAnalysis.noveltyAgainstIndex(df, idx, n = 2)
    val incoming = Seq((10L, "the quick brown cat naps"),
      (11L, "all rights reserved worldwide"), (12L, ""),
      (13L, "naïve café 中文 mixed content"))
    val mem = MemoryStream[(Long, String)]
    val q = score(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("novelty_stream")
      .outputMode("append").start()
    try {
      mem.addData(incoming.take(2): _*); q.processAllAvailable()
      mem.addData(incoming.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("novelty_stream").collect()
      .map(r => (r.getLong(0), r.toSeq.drop(1).toString)).toMap
    val batch = score(incoming.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.toSeq.drop(1).toString)).toMap
    assert(streamed == batch && streamed.size == 4)
    // The signal is live: an exact copy of an indexed doc scores 0,
    // fresh content scores 1.
    val nv = spark.table("novelty_stream").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(nv(11L) == 0.0 && nv(10L) > 0.0 && nv(13L) == 1.0)
  }

  test("ingest-time perplexity bucketing: frozen tile cutoffs, stream-applied, batch==stream rows") {
    // Rank tiles are corpus-relative and cannot run on a stream; the
    // deployment shape (CCNet's) freezes the reference corpus's
    // per-tile cutoffs (tileThresholds) and buckets each ARRIVING
    // score with a pure projection (applyTileThresholds). Stateless,
    // so streaming rows must equal the batch operator's bit-for-bit.
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, 9.0), (2L, 7.0), (3L, 5.0), (4L, 5.0), (5L, 1.0),
      (6L, 0.5)).toDF("doc_id", "score")
    val th = graft.ops.Ranking.tileThresholds(
      graft.ops.Ranking.rankTiles(ref, "score", 3, fanout = 4), "score")
    def bucket(df: DataFrame) =
      graft.ops.Ranking.applyTileThresholds(df, th, "score")
    val incoming = Seq((10L, 8.0), (11L, 5.0), (12L, 0.1), (13L, 100.0))
    val mem = MemoryStream[(Long, Double)]
    val q = bucket(mem.toDF().toDF("doc_id", "score"))
      .writeStream.format("memory").queryName("ppl_bucket_stream")
      .outputMode("append").start()
    try {
      mem.addData(incoming.take(2): _*); q.processAllAvailable()
      mem.addData(incoming.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ppl_bucket_stream")
      .as[(Long, Double, Int)].collect().toSet
    val batch = bucket(incoming.toDF("doc_id", "score"))
      .as[(Long, Double, Int)].collect().toSet
    assert(streamed == batch && streamed.size == 4)
    // The gate is live: top-of-head scores tile 0, below-all-cutoffs
    // scores clamp to the last tile.
    val t = streamed.map(r => r._1 -> r._3).toMap
    assert(t(13L) == 0 && t(10L) == 0 && t(12L) == 2)
  }

  test("categoryDrift: windowed TVD vs frozen baseline, planted shift alarms, batch==stream") {
    // The frozen-artifact degradation alarm: calibrated on a 50/50
    // a/b mix, the monitor scores each event-time window's total-
    // variation distance from that baseline. Window 1 matches the
    // baseline (tvd 0); window 2 drops source b and grows a novel
    // source c (tvd 0.5 — 0.25 excess a, 0.25 novel c, 0.5 missing b,
    // halved). Sorted HOF fold → doubles are deterministic, so batch
    // and stream rows compare EXACTLY.
    implicit val sqlCtx = spark.sqlContext
    val baseline = Map("a" -> 0.5, "b" -> 0.5)
    val events = Seq( // (epoch sec, source)
      (1L, "a"), (3L, "a"), (5L, "b"), (7L, "b"),     // window [0,10)
      (11L, "a"), (13L, "a"), (15L, "a"), (17L, "c")) // window [10,20)
    def drift(df: DataFrame) = graft.ops.Drift.categoryDrift(
      df, col("ts"), col("source"), "10 seconds", baseline, alertAt = 0.2)
    def withTs(df: DataFrame) =
      df.withColumn("ts", timestamp_seconds(col("sec")))
    val batch = drift(withTs(events.toDF("sec", "source")))
      .filter(col("window_start") < timestamp_seconds(lit(100L)))
      .collect().map(_.toSeq.toString).sorted.toSeq
    val mem = MemoryStream[(Long, String)]
    val q = drift(withTs(mem.toDF().toDF("sec", "source"))
        .withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    try {
      mem.addData(events: _*); q.processAllAvailable()
      mem.addData((1000L, "a")); q.processAllAvailable() // advance watermark
    } finally q.stop()
    val streamed = spark.table("drift_stream")
      .filter(col("window_start") < timestamp_seconds(lit(100L)))
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(streamed == batch && streamed.size == 2)
    // The arithmetic: w1 exact baseline → 0.0, no alarm; w2 →
    // (|0.75−0.5| + |0.25−0| + (1 − 0.5))/2 = 0.5, alarmed.
    val rows = drift(withTs(events.toDF("sec", "source"))).collect()
      .map(r => r.getAs[java.sql.Timestamp]("window_start").getTime / 1000 ->
        (r.getAs[Double]("tvd"), r.getAs[Boolean]("drifted"),
          r.getAs[Long]("n_rows"), r.getAs[Long]("n_categories"))).toMap
    assert(rows(0L) == ((0.0, false, 4L, 2L)))
    assert(rows(10L)._1 == 0.5 && rows(10L)._2 && rows(10L)._4 == 2L)
  }
}
