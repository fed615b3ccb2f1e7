package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.{Alignment, CepQuery, Metrics}
import graft.model._
import graft.streaming.{DynamicRules, StatefulCep}

/** Per-event stateful engine (transformWithState on the RocksDB state
  * store): windows emit exactly once when the watermark passes their
  * end, late events are silently dropped (the reference's observable
  * behavior), and results agree with the declarative batch plan on
  * closed windows. */
case class StatefulCepEv(ms: Long, g: String, cpu: Int)

class StatefulCepSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val t0 = 1650557501028L
  private type Ev = StatefulCepEv
  private val Ev = StatefulCepEv

  private def toMetricFrame(df: DataFrame): DataFrame =
    df.select(
      timestamp_millis(col("ms")).as("eventTime"),
      map(lit("t_group"), col("g")).as("tags"),
      map(lit("cpu_usage"), col("cpu").cast("double")).as("metrics"))

  private val demoRule = Rule(1, RuleState.Active, WindowType.Tumbling, 2, 0,
    Seq("t_group"), AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(11))

  /** The engine's one way in: the rule frame published as a snapshot by
    * DynamicRules.persist into a fresh directory, fanned out from it. */
  private def fannedOut(metrics: DataFrame, rules: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cep_rules_").toString
    DynamicRules.persist(spark, dir, 1L, rules.as[Metrics.RuleRow].collect().toSeq)
    DynamicRules.fanOut(metrics, dir)
  }

  test("stateful engine: watermark-driven exactly-once window emission + late-data drop") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val rules = Metrics.rulesToDF(spark, Seq(demoRule))
    val out = StatefulCep.run(fannedOut(toMetricFrame(mem.toDF()), rules))
    val q = out.writeStream.format("memory").queryName("stateful_cep")
      .outputMode("append").start()
    try {
      // Batch 1: six demo events inside one 2-minute window.
      mem.addData(
        Ev(t0, "business", 9), Ev(t0 + 1000, "work", 1), Ev(t0 + 2000, "business", 2),
        Ev(t0 + 3000, "work", 5), Ev(t0 + 4000, "business", 5), Ev(t0 + 5000, "work", 10))
      q.processAllAvailable()
      assert(spark.table("stateful_cep").count() == 0) // window still open

      // Batch 2: an event 10 minutes later advances the watermark past
      // the first window's end -> both groups fire exactly once.
      mem.addData(Ev(t0 + 600000, "business", 1))
      q.processAllAvailable()
      val fired = spark.table("stateful_cep")
        .select("group_id", "result").as[(String, Double)].collect().toMap
      assert(fired == Map("1_business" -> 16.0, "1_work" -> 16.0))

      // Batch 3: a LATE event for the already-fired window — silently
      // dropped, no re-emission, no new row.
      mem.addData(Ev(t0 + 6000, "business", 100))
      q.processAllAvailable()
      assert(spark.table("stateful_cep").count() == 2)
    } finally q.stop()
  }

  test("events landing only in already-open windows move no timer (TWS timer counters)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val rules = Metrics.rulesToDF(spark, Seq(demoRule))
    val out = StatefulCep.run(fannedOut(toMetricFrame(mem.toDF()), rules))
    val q = out.writeStream.format("memory").queryName("stateful_cep_timers")
      .outputMode("append").start()
    def timerCounts(afterBatch: Long): (Long, Long, Long) = {
      // Idle-trigger progress reports carry no state operator.
      val ps = q.recentProgress
        .filter(p => p.batchId > afterBatch && p.stateOperators.nonEmpty)
      def sum(k: String): Long = ps.map { p =>
        val v = p.stateOperators(0).customMetrics.get(k)
        assert(v != null, s"no $k in ${p.stateOperators(0).customMetrics}")
        v.longValue
      }.sum
      (ps.map(_.numInputRows).sum, sum("numRegisteredTimers"), sum("numDeletedTimers"))
    }
    try {
      // Batch 1 opens one 2-minute window per group: one timer each.
      mem.addData(Ev(t0, "business", 9), Ev(t0 + 1000, "work", 1),
        Ev(t0 + 2000, "business", 2), Ev(t0 + 3000, "work", 5))
      q.processAllAvailable()
      val first = q.lastProgress.batchId
      assert(timerCounts(-1L)._2 == 2L)

      // Batch 2 lands in the same open windows: the earliest end per
      // key stays where it was, so no timer is deleted or registered.
      mem.addData(Ev(t0 + 4000, "business", 5), Ev(t0 + 5000, "work", 10))
      q.processAllAvailable()
      val (rows, registered, deleted) = timerCounts(first)
      assert(rows == 2L)
      assert(registered == 0L && deleted == 0L,
        s"registered $registered, deleted $deleted timers for an unmoved window end")

      // The timers left in place still fire both windows, batch-2
      // events included.
      mem.addData(Ev(t0 + 600000, "business", 1))
      q.processAllAvailable()
      val fired = spark.table("stateful_cep_timers")
        .select("group_id", "result").as[(String, Double)].collect().toMap
      assert(fired == Map("1_business" -> 16.0, "1_work" -> 16.0))
    } finally q.stop()
  }

  test("stateful engine agrees with the declarative batch plan on closed windows") {
    parityCheck(demoRule.copy(limitOperatorType = CmpOp.Gt, limit = BigDecimal(-1)),
      "stateful_parity", StatefulCep.run(_))
  }

  test("stateful engine sliding-window parity with the batch plan") {
    parityCheck(
      Rule(2, RuleState.Active, WindowType.Sliding, 2, 1, Seq("t_group"),
        AggType.Max, "cpu_usage", CmpOp.Gt, BigDecimal(-1)),
      "stateful_parity_sliding", StatefulCep.run(_))
  }

  test("colliding tag tuples are one group in both engines") {
    // The tag tuples ("a_b","c") and ("a","b_c") both join to the
    // group id 1_a_b_c. The reference keys its windows on that id
    // (PartitionEngine.java:72-81), so both engines emit ONE window
    // holding both events.
    val rule = Rule(1, RuleState.Active, WindowType.Tumbling, 2, 0, Seq("k1", "k2"),
      AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(-1))
    val out = parityCheck(rule, "stateful_parity_collide", StatefulCep.run(_),
      Seq(Ev(t0, "a_b|c", 1), Ev(t0 + 1000, "a|b_c", 2)), Ev(t0 + 3600000, "x|y", 0),
      twoKeyFrame)
    assert(out.map(r => (r._1, r._3)) == Set(("1_a_b_c", 3.0)))
  }

  test("stateful Scala fold matches the batch plan for every AggType x CmpOp (limits below, at, above)") {
    import graft.cep.Metrics.RuleRow
    import graft.streaming.StatefulCep.CepEvent
    // Three 10-minute windows (two groups, two windows of "a"), each
    // holding the values {3, 12, -4} in a different order, so every
    // window's SUM/AVG/MIN/MAX result is the same and each rule's limit
    // sits below, at or above every window's result. AVG = 11/3 is not
    // a finite binary fraction: "at" needs both sides to divide alike.
    val w = 600000L
    val ws0 = Math.floorDiv(t0, w) * w
    val events = Seq(
      Ev(ws0 + 1000, "a", 3), Ev(ws0 + 2000, "a", 12), Ev(ws0 + 3000, "a", -4),
      Ev(ws0 + 1500, "b", -4), Ev(ws0 + 2500, "b", 3), Ev(ws0 + 3500, "b", 12),
      Ev(ws0 + w + 10, "a", 12), Ev(ws0 + w + 20, "a", -4), Ev(ws0 + w + 30, "a", 3))
    val results = Map[AggType, Double](AggType.Sum -> 11.0,
      AggType.Avg -> BigDecimal(11).toDouble / 3, AggType.Min -> -4.0, AggType.Max -> 12.0)
    val offsets = Seq(-1.0, 0.0, 1.0) // limit below, at, above the result
    val rules = for {
      (agg, ai) <- AggType.all.zipWithIndex
      (op, oi) <- CmpOp.all.zipWithIndex
      (off, li) <- offsets.zipWithIndex
    } yield RuleRow(1 + ai * 18 + oi * 3 + li, RuleState.Active.name,
      WindowType.Tumbling.name, 10, 0, Seq("t_group"), agg.name, "cpu_usage",
      op.symbol, results(agg) + off)
    assert(rules.size == 72)
    val metrics = toMetricFrame(events.toDF())
    val ruleFrame = rules.toDF()

    val batch = CepQuery.planAll(metrics, ruleFrame)
      .select(col("rule_id"), col("group_id"), unix_millis(col("window_start")),
        col("result"))
      .as[(Int, String, Long, Double)].collect().toSet
    val closed = fannedOut(metrics, ruleFrame).as[CepEvent].collect()
      .groupBy(e => (e.rule_id, e.group_id)).toSeq.flatMap { case (key, evs) =>
        val st = StatefulCep.foldEvents(null, evs.sortBy(_.ev_ms).iterator, Long.MinValue)
        StatefulCep.fireReady(key, st, Long.MaxValue)._1
      }
    // The processor fires every closed window unjudged; the threshold
    // is run's shared CepQuery.judgeWindows, downstream.
    assert(closed.size == rules.size * 3)
    val folded = StatefulCep.judged(closed.toDF())
      .select(col("rule_id"), col("group_id"), col("window_start"), col("result"))
      .as[(Int, String, Long, Double)].collect().toSet
    assert(folded == batch)

    // Each rule emits all three windows or none, as its comparator says.
    val windows = Set(("a", ws0), ("b", ws0), ("a", ws0 + w))
    val passes: Map[CmpOp, Double => Boolean] = Map(
      CmpOp.Gt -> (_ < 0), CmpOp.Lt -> (_ > 0), CmpOp.Ge -> (_ <= 0),
      CmpOp.Le -> (_ >= 0), CmpOp.Eq -> (_ == 0), CmpOp.Ne -> (_ != 0))
    rules.foreach { r =>
      val emitted = batch.collect { case (r.rule_id, g, ws, res) =>
        assert(res == results(AggType.parse(r.agg_type)), s"rule ${r.rule_id} result")
        (g.stripPrefix(s"${r.rule_id}_"), ws)
      }
      val off = r.limit - results(AggType.parse(r.agg_type))
      val expected = if (passes(CmpOp.parse(r.cmp_op))(off)) windows else Set.empty
      assert(emitted == expected, s"rule ${r.rule_id} ${r.agg_type} ${r.cmp_op} offset $off")
    }
  }

  test("transformWithState exposes no TTL knob: Spark rejects TTL state in event-time mode") {
    // Documents WHY StatefulCep.run has no TTL parameter: Spark's state
    // TTL is processing-time based and throws
    // STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL under
    // TimeMode.EventTime — the mode the engine's event-time timers
    // require. Pin the platform behavior so a future Spark that lifts
    // the restriction shows up as a failing expectation here.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val probe = new org.apache.spark.sql.streaming.StatefulProcessor[
        Int, StatefulCepEv, Int] {
      @transient private var s: org.apache.spark.sql.streaming.ValueState[Int] = _
      override def init(om: org.apache.spark.sql.streaming.OutputMode,
          tm: org.apache.spark.sql.streaming.TimeMode): Unit =
        s = getHandle.getValueState[Int]("probe",
          org.apache.spark.sql.Encoders.scalaInt,
          org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMinutes(1)))
      override def handleInputRows(key: Int, rows: Iterator[StatefulCepEv],
          tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Int] =
        Iterator.empty
    }
    val q = mem.toDF().withColumn("eventTime", timestamp_millis(col("ms")))
      .withWatermark("eventTime", "0 seconds")
      .as[Ev]
      .groupByKey(_ => 1)
      .transformWithState(probe,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .writeStream.format("memory").queryName("tws_ttl_probe")
      .outputMode("append").start()
    try {
      mem.addData(Ev(t0, "business", 1))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("INCORRECT_TIME_MODE_TO_ASSIGN_TTL"))
    } finally q.stop()
  }

  test("LLM text ops run unchanged on a stream (pure projections, batch/stream parity)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docsStream = mem.toDF().toDF("doc_id", "text")
    val q = graft.ops.TextAnalysis.qualityScore(docsStream)
      .writeStream.format("memory").queryName("stream_text")
      .outputMode("append").start()
    try {
      mem.addData((1L, "the quick brown fox and the lazy dog"),
        (2L, "der schnelle braune fuchs und der faule hund"))
      q.processAllAvailable()
      val batch = graft.ops.TextAnalysis.qualityScore(
        Seq((1L, "the quick brown fox and the lazy dog"),
          (2L, "der schnelle braune fuchs und der faule hund")).toDF("doc_id", "text"))
      assert(spark.table("stream_text").collect().toSet == batch.collect().toSet)
    } finally q.stop()
  }

  test("quality filter runs at ingest (zero-shuffle projection, batch/stream parity)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, Seq.tabulate(30)(i => "w" + i).mkString(" ")), // keep
      (2L, "too short"),                                  // fails minTokens
      (3L, ("spam " * 40).trim))                          // fails repetition cap
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis.qualityFilter(
        mem.toDF().toDF("doc_id", "text"), minTokens = 25)
      .writeStream.format("memory").queryName("stream_quality")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val batch = graft.ops.TextAnalysis.qualityFilter(
        rows.toDF("doc_id", "text"), minTokens = 25)
      assert(spark.table("stream_quality").collect().toSet ==
        batch.collect().toSet)
      assert(spark.table("stream_quality")
        .where("keep").select("doc_id").as[Long].collect().toSet == Set(1L))
    } finally q.stop()
  }

  test("repetition stats run at ingest (zero-shuffle projection, batch/stream parity)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "solo"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.ops.TextAnalysis.repetitionStats(
        mem.toDF().toDF("doc_id", "text"), 2)
      .writeStream.format("memory").queryName("stream_repetition")
      .outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val stream = spark.table("stream_repetition").collect().toSet
      val batch = graft.ops.TextAnalysis.repetitionStats(
        rows.toDF("doc_id", "text"), 2).collect().toSet
      assert(stream == batch)
      assert(stream.size == 2) // "solo" has no bigrams, filtered in both
    } finally q.stop()
  }

  test("decontamination runs at ingest (stream-static gram join, batch/stream parity)") {
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val rows = Seq(
      (1L, "prefix alpha beta gamma delta epsilon suffix"), // shares 5-grams
      (2L, "entirely unrelated words in this document here"))
    val mem = MemoryStream[(Long, String)]
    // The BATCH operator applied unchanged to a streaming frame:
    // explode + broadcast stream-static join + per-doc count
    // (update mode — counts grow as grams arrive).
    val q = graft.ops.Decontamination.flagContaminated(
        mem.toDF().toDF("doc_id", "text"), evalDocs, n = 5)
      .writeStream.format("memory").queryName("stream_decontam")
      .outputMode("update").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val stream = spark.table("stream_decontam")
        .as[(Long, Long)].collect().toMap
      val batch = graft.ops.Decontamination.flagContaminated(
          rows.toDF("doc_id", "text"), evalDocs, n = 5)
        .as[(Long, Long)].collect().toMap
      assert(stream == batch)
      // doc 1 shares exactly the one full 5-gram window
      // "alpha beta gamma delta epsilon" with the eval doc.
      assert(stream.keySet == Set(1L) && stream(1L) == 1L)
    } finally q.stop()
  }

  test("streaming exact dedup: first occurrence kept, in-horizon duplicates dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val docs = mem.toDF().toDF("ms", "doc_id", "text")
      .withColumn("eventTime", timestamp_millis(col("ms")))
    val q = graft.ops.Dedup.exactStreaming(docs, "10 minutes")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      // doc 2 is a whitespace/case duplicate of doc 1 (same normalized
      // fingerprint); doc 3 is distinct content.
      mem.addData((t0, 1L, "Hello  World"), (t0 + 1000, 2L, "hello world"),
        (t0 + 2000, 3L, "other text"))
      q.processAllAvailable()
      val kept = spark.table("stream_dedup")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L))
      // A later duplicate still inside the horizon is dropped too.
      mem.addData((t0 + 5000, 4L, "HELLO world"))
      q.processAllAvailable()
      assert(spark.table("stream_dedup").count() == 2)
    } finally q.stop()
  }

  test("first-event-aligned stateful engine matches planRule(FirstEvent) (tumbling + sliding)") {
    implicit val sqlCtx = spark.sqlContext
    val tumb = demoRule.copy(limitOperatorType = CmpOp.Gt, limit = BigDecimal(-1))
    val slid = Rule(2, RuleState.Active, WindowType.Sliding, 2, 1, Seq("t_group"),
      AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(-1))
    for ((rule, shape) <- Seq(tumb -> "tumb", slid -> "slid")) {
      val table = s"fa_$shape"
      val mem = MemoryStream[Ev]
      val events = Seq(
        Ev(t0, "a", 3), Ev(t0 + 30000, "a", 12), Ev(t0 + 50000, "b", 20),
        Ev(t0 + 130000, "a", 7), Ev(t0 + 140000, "b", 5))
      val rules = Metrics.rulesToDF(spark, Seq(rule))
      val out = StatefulCep.run(
        fannedOut(toMetricFrame(mem.toDF()), rules), Alignment.FirstEvent)
      val q = out.writeStream.format("memory").queryName(table)
        .outputMode("append").start()
      try {
        mem.addData(events: _*)
        q.processAllAvailable()
        mem.addData(Ev(t0 + 3600000, "a", 0)) // advance watermark far ahead
        q.processAllAvailable()
        val streamed = spark.table(table)
          .select("group_id", "window_start", "result")
          .as[(String, Long, Double)].collect().toSet
        val batch = CepQuery.planRule(
          toMetricFrame(events.toDF()), rule, Alignment.FirstEvent)
          .select(concat(lit(s"${rule.ruleId}_"), col("t_group")),
            unix_millis(col("window_start")), col("result"))
          .as[(String, Long, Double)].collect().toSet
        assert(streamed == batch, s"$table drifted from the batch plan")
      } finally q.stop()
    }
  }

  test("FirstEvent alignment: an out-of-order earlier event lands on the same grid, extended backward") {
    import graft.streaming.StatefulCep.CepEvent
    def e(ms: Long) = CepEvent(1, "g", new java.sql.Timestamp(ms), ms, 1.0,
      "sliding", 240000L, 120000L, "SUM", ">", -1.0)
    // First processed event t=500000, w=4min, s=2min → grid anchor
    // t0 − w = 260000; covering starts {380000, 500000} (the
    // assigner's initial window [260000, 500000) half-open-excludes
    // its own first event).
    val st1 = StatefulCep.foldEvents(null, Iterator(e(500000L)), 0L,
      Alignment.FirstEvent)
    assert(st1.anchor == 260000L)
    assert(st1.windows.map(_.ws_ms).sorted == List(380000L, 500000L))
    // An event EARLIER than the anchor extends the same grid backward
    // (starts stay ≡ anchor mod s): covering starts for t=100000 are
    // {−100000, 20000}, both half-open-containing the event.
    val st2 = StatefulCep.foldEvents(st1, Iterator(e(100000L)), 0L,
      Alignment.FirstEvent)
    val backStarts = st2.windows.map(_.ws_ms).filter(_ <= 100000L).sorted
    assert(backStarts == List(-100000L, 20000L))
    assert(backStarts.forall(ws => math.floorMod(ws - st2.anchor, 120000L) == 0))
    assert(backStarts.forall(ws => ws <= 100000L && 100000L < ws + 240000L))
  }

  test("FirstEvent alignment: a new key's grid does not depend on the row order of its first batch") {
    import graft.streaming.StatefulCep.CepEvent
    // The earliest event is neither first nor last in the frame, and no
    // other event lies on its grid: anchoring on whichever row comes
    // first after the shuffle would shift every window.
    val events = Seq(Ev(t0 + 130000, "a", 7), Ev(t0, "a", 3), Ev(t0 + 50000, "a", 12))
    val slid = Rule(2, RuleState.Active, WindowType.Sliding, 2, 1, Seq("t_group"),
      AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(-1))
    for ((rule, anchor) <- Seq(
        demoRule.copy(limit = BigDecimal(-1)) -> t0, slid -> (t0 - 120000L))) {
      val metrics = toMetricFrame(events.toDF())
      val batch = CepQuery.planRule(metrics, rule, Alignment.FirstEvent)
        .select(unix_millis(col("window_start")), col("result"))
        .as[(Long, Double)].collect().toSet
      val fanned = fannedOut(metrics, Metrics.rulesToDF(spark, Seq(rule)))
        .as[CepEvent].collect()
      assert(fanned.length == 3 && batch.nonEmpty)
      fanned.permutations.foreach { order =>
        val st = StatefulCep.foldEvents(null, order.iterator, Long.MinValue,
          Alignment.FirstEvent)
        val fired = StatefulCep.judged(
            StatefulCep.fireReady((rule.ruleId, "a"), st, Long.MaxValue)._1.toDF())
          .select(col("window_start"), col("result"))
          .as[(Long, Double)].collect().toSet
        val seen = order.map(_.ev_ms - t0).mkString(",")
        assert(st.anchor == anchor, s"${rule.windowType.name} anchor, order $seen")
        assert(fired == batch, s"${rule.windowType.name} windows, order $seen")
      }
    }
  }

  test("global rules: append engines never emit (documented routing), declarative path serves them") {
    // The documented mode contract (CepRunner Scaladoc): global
    // (All-window) rules must route to the declarative update-mode
    // path; the append-mode stateful engine never fires them, matching
    // the reference's observable global-trigger behavior.
    implicit val sqlCtx = spark.sqlContext
    val globalRule = Rule(9, RuleState.Active, WindowType.Global, 0, 0,
      Seq("t_group"), AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(-1))
    val rules = Metrics.rulesToDF(spark, Seq(globalRule))
    val mem = MemoryStream[Ev]
    val out = StatefulCep.run(fannedOut(toMetricFrame(mem.toDF()), rules))
    val q = out.writeStream.format("memory").queryName("stateful_global")
      .outputMode("append").start()
    try {
      mem.addData(Ev(t0, "a", 3), Ev(t0 + 30000, "a", 12), Ev(t0 + 50000, "b", 20))
      q.processAllAvailable()
      mem.addData(Ev(t0 + 3600000, "a", 1)) // watermark far ahead: still nothing
      q.processAllAvailable()
      assert(spark.table("stateful_global").count() == 0)
    } finally q.stop()
    // Same rule, declarative path: every group fires with the running
    // aggregate — the output a deployed global rule actually wants.
    val events = Seq(Ev(t0, "a", 3), Ev(t0 + 30000, "a", 12),
      Ev(t0 + 50000, "b", 20), Ev(t0 + 3600000, "a", 1))
    val batch = CepQuery.planAll(toMetricFrame(events.toDF()), rules)
      .select(col("group_id"), col("result"))
      .as[(String, Double)].collect().toMap
    assert(batch == Map("9_a" -> 16.0, "9_b" -> 20.0))
  }

  /** `g` as two tags, `k1|k2`. */
  private def twoKeyFrame(df: DataFrame): DataFrame = {
    val g = split(col("g"), "\\|")
    df.select(
      timestamp_millis(col("ms")).as("eventTime"),
      map(lit("k1"), g(0), lit("k2"), g(1)).as("tags"),
      map(lit("cpu_usage"), col("cpu").cast("double")).as("metrics"))
  }

  /** Streams `events`, then `advance` to push the watermark far ahead,
    * through `run`, and requires the closed windows to equal planAll's
    * over `events`; returns them as (group_id, window_start, result). */
  private def parityCheck(rule: Rule, table: String,
      run: DataFrame => org.apache.spark.sql.Dataset[StatefulCep.CepResult],
      events: Seq[Ev] = Seq(
        Ev(t0, "a", 3), Ev(t0 + 30000, "a", 12), Ev(t0 + 50000, "b", 20),
        Ev(t0 + 130000, "a", 7), Ev(t0 + 140000, "b", 5)),
      advance: Ev = Ev(t0 + 3600000, "a", 0),
      frame: DataFrame => DataFrame = toMetricFrame): Set[(String, Long, Double)] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val rules = Metrics.rulesToDF(spark, Seq(rule))
    val out = run(fannedOut(frame(mem.toDF()), rules))
    val q = out.writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      mem.addData(advance)
      q.processAllAvailable()
      val streamed = spark.table(table)
        .select("group_id", "window_start", "result")
        .as[(String, Long, Double)].collect().toSet
      val batch = CepQuery.planAll(frame(events.toDF()), rules)
        .select(col("group_id"), unix_millis(col("window_start")), col("result"))
        .as[(String, Long, Double)].collect().toSet
      assert(streamed == batch)
      streamed
    } finally q.stop()
  }
}
