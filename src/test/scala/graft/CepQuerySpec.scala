package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.{Alignment, CepQuery, Metrics}
import graft.model._
import graft.streaming.DynamicRules

/** Engine semantics against the reference's own fixtures:
  * the resources/rules + resources/metrics demo (SURVEY §7.2) and the
  * WindowTest vectors (FIXTURES §A3). */
class CepQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** (epochMillis, group, cpu) → engine metric frame. */
  private def metricFrame(rows: Seq[(Long, String, Int)]): DataFrame =
    rows.toDF("ms", "g", "cpu").select(
      timestamp_millis(col("ms")).as("eventTime"),
      map(lit("t_group"), col("g")).as("tags"),
      map(lit("cpu_usage"), col("cpu").cast("double")).as("metrics"))

  // Reference demo fixture (resources/metrics:1-6, resources/rules:1):
  // SUM(cpu_usage) per t_group over 2-minute tumbling windows, emit > 11.
  private val t0 = 1650557501028L
  private val demoEvents = Seq(
    (t0, "business", 9), (t0 + 1000, "work", 1), (t0 + 2000, "business", 2),
    (t0 + 3000, "work", 5), (t0 + 4000, "business", 5), (t0 + 5000, "work", 10))
  private val demoRule = Rule(1, RuleState.Active, WindowType.Tumbling, 2, 0,
    Seq("t_group"), AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(11))

  test("reference demo: SUM per group over 2-min tumbling window, both groups emit 16") {
    val out = CepQuery.planRule(metricFrame(demoEvents), demoRule)
      .select("t_group", "result").as[(String, Double)].collect().toMap
    assert(out == Map("business" -> 16.0, "work" -> 16.0))
  }

  test("threshold filters: > 16 emits nothing, >= 16 emits both") {
    val none = CepQuery.planRule(metricFrame(demoEvents),
      demoRule.copy(limit = BigDecimal(16)))
    assert(none.count() == 0)
    val both = CepQuery.planRule(metricFrame(demoEvents),
      demoRule.copy(limitOperatorType = CmpOp.Ge, limit = BigDecimal(16)))
    assert(both.count() == 2)
  }

  test("keyless rule through planAll: sentinel pivot matches every metric, one global group") {
    // A rule with NO grouping keys has a vacuously-true key-subset
    // predicate (reference isHit over an empty key list): it must
    // match every metric (the matcher keeps keyless rules as
    // candidates of every metric) and aggregate them as one group
    // whose group_id is just the rule id. Also exercises a
    // mixed book — the keyed rule must be unaffected.
    val keyless = demoRule.copy(ruleId = 7,
      groupingKeyNames = Seq.empty, limit = BigDecimal(0))
    val out = CepQuery.planAll(metricFrame(demoEvents),
        Metrics.rulesToDF(spark, Seq(demoRule, keyless)))
      .select("rule_id", "group_id", "result")
      .as[(Int, String, Double)].collect().toSet
    assert(out == Set(
      (1, "1_business", 16.0), (1, "1_work", 16.0), (7, "7", 32.0)))
  }

  test("rarest-key pivot: heterogeneous rule books still produce each match exactly once") {
    // Two rules on different single keys + one on both: whatever pivot
    // each rule gets, a metric carrying both tags must fan out to all
    // three rules exactly once.
    val byGroup = demoRule.copy(limit = BigDecimal(-1))
    val byType = demoRule.copy(ruleId = 2, groupingKeyNames = Seq("t_type"),
      limit = BigDecimal(-1))
    val byBoth = demoRule.copy(ruleId = 3,
      groupingKeyNames = Seq("t_group", "t_type"), limit = BigDecimal(-1))
    val frame = Seq((t0, "business", "web", 5), (t0 + 1000, "business", "web", 3))
      .toDF("ms", "g", "ty", "cpu").select(
        timestamp_millis(col("ms")).as("eventTime"),
        map(lit("t_group"), col("g"), lit("t_type"), col("ty")).as("tags"),
        map(lit("cpu_usage"), col("cpu").cast("double")).as("metrics"))
    val out = CepQuery.planAll(frame,
        Metrics.rulesToDF(spark, Seq(byGroup, byType, byBoth)))
      .select("rule_id", "group_id", "result")
      .as[(Int, String, Double)].collect().toSet
    assert(out == Set(
      (1, "1_business", 8.0), (2, "2_web", 8.0), (3, "3_business_web", 8.0)))
  }

  test("window membership is half-open [begin, end): boundary event starts a new window") {
    // Window containing t0 is [1650557400000, 1650557520000); an event at
    // exactly the end boundary must land in the NEXT window (Window.java:66-68).
    val boundary = 1650557520000L
    val out = CepQuery.planRule(
      metricFrame(Seq((boundary - 1, "g", 1), (boundary, "g", 2))),
      demoRule.copy(limitOperatorType = CmpOp.Gt, limit = BigDecimal(0)))
    val byStart = out
      .select(unix_millis(col("window_start")), col("result"))
      .as[(Long, Double)].collect().toMap
    assert(byStart == Map((boundary - 120000L) -> 1.0, boundary -> 2.0))
  }

  test("first-event-aligned tumbling matches TumblingWindowAssignerTest vectors: [1, 240001) then [240001, 480001)") {
    // Reference vectors (TumblingWindowAssignerTest.java:17-59): 4-min
    // window, first event at t=1 → window [1, 240001); event at
    // t=240001 opens [240001, 480001).
    val frame = metricFrame(Seq((1L, "g", 5), (2L, "g", 7), (240001L, "g", 3)))
    val r = Rule(1, RuleState.Active, WindowType.Tumbling, 4, 0,
      Seq("t_group"), AggType.Sum, "cpu_usage", CmpOp.Ge, BigDecimal(0))
    val out = CepQuery.planRule(frame, r, Alignment.FirstEvent)
      .select(unix_millis(col("window_start")), unix_millis(col("window_end")),
        col("result"))
      .as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 240001L, 12.0), (240001L, 480001L, 3.0)))
  }

  test("first-event-aligned sliding: grid anchors at t0 - w (SlidingWindowAssigner semantics)") {
    // w=4min, s=2min, first event at t=1 → grid −239999 + k·120000.
    // The assigner's initial window [−239999, 1) half-open-EXCLUDES the
    // first event; coverage per event derived by hand:
    //   ev 1      → starts {−119999, 1}
    //   ev 120001 → starts {1, 120001}
    //   ev 240001 → starts {120001, 240001}
    val frame = metricFrame(Seq((1L, "g", 5), (120001L, "g", 7), (240001L, "g", 3)))
    val r = Rule(1, RuleState.Active, WindowType.Sliding, 4, 2,
      Seq("t_group"), AggType.Sum, "cpu_usage", CmpOp.Ge, BigDecimal(0))
    val out = CepQuery.planRule(frame, r, Alignment.FirstEvent)
      .select(unix_millis(col("window_start")), unix_millis(col("window_end")),
        col("result"))
      .as[(Long, Long, Double)].collect().toSet
    assert(out == Set(
      (-119999L, 120001L, 5.0),
      (1L, 240001L, 12.0),
      (120001L, 360001L, 10.0),
      (240001L, 480001L, 3.0)))
  }

  test("WindowTest vectors: SUM(5,7)=12 and AVG(5,7)=6 (global window)") {
    val frame = metricFrame(Seq((1L, "g", 5), (5L, "g", 7)))
    val sumR = CepQuery.planRule(frame,
      Rule(1, RuleState.Active, WindowType.Global, 0, 0, Seq("t_group"),
        AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(0)))
      .select("result").as[Double].head()
    assert(sumR == 12.0)
    val avgR = CepQuery.planRule(frame,
      Rule(1, RuleState.Active, WindowType.Global, 0, 0, Seq("t_group"),
        AggType.Avg, "cpu_usage", CmpOp.Gt, BigDecimal(0)))
      .select("result").as[Double].head()
    assert(avgR == 6.0)
  }

  test("MIN/MAX handle all-negative windows correctly (intended semantics, not the reference's MAX-identity-0 bug)") {
    val frame = metricFrame(Seq((1L, "g", -5), (5L, "g", -7)))
    def agg(a: AggType): Double = CepQuery.planRule(frame,
      Rule(1, RuleState.Active, WindowType.Global, 0, 0, Seq("t_group"),
        a, "cpu_usage", CmpOp.Lt, BigDecimal(0))).select("result").as[Double].head()
    assert(agg(AggType.Max) == -5.0) // reference bug would return 0
    assert(agg(AggType.Min) == -7.0)
  }

  test("PAUSE and DELETE rules match nothing; sliding fan-out covers W/S windows") {
    val frame = metricFrame(demoEvents)
    val paused = CepQuery.planRule(frame, demoRule.copy(ruleState = RuleState.Pause))
    assert(paused.count() == 0)

    val sliding = CepQuery.planRule(frame,
      demoRule.copy(windowType = WindowType.Sliding, windowMinutes = 4,
        windowSlideMinute = 1, limitOperatorType = CmpOp.Gt, limit = BigDecimal(0)))
    // Each event covers 4 windows; all 6 events share the same 1-min slide
    // bucket, so the group sees exactly 4 distinct windows.
    assert(sliding.select("window_start").distinct().count() == 4)
  }

  test("non-divisible sliding (w % s != 0): planAll arithmetic == planRule's built-in window(w,s)") {
    // 3-min window, 2-min slide: events alternate between 1 and 2
    // covering windows; the two independent spellings must agree row
    // for row (Spark's window() is the semantic authority here).
    val frame = metricFrame(demoEvents)
    val r = demoRule.copy(windowType = WindowType.Sliding, windowMinutes = 3,
      windowSlideMinute = 2, limitOperatorType = CmpOp.Gt, limit = BigDecimal(0))
    def rows(df: DataFrame) = df
      .select(unix_millis(col("window_start")), unix_millis(col("window_end")),
        col("result"))
      .as[(Long, Long, Double)].collect().toSet
    val fromBuiltin = rows(CepQuery.planRule(frame, r))
    val fromArith = rows(CepQuery.planAll(frame, Metrics.rulesToDF(spark, Seq(r))))
    assert(fromBuiltin.nonEmpty && fromArith == fromBuiltin)
  }

  test("planAll: a rule with zero width or zero slide yields no windows, in both alignments") {
    // Rule frames built directly skip Parsers.parseRules' positivity
    // filter; such a rule must emit nothing (as in the stateful engine),
    // not a null-window row, and must not disturb the other rules.
    val rules = Metrics.rulesToDF(spark, Seq(
      demoRule,
      demoRule.copy(ruleId = 2, windowMinutes = 0),
      demoRule.copy(ruleId = 3, windowType = WindowType.Sliding, windowSlideMinute = 0)))
    for (align <- Seq(Alignment.Epoch, Alignment.FirstEvent)) {
      val out = CepQuery.planAll(metricFrame(demoEvents), rules, align)
        .select("rule_id", "group_id", "result")
        .as[(Int, String, Double)].collect().toSet
      assert(out == Set((1, "1_business", 16.0), (1, "1_work", 16.0)), s"$align")
    }
  }

  test("planAll one-pass == per-rule plans, PAUSE rule contributes nothing") {
    val frame = metricFrame(demoEvents)
    val rules = Seq(
      demoRule,
      demoRule.copy(ruleId = 2, aggregatorFunctionType = AggType.Avg,
        limitOperatorType = CmpOp.Gt, limit = BigDecimal(0)),
      demoRule.copy(ruleId = 3, ruleState = RuleState.Pause))
    val out = CepQuery.planAll(frame, Metrics.rulesToDF(spark, rules))
      .select("rule_id", "group_id", "result")
      .as[(Int, String, Double)].collect().toSet
    assert(out == Set(
      (1, "1_business", 16.0), (1, "1_work", 16.0),
      (2, "2_business", 16.0 / 3), (2, "2_work", 16.0 / 3)))
  }

  test("planAll(FirstEvent) == per-rule planRule(FirstEvent) (+ global passthrough)") {
    // The earliest "business" metric lacks the measure: it is no event
    // of these rules, so it anchors no grid in either plan.
    val noMeasure = Seq((t0 - 50000L, "business")).toDF("ms", "g").select(
      timestamp_millis(col("ms")).as("eventTime"),
      map(lit("t_group"), col("g")).as("tags"),
      map(lit("mem_usage"), lit(1.0)).as("metrics"))
    val frame = metricFrame(demoEvents).unionByName(noMeasure)
    val tumb = demoRule.copy(ruleId = 1, limitOperatorType = CmpOp.Gt, limit = BigDecimal(-99))
    val slid = Rule(2, RuleState.Active, WindowType.Sliding, 3, 2, Seq("t_group"),
      AggType.Avg, "cpu_usage", CmpOp.Gt, BigDecimal(-99))
    val glob = Rule(3, RuleState.Active, WindowType.Global, 0, 0, Seq("t_group"),
      AggType.Max, "cpu_usage", CmpOp.Gt, BigDecimal(-99))
    val fromAll = CepQuery.planAll(frame,
      Metrics.rulesToDF(spark, Seq(tumb, slid, glob)), Alignment.FirstEvent)
      .select(col("rule_id"), col("group_id"),
        unix_millis(col("window_start")), col("result"))
      .as[(Int, String, Option[Long], Double)].collect().toSet
    val fromSingles = (Seq(tumb, slid).flatMap { r =>
      CepQuery.planRule(frame, r, Alignment.FirstEvent)
        .select(col("t_group"), unix_millis(col("window_start")), col("result"))
        .as[(String, Option[Long], Double)].collect()
        .map { case (g, ws, res) => (r.ruleId, s"${r.ruleId}_$g", ws, res) }
    } ++ CepQuery.planRule(frame, glob, Alignment.FirstEvent)
      .select(col("t_group"), col("result")).as[(String, Double)].collect()
      .map { case (g, res) => (glob.ruleId, s"${glob.ruleId}_$g", None, res) }).toSet
    assert(fromAll.nonEmpty && fromAll == fromSingles)
    assert(fromAll.collect { case (1, "1_business", Some(ws), _) => ws } == Set(t0))
  }

  test("randomized battery: planAll one-pass == per-rule planRule across the rule space") {
    // The two compilation modes are independent implementations
    // (built-in window() vs native arithmetic; per-rule static filters
    // vs broadcast fan-out + CASE dispatch). A seeded battery across
    // {tumbling, sliding (divisible + not), global} × {SUM,AVG,MIN,MAX}
    // × all six comparators must agree row for row.
    val rnd = new scala.util.Random(7)
    val frame = metricFrame((1 to 60).map { _ =>
      (t0 + rnd.nextInt(600000).toLong,
        if (rnd.nextBoolean()) "a" else "b", rnd.nextInt(100) - 20)
    })
    val wts = Seq(WindowType.Tumbling, WindowType.Sliding, WindowType.Global)
    val aggs = Seq(AggType.Sum, AggType.Avg, AggType.Min, AggType.Max)
    val ops = Seq(CmpOp.Gt, CmpOp.Lt, CmpOp.Ge, CmpOp.Le, CmpOp.Eq, CmpOp.Ne)
    val rules = (1 to 12).map { id =>
      val wt = wts(rnd.nextInt(wts.size))
      val w = 1 + rnd.nextInt(10)
      val s = if (wt == WindowType.Sliding) 1 + rnd.nextInt(w) else 0
      Rule(id, RuleState.Active, wt, if (wt == WindowType.Global) 0 else w, s,
        Seq("t_group"), aggs(rnd.nextInt(aggs.size)), "cpu_usage",
        ops(rnd.nextInt(ops.size)), BigDecimal(rnd.nextInt(60) - 10))
    }
    val fromAll = CepQuery.planAll(frame, Metrics.rulesToDF(spark, rules))
      .select(col("rule_id"), col("group_id"),
        unix_millis(col("window_start")), col("result"))
      .as[(Int, String, Option[Long], Double)].collect().toSet
    val fromSingles = rules.flatMap { r =>
      val single = CepQuery.planRule(frame, r)
      val rows = r.windowType match {
        case WindowType.Global =>
          single.select(col("t_group"), lit(null).cast("long"), col("result"))
        case _ =>
          single.select(col("t_group"), unix_millis(col("window_start")), col("result"))
      }
      rows.as[(String, Option[Long], Double)].collect()
        .map { case (g, ws, res) => (r.ruleId, s"${r.ruleId}_$g", ws, res) }
    }.toSet
    assert(fromAll.nonEmpty && fromAll == fromSingles)
  }

  test("randomized fan-out: matcher == brute-force subset predicate") {
    // The rarest-key index must be invisible: for ANY tag map and ANY
    // rule key set, a (metric, rule) pair comes out of the one matcher
    // (planAll's and DynamicRules.fanOut's) iff the rule is ACTIVE and
    // its keys are a subset of the metric's tags, and never twice.
    // Seeded random books exercise keyless rules, paused rules,
    // shared/unshared index keys, and metrics missing them entirely.
    val rnd = new scala.util.Random(11)
    val keyPool = (0 until 6).map(i => s"k$i")
    val metrics = (1 to 40).map { id =>
      val keys = rnd.shuffle(keyPool).take(1 + rnd.nextInt(4))
      (id.toLong, keys.map(k => k -> s"v${rnd.nextInt(3)}").toMap)
    }
    val rules = (1 to 12).map { id =>
      Rule(id, if (rnd.nextInt(4) == 0) RuleState.Pause else RuleState.Active,
        WindowType.Tumbling, 2, 0,
        rnd.shuffle(keyPool).take(rnd.nextInt(4)), // size 0..3, incl. keyless
        AggType.Sum, "cpu_usage", CmpOp.Gt, BigDecimal(0))
    }
    val expected = (for {
      (mid, tags) <- metrics
      r <- rules
      if r.ruleState == RuleState.Active && r.groupingKeyNames.forall(tags.contains)
    } yield (mid, r.ruleId)).toSet
    // A metric's id rides as its event time offset.
    val metricDF = metrics.toDF("mid", "kv").select(
      timestamp_millis(lit(t0) + col("mid")).as("eventTime"),
      col("kv").as("tags"),
      map(lit("cpu_usage"), lit(1.0)).as("metrics"))
    // The book as a local relation, and as a frame whose collect runs
    // Spark jobs (the rule book read must not depend on its storage),
    // each with and without its PAUSE rows (the matcher drops them).
    val book = Metrics.rulesToDF(spark, rules)
    val rows = Seq(book, book.repartition(3)).flatMap(f =>
      Seq(CepQuery.activeBook(f), f.as[Metrics.RuleRow].collect().toSeq))
    for (r <- rows) {
      val matcher = new DynamicRules.Matcher(r)
      val got = DynamicRules.matched(metricDF)(() => matcher)
        .select(col("ev_ms") - t0, col("rule_id")).as[(Long, Int)].collect()
      assert(got.length == got.toSet.size, "a (metric, rule) pair fanned out twice")
      assert(got.toSet == expected)
    }
  }

  test("rule match requires ALL grouping keys present in tags (fan-out join predicate)") {
    val frame = metricFrame(demoEvents) // tags: only t_group
    val needsMissingTag = demoRule.copy(groupingKeyNames = Seq("t_group", "t_host"))
    assert(CepQuery.planRule(frame, needsMissingTag).count() == 0)
    val rules = Metrics.rulesToDF(spark, Seq(demoRule, needsMissingTag.copy(ruleId = 9)))
    val all = CepQuery.planAll(frame, rules)
    assert(all.select("rule_id").distinct().as[Int].collect().toSet == Set(1))
  }

  test("building planAll starts no Spark job over a local rule book, at most one over any other") {
    // 64 ACTIVE rules with mixed key sets, so the rarest-key pivot has
    // work to do. The book is read once on the driver while the plan is
    // built: a local relation is collected without a job, and any other
    // frame with the one job of its collect.
    val rules = (1 to 64).map { i =>
      demoRule.copy(ruleId = i,
        groupingKeyNames = if (i % 2 == 0) Seq(s"t_k${i % 8}") else Seq(s"t_k${i % 8}", "t_group"))
    }
    val local = Metrics.rulesToDF(spark, rules)
    val nonLocal = spark.createDataset(
      spark.sparkContext.parallelize(rules.map(Metrics.toRow), 2)).toDF()
    val frame = metricFrame(demoEvents)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def jobsWhile(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // Listener events arrive in order: once a marker job's start is
      // seen, every job the body started has been counted.
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "listener never saw the marker job")
      groups.toArray.count(_ == group)
    }
    sc.addSparkListener(listener)
    try {
      for (align <- Seq(Alignment.Epoch, Alignment.FirstEvent)) {
        assert(jobsWhile(s"planAll-local-$align")(CepQuery.planAll(frame, local, align)) == 0)
        assert(jobsWhile(s"planAll-rdd-$align")(CepQuery.planAll(frame, nonLocal, align)) <= 1)
      }
    } finally sc.removeSparkListener(listener)
  }

  test("planAll fails while it is built on a rule book repeating an ACTIVE rule id, naming the ids") {
    // Window rule parameters join back on rule_id after the aggregate,
    // so an id held by two ACTIVE rules is refused before any plan runs.
    // A PAUSE row may share an id: only ACTIVE rules reach the plan.
    val rules = Seq(demoRule, demoRule.copy(ruleId = 7), demoRule.copy(limit = BigDecimal(3)),
      demoRule.copy(ruleId = 7, aggregatorFunctionType = AggType.Max),
      demoRule.copy(ruleId = 5), demoRule.copy(ruleId = 5, ruleState = RuleState.Pause))
    val frame = metricFrame(demoEvents)
    for (align <- Seq(Alignment.Epoch, Alignment.FirstEvent)) {
      val group = s"planAll-repeated-ids-$align"
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val err = SparkTestSession.listening(group, new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
      })(intercept[IllegalArgumentException](
        CepQuery.planAll(frame, Metrics.rulesToDF(spark, rules), align)))
      assert(err.getMessage.contains("repeated: 1, 7"), err.getMessage)
      assert(jobs.get == 0, "the repeated ids must be caught before anything runs")
    }
    // Without the repeats the same book plans and runs.
    val unique = Metrics.rulesToDF(spark, rules.distinctBy(_.ruleId))
    assert(CepQuery.planAll(frame, unique).count() > 0)
  }

  test("planAll spreads only a narrow batch metric input across the cores before its fan-out") {
    // backfill_batch's shape: JSON lines in ONE text file, parsed by
    // Parsers.parseMetrics. The file is one input split, so without a
    // spread the scan's single task would also run the 1→N fan-out,
    // the window explode and the partial aggregation.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
      SparkListenerStageSubmitted}
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val cores = spark.sparkContext.defaultParallelism
    val json = (0 until 2000).map(i =>
      s"""{"eventTime":${t0 + i * 997L},"t_group":"g${i % 16}","cpu_usage":${i % 10}}""")
    val file = java.nio.file.Files.createTempDirectory("cep-narrow").resolve("metrics.jsonl")
    java.nio.file.Files.write(file, json.asJava)
    def parsed(lines: DataFrame): DataFrame = graft.parse.Parsers.parseMetrics(lines)
    val metrics = parsed(spark.read.text(file.toString).select(col("value").as("line")))
    val rules = Metrics.rulesToDF(spark, Seq(demoRule, demoRule.copy(ruleId = 2,
      windowType = WindowType.Sliding, windowMinutes = 3, windowSlideMinute = 1,
      aggregatorFunctionType = AggType.Avg, limitOperatorType = CmpOp.Ge, limit = BigDecimal(0))))

    // Every stage the collect runs, in completion order: (tasks,
    // input records, shuffle records written).
    val group = "planAll-narrow"
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
    val spread = SparkTestSession.listening(group, new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          ours.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ours.contains(e.stageInfo.stageId)) {
          val m = e.stageInfo.taskMetrics
          done.add((e.stageInfo.numTasks, m.inputMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten))
        }
    })(CepQuery.planAll(metrics, rules).collect().toSet)
    val stages = done.asScala.toSeq
    val scan = stages.filter(_._2 > 0)
    assert(scan.map(_._1) == Seq(1), s"the text scan is not one task: $stages")
    // The fan-out and partial aggregation run in the stage that writes
    // the aggregation's shuffle: the last map stage to finish.
    val fanOut = stages.filter(_._3 > 0).last
    assert(fanOut._1 == cores,
      s"the fan-out ran ${fanOut._1} tasks, not $cores: $stages")
    assert(spread.nonEmpty)

    // An input already at least as wide as the cores plans no spread
    // (its only REPARTITION_BY_NUM is its own round-robin) and gives
    // the same windows.
    val wide = CepQuery.planAll(metrics.repartition(2 * cores), rules)
    val widePlan = wide.queryExecution.executedPlan.toString
    assert("Exchange [^\n]*REPARTITION_BY_NUM".r.findAllIn(widePlan).size == 1 &&
      !widePlan.contains("hashpartitioning(eventTime"),
      s"a wide metric input was spread again:\n$widePlan")
    assert(wide.collect().toSet == spread)

    // A stream is never spread (StreamBench runs planAll on streams).
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val stream = CepQuery.planAll(parsed(mem.toDF().select(col("value").as("line"))), rules)
    assert(stream.isStreaming)
    assert(stream.queryExecution.logical.collectFirst {
      case r: RepartitionByExpression => r }.isEmpty,
      s"a streaming metric input was spread:\n${stream.queryExecution.logical}")
  }

  test("a rule line without groupingKeyNames drops at parse; planAll over the book keeps the valid rule") {
    // A missing key list would parse as [null]: no tag map holds a
    // null key (Rule.java:63-66), so the rule can never apply, and it
    // must not stop planAll for the rest of the book — parsed, or
    // handed to planAll as a frame that skipped the parser.
    def line(id: Int, keys: String): String =
      s"""{"ruleId":$id,"ruleState":"ACTIVE","windowType":"tumbling","windowMinutes":2,"windowSlideMinute":0,$keys"aggregatorFunctionType":"SUM","aggregateFieldName":"cpu_usage","limitOperatorType":">","limit":11}"""
    def run(rules: DataFrame): Set[(Int, String, Long, Double)] =
      CepQuery.planAll(metricFrame(demoEvents), rules)
        .select(col("rule_id"), col("group_id"), unix_millis(col("window_start")),
          col("result"))
        .as[(Int, String, Long, Double)].collect().toSet
    def parsed(lines: String*): DataFrame = graft.parse.Parsers.parseRules(lines.toDF("line"))
    val valid = line(1, """"groupingKeyNames":["t_group"],""")
    val expected = run(parsed(valid))
    assert(expected.map(r => (r._2, r._4)) == Set(("1_business", 16.0), ("1_work", 16.0)))
    assert(run(parsed(valid, line(2, ""))) == expected)
    assert(run(Metrics.rulesToDF(spark, Seq(demoRule,
      demoRule.copy(ruleId = 2, groupingKeyNames = Seq(null))))) == expected)
  }
}
