package graft

import org.apache.spark.sql.functions._
import graft.cep.Metrics
import graft.model._
import graft.streaming.StatefulCep

/** Streaming throughput bench: drives N synthetic metric events
  * through BOTH one-pass engines — the declarative planAll aggregation
  * (update mode) and the dynamic rule fan-out into the stateful
  * transformWithState engine (append mode) — over a realistic
  * multi-rule book, and prints one JSON line with events/second per
  * engine.
  *
  * Events come from `Metrics.eventsAsMetrics`-shaped frames built in
  * memory (a MemoryStream fed in `batches` micro-batches), so the
  * number is engine throughput, not source parsing. Usage:
  *
  * {{{ sbt "runMain graft.StreamBench [nEvents] [batches] [nRules]" }}}
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toInt).getOrElse(2000000)
    val batches = args.lift(1).map(_.toInt).getOrElse(4)
    val nRules = args.lift(2).map(_.toInt).getOrElse(8)
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)
    import spark.implicits._

    // Rule book: SUM/AVG/MIN/MAX × tumbling/sliding over cpu_usage,
    // always-passing thresholds (emission included in the cost).
    val aggs = Seq(AggType.Sum, AggType.Avg, AggType.Min, AggType.Max)
    val rules = (1 to nRules).map { i =>
      Rule(i, RuleState.Active,
        if (i % 2 == 0) WindowType.Sliding else WindowType.Tumbling,
        2, if (i % 2 == 0) 1 else 0, Seq("t_group"),
        aggs(i % aggs.size), "cpu_usage", CmpOp.Gt,
        BigDecimal(-1))
    }
    val ruleDF = Metrics.rulesToDF(spark, rules)
    val t0 = 1650557501028L
    val dynRuleDir = java.nio.file.Files
      .createTempDirectory("graft_streambench_rules_").toString
    graft.streaming.DynamicRules.persist(spark, dynRuleDir, 1L,
      rules.map(Metrics.toRow))

    // MemoryStream of batch indices; each micro-batch expands its id
    // into nEvents/batches metric rows via a join-free explode of a
    // range, so the measured cost is the engine, not a feeder.
    implicit val sqlCtx = spark.sqlContext
    def run(engine: String): Double = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val per = nEvents / batches
      val metricFrame = mem.toDF()
        .select(explode(sequence(col("value") * per,
          (col("value") + 1) * per - 1)).as("id"))
        // The generator emits each micro-batch as ONE exploded
        // partition; spread it like a real multi-partition source so
        // the measured number is the parallel engine, not one core.
        .repartition(cpus)
        .select(
          timestamp_millis(lit(t0) + col("id") * 10).as("eventTime"),
          map(lit("t_group"), concat(lit("g"), pmod(col("id"), lit(64)))).as("tags"),
          map(lit("cpu_usage"), pmod(col("id"), lit(100)).cast("double")).as("metrics"))
      val out = engine match {
        case "planAll" =>
          graft.cep.CepQuery.planAll(metricFrame, ruleDF)
            .writeStream.format("noop").outputMode("update")
        case "dynamic" =>
          // Zero-downtime path: rules resolved per task from the
          // published snapshot instead of a plan-frozen broadcast.
          StatefulCep.run(
            graft.streaming.DynamicRules.fanOut(metricFrame, dynRuleDir))
            .toDF()
            .writeStream.format("noop").outputMode("append")
      }
      val q = out.start()
      val start = System.nanoTime()
      try {
        (0 until batches).foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()
      nEvents / ((System.nanoTime() - start) / 1e9)
    }

    // Ingest-time near-dup dedup throughput (StreamingDedup): a
    // synthetic document firehose — ~20-word docs, unique in the main,
    // with every 16th doc a near-copy of a rotating template so the
    // LSH buckets see real collisions — driven through the stateful
    // bucket store to a noop sink. Docs are 10× heavier than metric
    // events (shingle+minhash per doc), so the doc count is nEvents/10.
    def runDedup(): (Double, Long) = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val dedupBands = args.lift(3).map(_.toInt).getOrElse(16)
      val nDocs = math.max(nEvents / 10, batches)
      val per = nDocs / batches
      val words = (0 until 20).map(k =>
        concat(lit(s"w"), pmod(col("id") * (2 * k + 1) + k, lit(5000))))
      // Every 16th doc re-issues one of 2000 rotating templates, so
      // duplicates arrive in SMALL families (cluster size ≈
      // nDocs/32000) — the realistic shape; one global mega-template
      // would measure the degenerate hot-bucket path instead (which
      // the maxBucketResidents cap bounds, spec-pinned).
      val template = (0 until 20).map(k =>
        concat(lit(s"t"), pmod((col("id") / 16).cast("long"), lit(2000)) * (k + 1)))
      val docFrame = mem.toDF()
        .select(explode(sequence(col("value") * per,
          (col("value") + 1) * per - 1)).as("id"))
        .repartition(cpus)
        .select(col("id").as("doc_id"),
          timestamp_millis(lit(t0) + col("id") * 10).as("eventTime"),
          when(pmod(col("id"), lit(16)) === 0,
            concat_ws(" ", template: _*))
            .otherwise(concat_ws(" ", words: _*)).as("text"))
      val out = graft.streaming.StreamingDedup.run(
        graft.streaming.StreamingDedup.banded(docFrame, bands = dedupBands)).toDF()
        .writeStream.format("noop").outputMode("append")
      val q = out.start()
      val start = System.nanoTime()
      try {
        (0 until batches).foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()
      (nDocs / ((System.nanoTime() - start) / 1e9), nDocs.toLong)
    }

    // Ingest-time curation ENRICHMENT throughput: the same doc
    // firehose shape as runDedup, driven through the stateless
    // per-doc curation stack — repetition gram stats, BPE pre-token
    // count, a 64-dim hashed doc vector, and the zlib compression
    // ratio — to a noop sink. All four are zero-shuffle
    // native/codegen projections, so this measures the raw per-doc
    // enrichment cost under micro-batch scheduling (the "annotate
    // everything on arrival" pattern); no state store involved.
    def runEnrich(): (Double, Long) = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val nDocs = math.max(nEvents / 10, batches)
      val per = nDocs / batches
      val words = (0 until 20).map(k =>
        concat(lit(s"w"), pmod(col("id") * (2 * k + 1) + k, lit(5000))))
      val docFrame = mem.toDF()
        .select(explode(sequence(col("value") * per,
          (col("value") + 1) * per - 1)).as("id"))
        .repartition(cpus)
        .select(col("id").as("doc_id"),
          concat_ws(" ", words: _*).as("text"))
      val enriched = docFrame
        .select(col("doc_id"),
          graft.functions.gram_stats(col("text"), 2).as("gs"),
          graft.functions.bpe_token_count(col("text")).as("n_bpe"),
          graft.functions.hashed_token_counts(col("text"), 64).as("vec"),
          graft.functions.compress_ratio(col("text")).as("zr"))
      val q = enriched.writeStream.format("noop").outputMode("append").start()
      val start = System.nanoTime()
      try {
        (0 until batches).foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()
      (nDocs / ((System.nanoTime() - start) / 1e9), nDocs.toLong)
    }

    // Large-book scale proof for the O(M + matches) fan-out claim
    // (DynamicRules.Matcher, planAll's fan-out): nBig ACTIVE rules
    // with MIXED key sets — half keyed on one of 64 distinct tag names,
    // half on (that name, t_group) so the rarest-key index has real
    // work to do — against events each carrying t_group plus exactly
    // ONE of the 64 names. An event therefore matches ~nBig/64 rules:
    // growing the book 16× grows matches (semantic output) 16× but the
    // index probes not at all. Sub-linear throughput degradation vs the
    // same-shape small book is the claim; the index is built from the
    // one collected rule book while the plan is built (reported as
    // plan-construction ms).
    def runBigBook(nBig: Int): (Double, Long) = {
      val bigRules = (1 to nBig).map { i =>
        val kTag = s"t_k${i % 64}"
        Rule(10000 + i, RuleState.Active,
          if (i % 2 == 0) WindowType.Sliding else WindowType.Tumbling,
          2, if (i % 2 == 0) 1 else 0,
          if (i % 2 == 0) Seq(kTag) else Seq(kTag, "t_group"),
          aggs(i % aggs.size), "cpu_usage", CmpOp.Gt, BigDecimal(-1))
      }
      val bigRuleDF = Metrics.rulesToDF(spark, bigRules)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val nEv = nEvents / 4 // fan-out multiplies agg rows; bound the lap
      val per = nEv / batches
      val metricFrame = mem.toDF()
        .select(explode(sequence(col("value") * per,
          (col("value") + 1) * per - 1)).as("id"))
        .repartition(cpus)
        .select(
          timestamp_millis(lit(t0) + col("id") * 10).as("eventTime"),
          map(
            lit("t_group"), concat(lit("g"), pmod(col("id"), lit(64))),
            concat(lit("t_k"), pmod(col("id"), lit(64))),
            concat(lit("v"), pmod(col("id"), lit(16)))).as("tags"),
          map(lit("cpu_usage"), pmod(col("id"), lit(100)).cast("double")).as("metrics"))
      val planT0 = System.nanoTime()
      val plan = graft.cep.CepQuery.planAll(metricFrame, bigRuleDF)
      val planMs = (System.nanoTime() - planT0) / 1000000L
      val q = plan.writeStream.format("noop").outputMode("update").start()
      val start = System.nanoTime()
      try {
        (0 until batches).foreach { b => mem.addData(b); q.processAllAvailable() }
      } finally q.stop()
      (nEv / ((System.nanoTime() - start) / 1e9), planMs)
    }

    // Rule-SWAP cost: process the same event volume while the rule
    // book changes between micro-batches — each upsert is a snapshot
    // publish with the dynamic query running.
    def runWithSwaps(): Double = {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val per = nEvents / batches
      val metricFrame = () => mem.toDF()
        .select(explode(sequence(col("value") * per,
          (col("value") + 1) * per - 1)).as("id"))
        .repartition(cpus)
        .select(
          timestamp_millis(lit(t0) + col("id") * 10).as("eventTime"),
          map(lit("t_group"), concat(lit("g"), pmod(col("id"), lit(64)))).as("tags"),
          map(lit("cpu_usage"), pmod(col("id"), lit(100)).cast("double")).as("metrics"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_swap_").toString
      val book = new graft.streaming.RuleBook
      book.applyChanges(rules.map(Metrics.toRow))
      val engine = new graft.streaming.StreamingEngine(spark, metricFrame, book,
        graft.streaming.StreamingEngine.SinkConfig(format = "noop",
          outputMode = "append", checkpointRoot = Some(s"$tmp/ckpt")))
      val ruleDir = s"$tmp/rules"
      engine.startOnePassDynamic(ruleDir)
      val start = System.nanoTime()
      try {
        (0 until batches).foreach { b =>
          mem.addData(b)
          engine.awaitQuiescence()
          // One rule upsert between every pair of micro-batches.
          val changed = rules.head.copy(ruleId = 1000 + b)
          book.applyChanges(Seq(Metrics.toRow(changed)))
          graft.streaming.DynamicRules.persist(
            spark, ruleDir, book.version, book.activeRules)
        }
        mem.addData(batches)
        engine.awaitQuiescence()
      } finally engine.shutdown()
      (nEvents + per) / ((System.nanoTime() - start) / 1e9)
    }

    // ---- measurement protocol (r8): interleaved min-of-N laps ----------
    // r7's weakness: ONE sample per engine config per JVM, so a host-
    // steal episode during one config's sample read as an engine
    // regression (stateful/fMGWS swung 73k-158k ev/s across two r7
    // runs of identical code). Protocol now matches graft.Bench: every
    // config is lapped `throughputLaps` times, configs INTERLEAVED (a
    // steal episode hits all configs of that lap, not one config's
    // only sample), each lap bracketed by a calibration measurement so
    // every reading carries its own steal label. Per row: best (max
    // ev/s — the least-stolen reading, the analog of Bench's min
    // time), all laps, spread, and the per-lap calib ratios.
    val throughputLaps = args.lift(4).map(_.toInt).getOrElse(3)
    val heavyLaps = math.max(2, throughputLaps - 1)

    // Warm-up lap (JIT, codegen cache, state-store init) — streaming
    // micro-benchmarks are meaningless cold.
    run("planAll"); run("dynamic"); runDedup()
    Bench.calibLap(); Bench.calibLap() // JIT the calibration loop

    class RowAcc {
      val vals = scala.collection.mutable.ArrayBuffer[Double]()
      val ratios = scala.collection.mutable.ArrayBuffer[Double]()
      def add(v: Double): Unit = {
        vals += v; ratios += Bench.calibLap() / Bench.CalibRefSec
      }
      def best: Double = vals.max
      def json: String = {
        val spread = if (vals.min > 0) vals.max / vals.min else Double.NaN
        f"""{"best":${vals.max}%.0f,"spread":${Json.num(spread)},""" +
          s""""laps":${vals.map(v => f"$v%.0f").mkString("[", ",", "]")},""" +
          s""""lap_calib_ratios":${ratios.map(r => f"$r%.3f").mkString("[", ",", "]")}}"""
      }
    }
    val engines = Seq("planAll", "dynamic")
    val acc = engines.map(e => e -> new RowAcc).toMap
    for (_ <- 0 until throughputLaps; e <- engines) acc(e).add(run(e))

    // Heavy rows (swap / dedup / big-book), same interleaving at
    // `heavyLaps`.
    val swapDynAcc = new RowAcc
    val dedupAcc = new RowAcc; val enrichAcc = new RowAcc
    val big64Acc = new RowAcc; val big1024Acc = new RowAcc
    var nDocs = 0L
    var small64PlanMs = 0L; var big1024PlanMs = 0L
    runBigBook(64); runEnrich() // warm-up for the heavy shapes
    for (_ <- 0 until heavyLaps) {
      swapDynAcc.add(runWithSwaps())
      val (d, nd) = runDedup(); nDocs = nd; dedupAcc.add(d)
      val (en, _) = runEnrich(); enrichAcc.add(en)
      val (s64, p64) = runBigBook(64); small64PlanMs = p64; big64Acc.add(s64)
      val (b1024, p1024) = runBigBook(1024); big1024PlanMs = p1024
      big1024Acc.add(b1024)
    }

    val allRatios = (engines.map(acc) ++ Seq(swapDynAcc,
      dedupAcc, enrichAcc, big64Acc, big1024Acc)).flatMap(_.ratios)
    val calibJson =
      s"""{"ref_sec":${Bench.CalibRefSec},""" +
        f""""ratio":${allRatios.min}%.3f,"ratio_max":${allRatios.max}%.3f}"""
    val rowsJson = (engines.map(e => s""""$e":${acc(e).json}""") ++ Seq(
      s""""swap_dynamic":${swapDynAcc.json}""",
      s""""dedup":${dedupAcc.json}""",
      s""""enrich":${enrichAcc.json}""",
      s""""bigbook_64":${big64Acc.json}""",
      s""""bigbook_1024":${big1024Acc.json}""")).mkString("{", ",", "}")
    println(f"""{"metric":"stream_throughput","unit":"events_per_sec","n_events":$nEvents,"n_rules":$nRules,"laps_per_row":$throughputLaps,"planAll_update":${acc("planAll").best}%.0f,"dynamic_append":${acc("dynamic").best}%.0f,"swap_per_batch_dynamic":${swapDynAcc.best}%.0f,"dedup_docs":$nDocs,"dedup_docs_per_sec":${dedupAcc.best}%.0f,"enrich_docs_per_sec":${enrichAcc.best}%.0f,"bigbook_64_rules_ev_per_sec":${big64Acc.best}%.0f,"bigbook_1024_rules_ev_per_sec":${big1024Acc.best}%.0f,"bigbook_64_plan_ms":$small64PlanMs,"bigbook_1024_plan_ms":$big1024PlanMs,"rows":$rowsJson,"calib":$calibJson}""")
    spark.stop()
  }
}
