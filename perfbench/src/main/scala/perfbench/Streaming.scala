package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.parse.Parsers
import graft.streaming.DynamicRules
import Runs.{Ctx, log, median, quantile, seconds}

/** The `alerts_json` workload, through
  * `StreamingEngine.startOnePassDynamic` (what `CepRunner dynamic`
  * runs), fed by one generator thread, the benchmark's main thread. The
  * measured time is split in two:
  *
  *  - open loop (alert latency): events are due on a fixed schedule of
  *    `OpenRate` events/s and are added every tick whatever the engine's
  *    state;
  *  - closed loop (`drain_eps`): a fixed-size block is added and the
  *    next one only after the previous is fully processed through the
  *    sink; one rule upsert is published between every pair of blocks.
  *
  * Alert latency runs from the due time of a window's last event to the
  * window's arrival at the sink. Only windows that could close while the
  * schedule ran count; the rest close at the final flush. */
object Streaming {

  /** Events per closed-loop block. */
  val Block = 5000

  /** The open loop's rate, about a quarter of what the closed loop
    * drains. */
  val OpenRate = 1000

  /** Open-loop generator tick. */
  val TickMs = 10L

  /** A closed loop's outcome: every block's ns, and the ns of the blocks
    * run with the Spark listener attached. */
  final case class Drain(blockNs: Seq[Long], tracedNs: Seq[Long]) {
    /** Block size over the median block time: one slow block moves it
      * less than a total would. */
    def eps: Double = Block / median(blockNs.map(seconds))
  }

  /** An open loop's outcome: when its schedule started, the event time
    * due one second before it ended, how late each add ran (ms), and
    * the source backlog at each add (traced runs only). */
  final case class Open(startNs: Long, lastClosingEv: Long, lateMs: Seq[Double],
      backlog: Seq[Long])

  def run(ctx: Ctx): Main.Result = {
    val spark = ctx.spark
    val measureNs = ctx.args.seconds * 1000000000L
    val (setupS, h) = setUp(ctx, spark, Main.Cores, Runs.SetupReps)
    val warm = Seq(timedBlock(h, h.take(Block))) // warm-up at full size
    log(f"setup ${setupS.map(s => f"$s%.2f").mkString(",")} after a ${ctx.sessionS}%.2fs session, warm ${warm.map(b => f"${seconds(b)}%.2f").mkString(",")}")

    val trace = if (ctx.args.trace) Some(new Trace(spark)) else None
    val progress0 = h.progress.size
    val gc0 = Trace.gcMs
    Trace.resetHeapPeak()
    val (publish0, upserts0) = (h.publishNs, h.upserts)
    val c0 = Calib.seconds(Main.Cores)
    // The open loop first: it also warms the closed loop up.
    val open = openLoop(h, measureNs / 2, trace.isDefined)
    val c1 = Calib.seconds(Main.Cores)
    val block0 = h.blocks.size
    val drainProgress0 = h.progress.size
    val drain = closedLoop(h, measureNs / 2, trace)
    val drainBlocks = h.blocks.slice(block0, h.blocks.size).toSeq
    val drainProgress = h.progress.drop(drainProgress0)
    val calibS = median(Seq(c0, c1, Calib.seconds(Main.Cores)))
    val gcMs = Trace.gcMs - gc0
    val heapMb = Trace.heapPeakMb
    val measuredProgress = h.progress.drop(progress0)
    log(f"drain blocks ${drain.blockNs.map(b => f"${seconds(b)}%.2f").mkString(",")}")

    // Check every window of the run against the reference fold.
    trace.fold(h.flush())(_.span("sink.flush", "check")(h.flush()))
    val emitted = BenchSink.drain().filterNot(_.groupId.contains("flush"))
    val expect = RefFold.expected(h.microBatches, streaming = true)
    val chk = RefFold.check(expect, emitted)
    log(s"check $chk over ${h.blocks.size} blocks")

    val lastDue = expect.map(r => (r.ruleId, r.groupId, r.windowStart) -> r.lastDue).toMap
    val alertsMs = emitted.flatMap { r =>
      lastDue.get((r.ruleId, r.groupId, r.windowStart))
        .filter(due => due >= open.startNs && r.windowEnd.exists(_ <= open.lastClosingEv))
        .map(due => (r.lastDue - due) / 1e6)
    }
    log(s"alert latency over ${alertsMs.size} windows")
    h.stop()

    val e2e = Runs.normalized(calibS, Seq(
      ("setup_s", ctx.sessionS + median(setupS), "s"),
      ("drain_eps", drain.eps, "events/s"),
      ("result_s", median(drain.blockNs.map(seconds)), "s"),
      ("alert_p50_ms", quantile(alertsMs, 0.5), "ms"),
      ("alert_p99_ms", quantile(alertsMs, 0.99), "ms")))

    val layers = trace.map { t =>
      val pre = prefixes(spark, drainBlocks.flatMap(_.events), h.ruleDir, ctx.dir("prefix"), t)
      Runs.writeSpans(ctx, t)
      val untraced = drain.blockNs.diff(drain.tracedNs)
      val eps1 = Layers.onOneCore(ctx.dir("one-core")) { one =>
        val (_, h1) = setUp(ctx, one, 1, 1)
        val d1 = closedLoop(h1, measureNs / 2, None)
        h1.stop()
        BenchSink.drain()
        d1.eps
      }
      Layers.report(Layers.progressMetrics(measuredProgress) ++
        t.sparkMetrics(drain.tracedNs.sum) ++ pre.metrics ++ Map(
        "state.busy_s" -> math.max(0.0, Layers.addBatchS(drainProgress) - pre.parseS - pre.fanoutS),
        "control.upserts" -> (h.upserts - upserts0).toDouble,
        "control.publish_ms" -> (h.publishNs - publish0) / 1e6,
        "source.backlog_max" -> open.backlog.max.toDouble,
        "source.backlog_end" -> open.backlog.last.toDouble,
        "source.gen_late_p99_ms" -> quantile(open.lateMs, 0.99),
        "sink.windows" -> emitted.size.toDouble,
        "sink.write_ms" -> BenchSink.writeNs.get / 1e6,
        "jvm.gc_ms" -> gcMs.toDouble,
        "jvm.heap_peak_mb" -> heapMb,
        "trace.overhead_frac" ->
          (median(drain.tracedNs.map(_.toDouble)) / median(untraced.map(_.toDouble)) - 1),
        "scale.eps_1core" -> eps1,
        "scale.speedup_4v1" -> drain.eps / eps1))
    }.getOrElse(Nil)
    Main.Result(chk.expected, chk.failed, e2e, layers)
  }

  /** Start the topology `reps` times (rule publish, query start, input
    * generation and a first, clean block through the sink),
    * keeping the last instance. Returns each set-up's seconds. */
  def setUp(ctx: Ctx, spark: SparkSession, cores: Int, reps: Int): (Seq[Double], StreamHarness) = {
    var h: StreamHarness = null
    val times = (0 until reps).map { rep =>
      if (h != null) { h.stop(); BenchSink.drain() }
      val t0 = System.nanoTime()
      h = new StreamHarness(spark, ctx.dir(s"stream-$cores-$rep"), ctx.seed,
        Gen.alertsBook(ctx.seed), cores)
      timedBlock(h, h.take(Gen.CleanPrefix.toInt))
      seconds(System.nanoTime() - t0)
    }
    (times, h)
  }

  /** Add closed-loop blocks for `ns`. With a trace, every other block
    * runs with the Spark listener attached. */
  def closedLoop(h: StreamHarness, ns: Long, trace: Option[Trace]): Drain = {
    val all = mutable.ArrayBuffer.empty[Long]
    val traced = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < ns) {
      val block = h.take(Block)
      val on = trace.isDefined && all.size % 2 == 1
      if (on) trace.get.attach()
      val t = trace.fold(timedBlock(h, block)) {
        _.span("stream.block", s"block${h.blocks.size}")(timedBlock(h, block))
      }
      if (on) { trace.get.detach(); traced += t }
      all += t
    }
    Drain(all.toSeq, traced.toSeq)
  }

  /** Publish the next rule upsert, add one block and wait until it is
    * through the sink; returns its ns. */
  private def timedBlock(h: StreamHarness, block: (Array[Gen.Event], Seq[String])): Long = {
    val t0 = System.nanoTime()
    if (h.blocks.nonEmpty) h.publish(Gen.upsert(h.seed, h.blocks.size, h.book.snapshot))
    h.add(block._1, block._2, Array.fill(block._1.length)(t0))
    h.await()
    System.nanoTime() - t0
  }

  /** Feed `OpenRate` events/s for `ns`: every tick, add the events due
    * so far as one block. */
  private def openLoop(h: StreamHarness, ns: Long, sampleBacklog: Boolean): Open = {
    val n = (OpenRate * ns / 1000000000L).toInt
    val (evs, rendered) = h.take(n)
    val nsPer = 1e9 / OpenRate
    val start = System.nanoTime() + 20000000L
    def dueNs(i: Int): Long = start + (i * nsPer).toLong
    val late = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Long]
    def processed: Long = h.progress.map(_.numInputRows).sum
    val processed0 = processed
    var i = 0
    while (i < n) {
      val now = System.nanoTime()
      var j = i
      while (j < n && dueNs(j) <= now) j += 1
      if (j > i) {
        h.add(evs.slice(i, j), rendered.slice(i, j), Array.tabulate(j - i)(k => dueNs(i + k)))
        late += (System.nanoTime() - dueNs(i)) / 1e6
        if (sampleBacklog) backlog += j - (processed - processed0)
        i = j
      }
      val sleep = math.min((if (i < n) dueNs(i) else now) - System.nanoTime(), TickMs * 1000000L)
      if (sleep > 0) Thread.sleep(sleep / 1000000L, (sleep % 1000000L).toInt)
    }
    h.await()
    backlog += n - (processed - processed0)
    Open(start, evs(math.max(0, n - OpenRate - 1)).evMs, late.toSeq, backlog.toSeq)
  }

  /** Layer self times from running the layer prefixes in batch over the
    * drain's input, read from disk: source alone, parse, parse + fan-out.
    * Each is the median of three runs; a layer's time is its prefix's
    * minus the previous one's. */
  final case class Prefixes(lines: Long, parsed: Long, fanned: Long, parseS: Double,
      fanoutS: Double) {
    def metrics: Map[String, Double] = Layers.prefixMetrics(lines, parsed, fanned, parseS, fanoutS)
  }

  def prefixes(spark: SparkSession, evs: Seq[Gen.Event], ruleDir: String, dir: String,
      t: Trace): Prefixes = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/lines.txt"), evs.map(Gen.jsonLine).asJava, StandardCharsets.UTF_8)
    val src = spark.read.text(s"$dir/lines.txt").select(col("value").as("line"))
    val parsed = Parsers.parseMetrics(src)
    val fanned = DynamicRules.fanOut(parsed, ruleDir)
    def time(name: String, df: DataFrame): Double =
      Layers.timeS(3)(t.span(name, "prefix")(df.count()))
    val srcS = time("prefix.source", src)
    val parseS = time("prefix.parse", parsed)
    val fanS = time("prefix.fanout", fanned)
    Prefixes(evs.size.toLong, parsed.count(), fanned.count(), parseS - srcS, fanS - parseS)
  }
}
