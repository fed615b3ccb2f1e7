package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.cep.{CepQuery, Metrics}
import graft.ops.{Curation, Dedup}
import graft.parse.Parsers
import Runs.{Ctx, log, median, quantile, seconds}

/** The two batch workloads. A lap runs from input on disk to the
  * complete result collected on the driver; laps repeat for about the
  * measured time. */
object Batch {

  /** Events in the `backfill_batch` input file. */
  val BackfillLines = 8000

  /** Documents in the `curation_corpus` input. */
  val CorpusDocs = 1500

  /** One measured lap: its ns, whether the Spark listener was attached,
    * and its output. */
  final case class Lap[T](ns: Long, traced: Boolean, out: T)

  /** Laps run back to back for about the measured time: the whole
    * number of laps closest to it, at least one. With a trace, every
    * other lap runs with the Spark listener attached, and there are at
    * least two. */
  private def laps[T](ctx: Ctx, trace: Option[Trace])(lap: Int => T): Seq[Lap[T]] = {
    val budget = ctx.args.seconds * 1000000000L
    val minLaps = if (trace.isDefined) 2 else 1
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Lap[T]]
    var k = 0
    var last = 0L
    while (k < minLaps || System.nanoTime() - t0 + last / 2 < budget) {
      val on = trace.isDefined && k % 2 == 1
      if (on) trace.get.attach()
      val s = System.nanoTime()
      val r = call(trace, "lap", s"lap$k")(lap(k))
      val ns = System.nanoTime() - s
      if (on) trace.get.detach()
      out += Lap(ns, on, r)
      last = ns
      k += 1
    }
    out.result()
  }

  /** `body` as the traced call `name` of operation `op` (a span when
    * the run is traced). */
  private def call[T](trace: Option[Trace], name: String, op: String)(body: => T): T =
    trace.fold(body)(_.span(name, op)(body))

  /** Layer metrics every traced batch run reports. */
  private def common(trace: Trace, done: Seq[Lap[_]], records: Long,
      eps1: Double): Map[String, Double] = {
    val traced = done.filter(_.traced).map(_.ns.toDouble)
    val untraced = done.filterNot(_.traced).map(_.ns.toDouble)
    trace.sparkMetrics(traced.sum.toLong) ++ Map(
      "trace.overhead_frac" -> (median(traced) / median(untraced) - 1),
      "scale.eps_1core" -> eps1,
      "scale.speedup_4v1" -> records / median(done.map(l => seconds(l.ns))) / eps1)
  }

  /** Set up `Runs.SetupReps` times; returns the median time and the
    * last set-up's value. */
  private def setup[T](make: Int => T): (Double, T) = {
    val runs = (0 until Runs.SetupReps).map { rep =>
      val t0 = System.nanoTime()
      val v = make(rep)
      (seconds(System.nanoTime() - t0), v)
    }
    (median(runs.map(_._1)), runs.last._2)
  }

  private def endToEnd(ctx: Ctx, setupS: Double, records: Long, lapNs: Seq[Long],
      calibS: Double): Seq[(String, Double, String)] = {
    val lapS = lapNs.map(seconds)
    Runs.normalized(calibS, Seq(
      ("setup_s", ctx.sessionS + setupS, "s"),
      ("drain_eps", records / median(lapS), "events/s"),
      ("result_s", median(lapS), "s"),
      // Every result row of a lap reaches the driver when its lap ends.
      ("alert_p50_ms", median(lapS) * 1000, "ms"),
      ("alert_p99_ms", quantile(lapS, 0.99) * 1000, "ms")))
  }

  // ---------------------------------------------------------------------------
  // backfill_batch
  // ---------------------------------------------------------------------------

  def backfill(ctx: Ctx): Main.Result = {
    val spark = ctx.spark
    val book = Gen.backfillBook(ctx.seed)
    val evs = Gen.events(ctx.seed, 0L, BackfillLines)
    val (setupS, path) = setup { rep =>
      val p = ctx.dir(s"backfill$rep/metrics.jsonl")
      Files.createDirectories(Paths.get(p).getParent)
      Files.write(Paths.get(p),
        Gen.events(ctx.seed, 0L, BackfillLines).map(Gen.jsonLine).toSeq.asJava,
        StandardCharsets.UTF_8)
      p
    }
    val ruleFrame = Metrics.rulesToDF(spark, book.map(Metrics.fromRow))
    def lines(s: SparkSession): DataFrame = s.read.text(path).select(col("value").as("line"))
    def plan(s: SparkSession, rules: DataFrame): DataFrame =
      CepQuery.planAll(Parsers.parseMetrics(lines(s)), rules)

    val expect = RefFold.expected(Seq(RefFold.Batch(evs.toIndexedSeq,
      IndexedSeq.fill(evs.length)(0L), book)), streaming = false)
    def check(rows: Array[Row]): RefFold.Check = RefFold.check(expect, rows.toSeq.map { r =>
      RefFold.Row(r.getInt(0), r.getString(1), Option(r.getTimestamp(2)).map(_.getTime),
        Option(r.getTimestamp(3)).map(_.getTime), r.getDouble(4), 0L)
    })

    check(plan(spark, ruleFrame).collect()) // warm-up
    val trace = if (ctx.args.trace) Some(new Trace(spark)) else None
    val c0 = Calib.seconds(Main.Cores)
    val done = laps(ctx, trace)(_ => check(plan(spark, ruleFrame).collect()))
    val calibS = (c0 + Calib.seconds(Main.Cores)) / 2
    log(f"backfill laps ${done.map(d => f"${seconds(d.ns)}%.2f").mkString(",")} ${done.head.out}")

    val layers = trace.map { t =>
      // Layer prefixes over the same file: source, parse, parse +
      // fan-out (the production fan-out), then the whole plan.
      val ruleDir = ctx.dir("rules")
      graft.streaming.DynamicRules.persist(spark, ruleDir, 1L, book)
      val parsed = Parsers.parseMetrics(lines(spark))
      val fanned = graft.streaming.DynamicRules.fanOut(parsed, ruleDir)
      def time(name: String)(body: => Unit): Double =
        Layers.timeS(3)(t.span(name, "prefix")(body))
      val srcS = time("prefix.source")(lines(spark).count())
      val parseS = time("prefix.parse")(parsed.count())
      val fanS = time("prefix.fanout")(fanned.count())
      val planMs = time("cep.plan")(plan(spark, ruleFrame)) * 1000
      val nParsed = parsed.count()
      val nFanned = fanned.count()
      val eps1 = Layers.onOneCore(ctx.dir("one-core")) { one =>
        val rules = Metrics.rulesToDF(one, book.map(Metrics.fromRow))
        plan(one, rules).collect()
        BackfillLines / Layers.timeS(1)(plan(one, rules).collect())
      }
      Runs.writeSpans(ctx, t)
      Layers.report(common(t, done, BackfillLines, eps1) ++
        Layers.prefixMetrics(BackfillLines, nParsed, nFanned, parseS - srcS, fanS - parseS) ++ Map(
        "cep.plan_ms" -> planMs,
        "cep.fanout_rows" -> nFanned.toDouble,
        "cep.agg_busy_s" -> (median(done.map(l => seconds(l.ns))) - fanS)))
    }.getOrElse(Nil)
    Main.Result(expect.size.toLong * done.size, done.map(_.out.failed.toLong).sum,
      endToEnd(ctx, setupS, BackfillLines, done.map(_.ns), calibS), layers)
  }

  // ---------------------------------------------------------------------------
  // curation_corpus
  // ---------------------------------------------------------------------------

  /** One lap's outputs, reduced to what the check reads. */
  final case class CurationOut(verdicts: Array[Row], funnel: Array[Row],
      matchedA: Array[Row], matchedB: Array[Row]) {
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Seq(verdicts, funnel, matchedA, matchedB).foreach { rows =>
        rows.map(_.mkString("\u0001")).sorted.foreach { s =>
          md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte)
        }
        md.update(0.toByte)
      }
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  def curation(ctx: Ctx): Main.Result = {
    val spark = ctx.spark
    import spark.implicits._
    val (setupS, (corpus, path)) = setup { rep =>
      val c = Gen.corpus(ctx.seed, CorpusDocs)
      val p = ctx.dir(s"corpus$rep/documents.parquet")
      c.docs.toDF().write.parquet(p)
      (c, p)
    }
    var trace: Option[Trace] = None

    // The shapes of the `curation_funnel` and `dedup_incremental_append`
    // bench rows: verdicts and their funnel, then an index built over
    // two thirds of the corpus, probed, appended to and probed again.
    def lap(s: SparkSession, k: Int): CurationOut = {
      val op = s"lap$k"
      val docs = s.read.parquet(path)
      val verdicts = Curation.pipeline(docs, docs.filter(col("doc_id") < 10),
        shingleN = 3, jaccard = 0.8, maxShingleDf = 10, decontamN = 5,
        minTokens = 25, maxTokens = 1000, maxTopGramFrac = 0.09, maxDupGramFrac = 0.09)
        .cache()
      val v = call(trace, "curation.pipeline", op)(verdicts.collect())
      val f = call(trace, "curation.funnel", op)(Curation.funnel(verdicts, docs).collect())
      verdicts.unpersist()
      val dir = ctx.dir(s"index-${s.sparkContext.defaultParallelism}-$k")
      call(trace, "dedup.save_index", op)(
        Dedup.saveDedupIndex(docs.filter(col("doc_id") % 3 =!= 0), dir, 3, 64, 16))
      val batchA = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val matchedA = call(trace, "dedup.against_index", op)(
        Dedup.dedupAgainstIndex(batchA, dir, 0.8, 3, 64, 16).collect())
      val survivors = batchA.join(
        s.createDataset(matchedA.map(_.getLong(0)).distinct.toSeq).toDF("doc_id"),
        Seq("doc_id"), "left_anti")
      call(trace, "dedup.append", op)(Dedup.appendToDedupIndex(survivors, dir, 3, 64, 16))
      val batchB = docs.filter(col("doc_id") % 3 === 1 || col("doc_id") % 6 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val matchedB = call(trace, "dedup.against_index", op)(
        Dedup.dedupAgainstIndex(batchB, dir, 0.8, 3, 64, 16).collect())
      CurationOut(v, f, matchedA, matchedB)
    }

    // A scheduled curation job runs once per JVM, so the measured laps
    // start cold. A traced run warms up first, so that its traced and
    // untraced laps compare.
    val warm = if (ctx.args.trace) Some(lap(spark, 0)) else None
    trace = if (ctx.args.trace) Some(new Trace(spark)) else None
    val c0 = Calib.seconds(Main.Cores)
    val done = laps(ctx, trace)(k => lap(spark, k + 1))
    val calibS = (c0 + Calib.seconds(Main.Cores)) / 2
    val digest = warm.getOrElse(done.head.out).digest
    val problems = done.map(d => curationProblems(corpus, d.out, digest))
    log(f"curation laps ${done.map(d => f"${seconds(d.ns)}%.2f").mkString(",")} digest ${digest.take(16)} problems ${problems.flatten.distinct.take(5)}")

    val layers = trace.map { t =>
      def perLap(name: String): Double = t.spanNs(name).sum / 1e9 / done.size
      val m = Seq("curation.pipeline", "curation.funnel", "dedup.save_index",
        "dedup.against_index", "dedup.append").map(n => s"${n}_s" -> perLap(n)).toMap
      trace = None
      val eps1 = Layers.onOneCore(ctx.dir("one-core")) { one =>
        CorpusDocs / Layers.timeS(1)(lap(one, 0))
      }
      Runs.writeSpans(ctx, t)
      Layers.report(common(t, done, CorpusDocs, eps1) ++ m)
    }.getOrElse(Nil)
    Main.Result(done.size.toLong, problems.count(_.nonEmpty).toLong,
      endToEnd(ctx, setupS, CorpusDocs, done.map(_.ns), calibS), layers)
  }

  /** What is wrong with one lap's output, from the corpus's planted
    * structure and the invariants of the pipeline; empty when nothing
    * is. `digest` is the run's first lap's digest, which every lap must
    * reproduce. */
  def curationProblems(c: Gen.Corpus, out: CurationOut, digest: String): Seq[String] = {
    val p = Seq.newBuilder[String]
    val ids = c.docs.map(_.doc_id).toSet
    val byId = out.verdicts.map(r => r.getAs[Long]("doc_id") -> r).toMap
    if (out.verdicts.length != ids.size || byId.keySet != ids) p += "not one verdict per document"
    byId.values.foreach { r =>
      val keep = r.getAs[Boolean]("quality_keep") && !r.getAs[Boolean]("dup_loser") &&
        !r.getAs[Boolean]("contaminated")
      if (keep != r.getAs[Boolean]("keep")) p += "keep is not the conjunction of its gates"
    }
    c.copies.keys.foreach(i => if (!byId.get(i).exists(_.getAs[Boolean]("dup_loser")))
      p += "planted copy not a duplicate loser")
    c.short.foreach(i => if (byId.get(i).exists(_.getAs[Boolean]("quality_keep")))
      p += "too-short document passed the quality gate")
    c.contaminated.foreach(i => if (!byId.get(i).exists(_.getAs[Boolean]("contaminated")))
      p += "planted contamination not flagged")
    val bySource = c.docs.groupBy(_.source).map { case (s, ds) => s -> ds.size.toLong }
    val keptBySource = c.docs.filter(d => byId.get(d.doc_id).exists(_.getAs[Boolean]("keep")))
      .groupBy(_.source).map { case (s, ds) => s -> ds.size.toLong }
    out.funnel.foreach { r =>
      val s = r.getAs[String]("source")
      val n = Seq("n_docs", "n_after_quality", "n_after_dedup", "n_kept").map(r.getAs[Long])
      if (n != n.sorted.reverse) p += "funnel stages do not telescope"
      if (n.head != bySource.getOrElse(s, -1L)) p += "funnel n_docs differs from the input"
      if (n.last != keptBySource.getOrElse(s, 0L)) p += "funnel n_kept differs from the verdicts"
    }
    if (out.funnel.length != bySource.size) p += "funnel does not cover every source"
    val pairsA = out.matchedA.map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairsB = out.matchedB.map(r => (r.getLong(0), r.getLong(1))).toSet
    c.copies.foreach { case (i, src) =>
      if (i % 3 == 0 && src % 3 != 0 && !pairsA.contains((i + 1000000L, src)))
        p += "planted copy not matched against the index"
    }
    ids.filter(_ % 3 == 1).foreach { d =>
      if (!pairsB.contains((d + 2000000L, d))) p += "re-sent document not matched against the index"
    }
    if (!pairsA.forall { case (a, b) => ids.contains(a - 1000000L) && (a - 1000000L) % 3 == 0 && b % 3 != 0 })
      p += "index match outside the probed batch"
    if (out.digest != digest) p += "output differs between laps"
    p.result().distinct
  }
}
