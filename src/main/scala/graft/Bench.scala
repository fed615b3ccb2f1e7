package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries run in sorted-name order, and the whole set does one
  * warm-up lap before the timed lap, so reported numbers are
  * steady-state engine throughput rather than "whichever query
  * happened to run first pays JVM/codegen/parquet-footer warm-up" —
  * the per-query attribution is meaningless otherwise (first-query
  * noise was ±10s on a 0.3s query).
  *
  * Steal context: this host is a shared VM whose available CPU swings
  * with neighbor load (observed up to 3× on identical code), so the
  * JSON also carries, per query, the full lap list (spread = how
  * noisy THIS run was) and a `calib` section: a fixed single-thread
  * CPU loop timed before/between/after the laps, whose min is
  * compared against a reference time recorded at build time on an
  * idle host. `calib.ratio` ≈ 1.0 means the numbers are trustworthy;
  * ratios well above 1 mean the whole run was steal-inflated by about
  * that factor and cross-round comparisons must divide it out.
  */
object Bench {

  /** Fixed single-thread calibration workload: a splitmix-style LCG
    * chain long enough (~0.4 s idle) to average over scheduler slices
    * but short enough to run once per lap. Pure ALU — no memory
    * traffic — so it measures CPU availability, not cache state. */
  def calibLap(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < CalibIters) {
      x = x * 6364136223846793005L + 1442695040888963407L
      acc ^= java.lang.Long.rotateLeft(x, (x & 63).toInt)
      i += 1
    }
    // Publish acc so the loop cannot be dead-code-eliminated.
    calibSink = acc
    (System.nanoTime() - t0) / 1e9
  }
  final val CalibIters = 300000000
  @volatile var calibSink: Long = 0L
  /** Reference min-of-12 `calibLap` seconds measured on this host
    * class during an idle window (recorded 2026-08-13, laps spanned
    * 0.4008–0.4569 with median 0.4031; see PERF_r6.md). */
  final val CalibRefSec = 0.4008
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)
    // Gate queries plus the bench-only production-hash twins (no
    // DuckDB oracle possible, but regressions must stay visible).
    val queries = SparkEntry.gates.map(g => g.name -> g.build).sortBy(_._1)
    // A failing query must not bench as fast: its error is carried into
    // the JSON ("errors" map) instead of being swallowed into a small
    // elapsed time.
    // Force the query's OWN physical plan (all result columns
    // materialized), not the `.count()` rewrite: under count(),
    // Catalyst prunes every unreferenced projection (a pure-projection
    // query benches as a bare row count) and can even eliminate a
    // left join against an aggregate via distinct-keys inference —
    // both under-measure the work a real consumer of the rows pays.
    def lap(): Seq[(String, Double, Option[String])] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).queryExecution.toRdd.count(); None } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    calibLap(); calibLap() // JIT the calibration loop itself
    val warm = lap() // warm-up: JIT, codegen cache, parquet footers
    // Heavy multi-join rows (e.g. profile_source_overlap) are not
    // JIT-steady after ONE pass — r8's bench row read ~1.5x the
    // graft.Explain steady state. Queries still above 1.5s after the
    // global warm-up get one extra discarded pass so min-of-laps
    // measures steady state, not warm-up tail.
    warm.filter(_._2 > 1.5).foreach { case (name, _, _) =>
      try queries.find(_._1 == name).foreach(_._2(spark, sfDir)
        .queryExecution.toRdd.count())
      catch { case _: Throwable => () } // error carried by timed laps
    }
    // Three timed laps, min per query: the shared VM shows sporadic
    // external CPU interference (whole laps drift ±15%, sub-2s queries
    // spike ×5); the per-query min across laps is the faithful engine
    // cost, and the full lap lists are emitted so a reader can see how
    // noisy THIS run was. A calibration lap brackets every query lap:
    // its min vs the recorded idle-host reference is the run's
    // steal-inflation factor.
    //
    // Steal-filtering (r10): a lap whose BOTH bracketing calibs are
    // inflated (min of the pair > StealRejectRatio × reference) sat
    // inside a sustained steal episode — every row of it is inflated
    // together (r9's "_b artifact" showed a uniform ~20% lift across
    // untouched rows from exactly this). Such laps are REJECTED from
    // the per-query min, and replacement laps run (bounded) until two
    // clean laps exist. min-of-bracket, not max: single calib laps
    // read up to 1.14× even on an idle host (the r6 reference series),
    // so one spiked calib means a transient blip — which per-query
    // min-across-laps already absorbs — not a poisoned lap. If the
    // budget exhausts with <2 clean laps the run falls back to all
    // laps and says so (steal_filtered:false): a long steal episode
    // makes numbers qualified, not silently missing.
    val StealRejectRatio = 1.15
    val MaxLaps = 6
    val calibs = scala.collection.mutable.ArrayBuffer(calibLap())
    val allLaps = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(String, Double, Option[String])]]
    def runLap(): Unit = { allLaps += lap(); calibs += calibLap() }
    (0 until 3).foreach(_ => runLap())
    def lapRatios: Seq[Double] = allLaps.indices.map(i =>
      math.min(calibs(i), calibs(i + 1)) / CalibRefSec)
    def cleanIdx: Seq[Int] = lapRatios.zipWithIndex
      .collect { case (r, i) if r <= StealRejectRatio => i }
    while (cleanIdx.size < 2 && allLaps.size < MaxLaps) runLap()
    val useIdx = if (cleanIdx.nonEmpty) cleanIdx else allLaps.indices.toSeq
    val stealFiltered = cleanIdx.nonEmpty
    val results = allLaps.toSeq.transpose.map { laps =>
      (laps.head._1, laps.map(_._2), laps.flatMap(_._3).headOption) }
    def fmtArr(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
    def minUsed(v: Seq[Double]): Double = useIdx.map(v).min
    val qs = results.map { case (k, v, _) => Json.str(k) + ":" + minUsed(v) }
      .mkString("{", ",", "}")
    val lapJson = results.map { case (k, v, _) =>
      Json.str(k) + ":" + fmtArr(v) }.mkString("{", ",", "}")
    // Exception messages carry tabs, CRs and ANSI escapes: Json.str
    // keeps them from leaking raw into the one-line contract output.
    val errs = results.collect { case (k, _, Some(e)) =>
      Json.str(k) + ":" + Json.str(e) }
      .mkString("{", ",", "}")
    val total = results.map(r => minUsed(r._2)).sum
    val calibJson = s"""{"ref_sec":$CalibRefSec,"laps":${fmtArr(calibs.toSeq)},""" +
      s""""ratio":${calibs.min / CalibRefSec},""" +
      s""""lap_ratios":${fmtArr(lapRatios)},""" +
      s""""clean_laps":${useIdx.mkString("[", ",", "]")},""" +
      s""""steal_filtered":$stealFiltered}"""
    // `cpus`/`default_parallelism` echo what the session actually ran
    // with (r15, PERF_r14 scaling finding: the driver could not
    // confirm SPARK_GRAFT_CPUS took effect — now the JSON line proves
    // it). The line is built as ONE string and written with an
    // explicit flush: round 13's bench line reached the driver
    // truncated (parsed: null), which silently cost that round its
    // performance baseline — never let stream buffering interleave or
    // clip the one-line contract output again.
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""cpus":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""queries":$qs,"laps":$lapJson,"calib":$calibJson,"errors":$errs,"sf":${Json.str(sfDir)}}"""
    System.out.println(line)
    System.out.flush()
    if (results.exists(_._3.isDefined)) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
