package perfbench

import org.apache.spark.sql.SparkSession

/** The three workloads. Each run sets up several times and reports the
  * median set-up, then measures for `--seconds`, then checks every
  * output against an independent reference. */
object Runs {

  final case class Ctx(spark: SparkSession, args: Main.Args, sessionS: Double) {
    def seed: Long = args.seed
    def dir(name: String): String = s"${args.work}/$name"
  }

  /** Set-ups per run; the run reports their median. */
  val SetupReps = 3

  def run(ctx: Ctx): Main.Result = ctx.args.workload match {
    case "alerts_json" => Streaming.run(ctx)
    case "backfill_batch" => Batch.backfill(ctx)
    case "curation_corpus" => Batch.curation(ctx)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (type 7). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def seconds(ns: Long): Double = ns / 1e9

  /** Write a traced run's spans, one JSON object a line. */
  def writeSpans(ctx: Ctx, t: Trace): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(ctx.dir("spans.jsonl")),
      t.spansJson.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** `raw` end-to-end metrics scaled by [[Calib.normalize]]; the raw
    * values and the calibration are logged. */
  def normalized(calibS: Double, raw: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    log(f"calibration ${calibS}%.4fs (reference ${Calib.RefSeconds}%.3fs); raw " +
      raw.map { case (n, v, u) => f"$n=$v%.4f$u" }.mkString(" "))
    Calib.normalize(raw, calibS)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}
