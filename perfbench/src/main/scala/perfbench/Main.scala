package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> }}}
  * Prints the run's metrics, then, as its last line, one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`. `--work` is
  * the directory every file of the run goes to; it must be new. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String)

  /** Cores of every run's session (`local[4]`). */
  val Cores = 4

  /** What a run measured. Metrics are (name, value, unit). */
  final case class Result(attempted: Long, failed: Long, endToEnd: Seq[(String, Double, String)],
      layers: Seq[(String, Double, String)])

  val Workloads: Seq[String] =
    Seq("alerts_json", "backfill_batch", "curation_corpus")

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** The session every run uses: `local[cores]`, one shuffle partition
    * per core, the optimizer rules every graft session excludes, the
    * RocksDB state store the production runner requires, and every
    * scratch path inside the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.optimizer.excludedRules", graft.SessionTuning.excludedRules)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // As in StreamBench: a commit writes the batch's changes, not a
      // snapshot of the whole store.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // A checkpoint left by an earlier run would resume its offsets.
    require(Option(new java.io.File(args.work).list).forall(_.forall(_ == "tmp")),
      s"${args.work} holds an earlier run's files")
    Files.createDirectories(Paths.get(args.work))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(Cores, args.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = Runs.Ctx(spark, args, sessionS)
    val res =
      try Runs.run(ctx)
      finally spark.stop()
    val metrics = if (args.trace) res.layers else res.endToEnd
    metrics.foreach { case (n, v, u) => println(f"$n%-28s $v%16.4f $u") }
    println(f"failed_frac ${if (res.attempted > 0) res.failed.toDouble / res.attempted else 1.0}%.6f (${res.failed}/${res.attempted})")
    println(Json.result(res.failed == 0, res.attempted, res.failed, metrics))
  }
}
