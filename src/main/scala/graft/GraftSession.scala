package graft

import org.apache.spark.sql.SparkSession

/** The one place a local graft session is built: every main and the
  * test session call [[local]], so a setting added here reaches all of
  * them. */
object GraftSession {

  /** A `local[cpus]` session with one shuffle partition per core,
    * [[SessionTuning]]'s scratch directory and optimizer exclusions,
    * UTC, no UI, log level WARN, and the RocksDB state store that
    * `transformWithState` requires. Changelog checkpointing makes a
    * commit upload the batch's delta; without it every commit
    * snapshots the FULL RocksDB instance, so per-batch cost grows with
    * total state, not batch size (measured: linear batch-time growth
    * in the dedup bench). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", SessionTuning.localDir)
      .config("spark.sql.optimizer.excludedRules", SessionTuning.excludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS` as a core count, `default` when it is unset. */
  def envCpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => default
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }
}
