package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // Same optimizer posture as the mains (SessionTuning): the plan
      // pins must gate the plans the driver actually runs.
      .config("spark.sql.optimizer.excludedRules", SessionTuning.excludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val StateStoreProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** transformWithState requires the RocksDB state store; scope the
    * provider override to `body` so the rest of the suite keeps the
    * default HDFS-backed store. */
  def withRocksDb[T](body: => T): T = {
    val prev = spark.conf.getOption(StateStoreProviderKey)
    spark.conf.set(StateStoreProviderKey, RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(StateStoreProviderKey, v)
      case None => spark.conf.unset(StateStoreProviderKey)
    }
  }
}
