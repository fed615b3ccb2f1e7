package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM): the same
  * [[GraftSession]] the mains run, so the plan pins gate the plans the
  * driver actually runs. Always 4 cores, whatever `SPARK_GRAFT_CPUS`
  * says: the plan pins assume 4. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Runs `body` under job group `group` with `listener` attached and
    * returns once the listener has seen every event `body` caused:
    * listener events arrive in order, so a marker job started after
    * `body` is the barrier. */
  def listening[T](group: String, listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val marker = s"$group-marker"
    val seen = new CountDownLatch(1)
    val barrier = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == marker)
          seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(barrier)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(seen.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      out
    } finally {
      sc.removeSparkListener(barrier)
      sc.removeSparkListener(listener)
    }
  }
}
