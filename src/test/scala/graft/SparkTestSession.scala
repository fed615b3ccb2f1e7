package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM): the same
  * [[GraftSession]] the mains run, so the plan pins gate the plans the
  * driver actually runs. Always 4 cores, whatever `SPARK_GRAFT_CPUS`
  * says: the plan pins assume 4. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}
