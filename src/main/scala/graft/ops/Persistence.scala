package graft.ops

import org.apache.spark.sql.DataFrame

/** How the dedup/similarity pipelines materialize intermediates that
  * feed multiple plan branches or iterative rounds (shingle index,
  * edge lists, LSH bucket frames).
  *
  * [[Persistence.Local]] (default) truncates lineage with
  * `localCheckpoint()`: fast, but blocks live on executor-local
  * storage — losing an executor loses blocks whose lineage is gone,
  * failing the job. Right for single-node and gate runs.
  *
  * [[Persistence.Reliable]] writes the intermediate to the cluster's
  * checkpoint directory (`SparkContext.setCheckpointDir`, HDFS/object
  * store in production) via `checkpoint()`: an executor loss recomputes
  * nothing and loses nothing. At 100 TB the shingle/bucket index is
  * exactly the artifact you would persist to reliable storage anyway —
  * this knob is that decision, made explicit per call.
  *
  * Both values materialize: there is no "recompute it" choice, since
  * every consumer of such an intermediate (a count gate plus two or
  * three join branches, or the next round of a loop) would otherwise
  * re-run the whole plan that made it. */
sealed trait Persistence {
  /** Eager: materializes now (its own job), returns the truncated frame. */
  def apply(df: DataFrame): DataFrame

  /** Lazy: marks for materialization; the caller's NEXT action on the
    * returned frame both materializes and computes — one job instead
    * of two. Use inside iterative loops whose convergence check is
    * itself an action. */
  def lazily(df: DataFrame): DataFrame
}

object Persistence {
  case object Local extends Persistence {
    override def apply(df: DataFrame): DataFrame = df.localCheckpoint()
    override def lazily(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
  }
  /** Requires `spark.sparkContext.setCheckpointDir(...)` to be set. */
  case object Reliable extends Persistence {
    override def apply(df: DataFrame): DataFrame = df.checkpoint()
    override def lazily(df: DataFrame): DataFrame = df.checkpoint(eager = false)
  }
}
