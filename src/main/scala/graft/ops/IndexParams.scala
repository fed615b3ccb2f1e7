package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The commit protocol of the persisted indexes ([[Dedup.saveDedupIndex]],
  * [[Similarity.saveIvfIndex]]): a one-row `params/` table under the
  * index path is the commit marker, FIRST-deleted and LAST-written.
  * Params-last alone only protects first-time builds: a REBUILD over an
  * existing index that dies between the artifact overwrites and the
  * params write would leave the OLD params validating mixed old/new
  * artifacts (the guards compare values and shapes, which a same-params
  * rebuild matches, and so does an IVF retrain: NEW centroids over OLD
  * `assigned/` would probe garbage). Deleting params up front makes
  * any mid-rebuild crash leave a params-less artifact, which [[read]]
  * refuses loudly. */
private[ops] object IndexParams {

  private def paramsPath(spark: SparkSession, path: String) = {
    val p = new Path(s"$path/params")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  /** Rebuild the index under `path`: drop the marker, write the
    * `artifacts`, then commit `params`. */
  def commit(path: String, params: DataFrame)(artifacts: => Unit): Unit = {
    val (p, fs) = paramsPath(params.sparkSession, path)
    if (fs.exists(p)) fs.delete(p, true)
    artifacts
    params.write.mode("overwrite").parquet(p.toString)
  }

  /** The committed params row, read with the writer's `ddl` schema (no
    * inference job); fails loudly when the marker is absent. `saver`
    * names the call that rebuilds the index. */
  def read(spark: SparkSession, path: String, ddl: String,
      saver: String): Row = {
    val (p, fs) = paramsPath(spark, path)
    require(fs.exists(p),
      s"no params/ under $path — either the index predates parameter " +
        "tracking or a rebuild died before its final params write " +
        s"(params commit last); re-run $saver to rebuild before " +
        "probing or appending")
    spark.read.schema(ddl).parquet(p.toString).head()
  }
}
