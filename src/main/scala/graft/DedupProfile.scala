package graft

import org.apache.spark.sql.functions._

/** Focused profiler for the streaming near-dup dedup path — the round-5
  * headline (STREAMBENCH_r4 measured 168 docs/s, two orders below the
  * batch twin). Runs ONLY the dedup segment of [[StreamBench]], with
  * per-batch progress metrics always on, so band and corpus variants
  * can be compared in minutes instead of a full StreamBench lap.
  *
  * {{{ sbt "runMain graft.DedupProfile [nDocs] [batches] [bands]" }}}
  */
object DedupProfile {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(20000)
    val batches = args.lift(1).map(_.toInt).getOrElse(4)
    val bands = args.lift(2).map(_.toInt).getOrElse(16)
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)

    val t0 = 1650557501028L
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val per = nDocs / batches
    val words = (0 until 20).map(k =>
      concat(lit(s"w"), pmod(col("id") * (2 * k + 1) + k, lit(5000))))
    val template = (0 until 20).map(k =>
      concat(lit(s"t"), pmod((col("id") / 16).cast("long"), lit(2000)) * (k + 1)))
    val docFrame = mem.toDF()
      .select(explode(sequence(col("value") * per,
        (col("value") + 1) * per - 1)).as("id"))
      .repartition(cpus)
      .select(col("id").as("doc_id"),
        timestamp_millis(lit(t0) + col("id") * 10).as("eventTime"),
        when(pmod(col("id"), lit(16)) === 0,
          concat_ws(" ", template: _*))
          .otherwise(concat_ws(" ", words: _*)).as("text"))
    val bandedDocs = graft.streaming.StreamingDedup.banded(docFrame, bands = bands)
    val out = graft.streaming.StreamingDedup.run(bandedDocs)
      .toDF().writeStream.format("noop").outputMode("append")
    val q = out.start()
    val start = System.nanoTime()
    try {
      (0 until batches).foreach { b =>
        val bs = System.nanoTime()
        mem.addData(b)
        q.processAllAvailable()
        println(f"[batch $b] wall=${(System.nanoTime() - bs) / 1e9}%.1fs")
      }
      q.recentProgress.foreach { p =>
        val so = p.stateOperators.headOption.map(s =>
          s" state[rows=${s.numRowsTotal} upd=${s.numRowsUpdated}" +
            s" updMs=${s.allUpdatesTimeMs} rmMs=${s.allRemovalsTimeMs}" +
            s" commitMs=${s.commitTimeMs} mem=${s.memoryUsedBytes}" +
            s" custom=${s.customMetrics}]").getOrElse("")
        println(
          s"[progress] rows=${p.numInputRows} durationMs=${p.durationMs}$so")
      }
    } finally q.stop()
    val secs = (System.nanoTime() - start) / 1e9
    println(f"""{"metric":"dedup_profile","docs":$nDocs,"batches":$batches,"bands":$bands,"secs":$secs%.1f,"docs_per_sec":${nDocs / secs}%.0f}""")
    spark.stop()
  }
}
