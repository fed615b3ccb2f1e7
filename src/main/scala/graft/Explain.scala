package graft

/** Dev tool: print the formatted physical plan of one SparkEntry query
  * and time N laps of it (steady-state). Usage:
  *   runMain graft.Explain <queryName> [sfDir] [laps]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // Comma-separated names run in ONE JVM (plan-dump batches for the
    // optimization rounds); a single name keeps the original contract.
    val names = args(0).split(",").toSeq
    val builds = SparkEntry.gates.map(g => g.name -> g.build).toMap
    val unknown = names.filterNot(builds.contains)
    require(unknown.isEmpty, s"unknown query ${unknown.mkString(", ")} (have: " +
      builds.keys.toSeq.sorted.mkString(", ") + ")")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val laps = if (args.length > 2) args(2).toInt else 3
    // Optional: write each query's formatted plan to <dir>/<name>_<tag>.txt
    // (tag from SPARK_GRAFT_PLAN_TAG, e.g. "before"/"after").
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planTag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "plan")
    val spark = GraftSession.local(GraftSession.envCpus(32))
    // Opt-in stage-time attribution (SPARK_GRAFT_STAGES=1): per
    // completed stage, task count + summed executor run/CPU time —
    // the "which stage eats the row" evidence the optimization rounds
    // work from.
    if (sys.env.contains("SPARK_GRAFT_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val m = i.taskMetrics
            val scopes = i.rddInfos.flatMap(_.scope).map(_.name)
              .distinct.mkString("|")
            println(f"[stage] id=${i.stageId}%5d tasks=${i.numTasks}%4d " +
              f"run=${m.executorRunTime}%6dms cpu=${m.executorCpuTime / 1000000}%6dms " +
              f"${i.name.takeWhile(_ != '\n').take(60)} :: ${scopes.take(160)}")
          }
        })
    names.foreach { name =>
      println(s"===== $name =====")
      val fn = builds(name)
      planDir match {
        case Some(dir) =>
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"${name}_$planTag.txt"),
            plan.getBytes("UTF-8"))
          println(s"[explain] wrote $dir/${name}_$planTag.txt")
        case None => fn(spark, sfDir).explain("formatted")
      }
      var lastQe: org.apache.spark.sql.execution.QueryExecution = null
      (1 to laps).foreach { i =>
        val t0 = System.nanoTime()
        // Same action as Bench: force the query's own plan, not the
        // count() rewrite (which prunes projections / eliminates joins).
        lastQe = fn(spark, sfDir).queryExecution
        val n = lastQe.toRdd.count()
        println(f"[explain] lap $i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      // The static plan above predates AQE's runtime re-planning (stage
      // reuse, skew splits, coalescing only appear in the FINAL adaptive
      // plan) — dump it post-execution when asked.
      if (sys.env.contains("SPARK_GRAFT_FINAL_PLAN"))
        println(lastQe.executedPlan.toString)
    }
    spark.stop()
  }
}
