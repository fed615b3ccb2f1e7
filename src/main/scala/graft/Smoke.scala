package graft

/** Dev smoke entry: runs the driver's entry() contract exactly as the
  * driver would (fresh default session, sf0.001), prints the row count
  * and the formatted physical plan for eyeballing shuffle/broadcast
  * shape. `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus(8))
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val n = df.count()
    println(s"[smoke] entry() rows = $n")
    df.show(10, truncate = false)
    spark.stop()
  }
}
