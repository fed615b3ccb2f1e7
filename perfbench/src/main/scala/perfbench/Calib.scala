package perfbench

/** How fast the host runs right now: the seconds a fixed integer loop
  * takes on every core at once. On a shared host the same work takes
  * longer while neighbours take CPU from it; timing this loop next to a
  * measurement says how much, and [[normalize]] scales the measurement
  * to a host where the loop takes [[RefSeconds]]. */
object Calib {

  /** The loop's time on an unloaded 4-core x86-64 VM; only a unit, so
    * runs on any host compare. */
  val RefSeconds = 0.13

  private val Iterations = 80000000

  @volatile private var sink = 0L

  private def loop(): Unit = {
    var x = 0L
    var i = 0
    while (i < Iterations) {
      x = x * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    sink += x
  }

  /** The fastest of three timings of the loop on `threads` threads. */
  def seconds(threads: Int): Double =
    (0 until 3).map { _ =>
      val ts = (0 until threads).map(_ => new Thread(() => loop()))
      val t0 = System.nanoTime()
      ts.foreach(_.start())
      ts.foreach(_.join())
      Runs.seconds(System.nanoTime() - t0)
    }.min

  /** End-to-end metrics scaled to the reference host speed, given the
    * calibration seconds measured around them: times shrink and rates
    * grow on a host slower than the reference. */
  def normalize(metrics: Seq[(String, Double, String)], calibS: Double): Seq[(String, Double, String)] =
    metrics.map { case (n, v, u) =>
      (n, if (u.endsWith("/s")) v * calibS / RefSeconds else v * RefSeconds / calibS, u)
    }
}
