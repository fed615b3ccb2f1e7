package perfbench

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** A finite number with all its digits; NaN and infinities, which JSON
    * cannot carry, are refused. */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"not a finite number: $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }

  def num(x: Long): String = x.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** The benchmark's result line. */
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> num(attempted),
      "failed" -> num(failed),
      "metrics" -> obj(metrics.map { case (n, v, u) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(u)))
      })))
}
