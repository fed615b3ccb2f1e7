package graft

/** The JSON writer shared by the harness mains: their one-line outputs
  * must parse whatever an exception message or a SQL string holds. */
object Json {

  /** `s` as a quoted JSON string: backslash, quote and every control
    * char below 0x20 escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `x` as a JSON number; NaN and the infinities have none, so they
    * are written as `null`. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString
}
