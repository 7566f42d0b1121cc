package graft

/** Single JSON string escaper for the tool mains (Bench/Verify emit
  * hand-assembled JSON lines; two drifting copies of this logic is how a
  * control character ends up breaking the driver's parse).
  */
object Json {
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** [[escape]] clipped to at most `max` chars. Whole escape sequences
    * are kept or dropped together, so the result never ends in a dangling
    * backslash or a cut-off unicode escape.
    */
  def escapeClipped(s: String, max: Int): String = {
    val out = new StringBuilder
    val it = s.iterator.map(c => escape(c.toString)).buffered
    while (it.hasNext && out.length + it.head.length <= max) out ++= it.next()
    out.result()
  }

  def quote(s: String): String = "\"" + escape(s) + "\""
}
