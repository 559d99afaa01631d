package graft

/** String escaping for hand-assembled JSON lines (the bench artifact and
  * Verify's oracle_sql.json). */
object Json {

  /** JSON string-literal body: backslash, quote and every control char
    * (< 0x20) escaped — a note with a quote, or an exception message
    * carrying a plan tree's newlines, must never split or corrupt the
    * one-line artifact, and a tab in query SQL must not break the
    * reader's json.load. */
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }
}
