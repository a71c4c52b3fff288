package graft

/** JSON string literals for the run artifacts Verify and Bench write by
  * hand: backslash, quote and ALL control chars (< 0x20) escaped — a tab
  * or CR in builder-authored SQL or a conf value would otherwise make a
  * strict parser's `json.load` fail. */
object JsonText {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
