package graft

/** The one JSON string escaper behind the engine's hand-assembled JSON
  * (oracle_sql.json, chart specs, the analytics server's responses,
  * LLM request bodies). */
object Json {

  /** `s` as a JSON string literal: quote, backslash and ALL control
    * chars (< 0x20) escaped, everything else (non-ASCII included)
    * passed through. A raw tab or CR inside a value would make the
    * whole document fail to parse. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
