package graft

/** JSON string literals for the artifacts the mains write by hand
  * (`oracle_sql.json`, `PLAN_SNAPSHOT.json`).
  */
object Json {

  /** `s` as a quoted JSON string: escapes the quote, the backslash and
    * every control character below 0x20 — a tab or CR in an oracle's
    * SQL or a full-mode plan skeleton would otherwise break the
    * reader's `json.load`. Everything else passes through unchanged.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
