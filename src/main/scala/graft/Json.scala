package graft

/** JSON for the artifacts the mains write by hand (`oracle_sql.json`,
  * `PLAN_SNAPSHOT.json`, the bench record).
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

  /** A JSON object of already-rendered values, keys quoted and sorted. */
  def obj(entries: Iterable[(String, String)]): String =
    entries.toSeq.sortBy(_._1).map { case (k, v) => quote(k) + ":" + v }
      .mkString("{", ",", "}")
}
