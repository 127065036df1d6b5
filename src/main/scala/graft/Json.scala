package graft

/** The JSON string escaper for hand-written text (oracle SQL, query
  * names) in the JSON files that `scripts/` and the oracle compare parse.
  */
object Json {
  /** A JSON string literal. Escapes backslash, quote and ALL control chars
    * (< 0x20): a tab or CR in oracle SQL would otherwise make json.load
    * reject the whole file, and with it every oracle in it.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A flat JSON object of string values. */
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + str(v) }.mkString("{", ",", "}")
}
