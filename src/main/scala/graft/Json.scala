package graft

/** The one JSON writer behind the runners' output: Verify's
  * `oracle_sql.json`, Bench's query and total lines, Audit's JSON line. */
object Json {
  /** `s` as a JSON string: quote, backslash and every control char below
    * U+0020 escaped, so a path, a name or an oracle's SQL text (a tab or
    * a CR included) always reads back as one value. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One `"key":value` member; `value` is already JSON. */
  def field(key: String, value: String): String = str(key) + ":" + value

  /** A JSON object of members whose values are already JSON. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => field(k, v) }.mkString("{", ",", "}")
}
