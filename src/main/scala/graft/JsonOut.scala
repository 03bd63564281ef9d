package graft

/** The JSON writer behind every driver-facing JSON line (Verify's oracle
  * dump, the bench mains' metric lines). `str` escapes backslash, quote,
  * and ALL control characters — a newline inside an exception message
  * must never break the one-line-JSON contract. */
private[graft] object JsonOut {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `{"k":v,...}` over values that are already JSON. */
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** `[v,...]` over values that are already JSON. */
  def arr(values: Iterable[String]): String = values.mkString("[", ",", "]")
}
