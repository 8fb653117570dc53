package graft

object Json {

  /** A JSON string literal: quote, backslash and ALL control chars
    * (< 0x20, as a 4-hex-digit unicode escape) escaped — a tab or CR in
    * builder-authored SQL, a request id or a parquet field name would
    * otherwise break the consumer's JSON parse. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
