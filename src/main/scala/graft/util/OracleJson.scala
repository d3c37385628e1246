package graft.util

/** JSON string escape + oracle_sql.json assembly shared by Verify and
  * `graft.Dev repro` — ONE definition, because an escaping gap in
  * either copy would emit invalid JSON and silently zero the driver's
  * correctness gate for that path. Escapes backslash, quote, and ALL
  * control chars (< 0x20): a tab or CR in builder-authored SQL is the
  * realistic hazard.
  */
object OracleJson {
  def escape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Write `{name: sql, ...}` to `path`. */
  def writeOracleSql(path: String, entries: Map[String, String]): Unit = {
    val json = entries.map { case (k, v) => s"${escape(k)}: ${escape(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json): Unit
  }
}
