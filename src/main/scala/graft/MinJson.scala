package graft

/** Minimal JSON string escaping (RFC 8259: quote, backslash, all
  * control chars) shared by every hand-rolled JSON emitter in the
  * library — Verify's oracle dump, the publish manifest and Bench's
  * artifact. One implementation so an escaping fix can never apply to
  * one emitter and silently miss another. */
object MinJson {
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
