package graft.text

/** The one JSON string escaper (reference semantics: json.dumps on the
  * Python side). Three hand-rolled variants with diverging control-char
  * coverage used to live in Verify, InteropDump and a pack writer — any
  * future escaping fix happens here once.
  */
object Json {
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
    sb.toString
  }
}
