package graft.perfbench

/** Just enough JSON writing for the result line and the artifacts. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A finite number at full precision; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** Flat string->string map, parsed from a line this object wrote with
    * `obj` of string values. Used to read back an artifact's stamp. */
  def parseFlatStrings(s: String): Map[String, String] = {
    val pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    pair.findAllMatchIn(s).map(m => unescape(m.group(1)) -> unescape(m.group(2))).toMap
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\n", "\n").replace("\\t", "\t")
      .replace("\\r", "\r").replace("\\\\", "\\")
}
