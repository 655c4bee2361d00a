package graft

/** The one JSON writer of the mains' records: objects from maps (in
  * their order), arrays from other sequences, strings with `"`, `\` and
  * every char below 0x20 escaped, doubles rounded to 4 decimals (NaN
  * and infinities → null), `None` → null. */
object Json {
  def apply(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else (math.round(d * 1e4) / 1e4).toString
    case None => "null"
    case Some(x) => apply(x)
    case x => x.toString
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
