package churnbench

/** The little JSON the benchmark writes: escaped strings and flat
  * objects of numbers, strings and nested objects.
  */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
        render(k.toString) + ": " + render(x)
      }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(render).mkString("[", ", ", "]")
    case other => throw new IllegalArgumentException(s"no JSON for $other")
  }

  private val Field =
    """"((?:[^"\\]|\\.)*)"\s*:\s*(?:"((?:[^"\\]|\\.)*)"|([-0-9.eE+]+|true|false|null))""".r

  /** Fields of a flat JSON object, values as their text (strings
    * unquoted, escapes left as they are).
    */
  def parseFlat(text: String): Map[String, String] =
    Field.findAllMatchIn(text).map { m =>
      m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))
    }.toMap
}
