package graft.common

/** Minimal recursive-descent JSON reader for the engine's config and
  * sidecar files (expectations config, manifests). No JSON library
  * exists in the jar set, and `Scorer.parseFlatJson`'s regex only
  * handles flat objects — this covers the full value grammar (objects,
  * arrays, strings, numbers, booleans, null) for driver-side config
  * reads and the serving replica's request bodies. Never on an executor
  * hot path. Nesting deeper than [[MaxDepth]] is refused, so a hostile
  * body cannot overflow the parsing thread's stack.
  *
  * Values map to: Map[String, Any], Seq[Any], String, Double, Boolean,
  * null.
  */
object Json {

  val MaxDepth = 512

  def parse(text: String): Any = {
    val p = new P(text)
    val v = p.value()
    p.skipWs()
    require(p.eof, s"trailing content at offset ${p.pos}")
    v
  }

  def parseFile(path: String): Any =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  /** Typed helpers for config readers. */
  def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  def arr(v: Any): Seq[Any] = v.asInstanceOf[Seq[Any]]
  def str(v: Any): String = v.asInstanceOf[String]

  private final class P(s: String) {
    var pos = 0
    private var depth = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && Character.isWhitespace(s.charAt(pos))) pos += 1

    private def expect(c: Char): Unit = {
      skipWs()
      require(!eof && s.charAt(pos) == c,
        s"expected '$c' at offset $pos in JSON")
      pos += 1
    }

    def value(): Any = {
      skipWs()
      require(!eof, "unexpected end of JSON")
      s.charAt(pos) match {
        case '{' => nested(objectValue())
        case '[' => nested(arrayValue())
        case '"' => stringValue()
        case 't' => literal("true", true)
        case 'f' => literal("false", false)
        case 'n' => literal("null", null)
        case _ => numberValue()
      }
    }

    private def nested(v: => Any): Any = {
      depth += 1
      require(depth <= MaxDepth,
        s"JSON nested deeper than $MaxDepth at offset $pos")
      try v finally depth -= 1
    }

    private def literal(lit: String, v: Any): Any = {
      require(s.regionMatches(pos, lit, 0, lit.length),
        s"bad literal at offset $pos")
      pos += lit.length
      v
    }

    private def objectValue(): Map[String, Any] = {
      expect('{')
      val b = Map.newBuilder[String, Any]
      skipWs()
      if (!eof && s.charAt(pos) == '}') { pos += 1; return b.result() }
      var more = true
      while (more) {
        skipWs()
        val k = stringValue()
        expect(':')
        b += (k -> value())
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1 else more = false
      }
      expect('}')
      b.result()
    }

    private def arrayValue(): Seq[Any] = {
      expect('[')
      val b = Seq.newBuilder[Any]
      skipWs()
      if (!eof && s.charAt(pos) == ']') { pos += 1; return b.result() }
      var more = true
      while (more) {
        b += value()
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1 else more = false
      }
      expect(']')
      b.result()
    }

    private def stringValue(): String = {
      expect('"')
      val sb = new StringBuilder
      while (!eof && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\' && pos + 1 < s.length) {
          s.charAt(pos + 1) match {
            case '"' => sb.append('"'); pos += 2
            case '\\' => sb.append('\\'); pos += 2
            case '/' => sb.append('/'); pos += 2
            case 'n' => sb.append('\n'); pos += 2
            case 'r' => sb.append('\r'); pos += 2
            case 't' => sb.append('\t'); pos += 2
            case 'b' => sb.append('\b'); pos += 2
            case 'f' => sb.append('\f'); pos += 2
            case 'u' =>
              sb.append(Integer.parseInt(s.substring(pos + 2, pos + 6), 16)
                .toChar)
              pos += 6
            case other => sb.append(other); pos += 2
          }
        } else { sb.append(c); pos += 1 }
      }
      expect('"')
      sb.toString
    }

    private def numberValue(): Double = {
      val start = pos
      while (!eof && "+-0123456789.eE".indexOf(s.charAt(pos)) >= 0) pos += 1
      require(pos > start, s"expected a JSON value at offset $start")
      s.substring(start, pos).toDouble
    }
  }
}
