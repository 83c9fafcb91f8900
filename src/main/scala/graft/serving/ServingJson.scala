package graft.serving

/** The serving tier's JSON codec. The EMITTER is the reference-shape
  * serializer [[HttpApi]] always used (flat maps of numbers/strings,
  * keys sorted, whole doubles printed as integers); the PARSER serves
  * the parquet spill tier ([[ServingTable]] with `spillDir`), which
  * round-trips values through (key, json) rows, and the `/purchases`
  * fan-out, which decodes a peer's body. Scalar fidelity through
  * the round trip: integral numbers come back as Long, decimals as
  * Double, everything else as the string the emitter printed — exactly
  * what the HTTP layer would have emitted either way, so spilled and
  * resident entries are indistinguishable on the wire.
  */
private[serving] object ServingJson {

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case d: Double => if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case other => str(other.toString)
  }

  /** Parse one JSON document (the emitter's own output — objects, arrays,
    * strings, numbers, booleans, null). Integral numbers -> Long,
    * decimals -> Double. Throws on trailing garbage or malformed input —
    * the only producer is [[value]], so leniency would just mask a bug.
    */
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.parseValue()
    p.skipWs()
    require(p.eof, s"trailing characters at ${p.pos} in: $s")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit =
      while (!eof && Character.isWhitespace(s.charAt(pos))) pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s.charAt(pos) == c, s"expected '$c' at $pos in: $s")
      pos += 1
    }

    def parseValue(): Any = {
      skipWs()
      require(!eof, s"unexpected end of input: $s")
      s.charAt(pos) match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' => parseString()
        case 't' => literal("true", true)
        case 'f' => literal("false", false)
        case 'n' => literal("null", null)
        case _ => parseNumber()
      }
    }

    private def literal(word: String, v: Any): Any = {
      require(s.regionMatches(pos, word, 0, word.length),
        s"malformed literal at $pos in: $s")
      pos += word.length
      v
    }

    private def parseObject(): Map[String, Any] = {
      expect('{'); skipWs()
      val b = Map.newBuilder[String, Any]
      if (!eof && s.charAt(pos) == '}') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        skipWs()
        val k = parseString()
        skipWs(); expect(':')
        b += k -> parseValue()
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      b.result()
    }

    private def parseArray(): Seq[Any] = {
      expect('['); skipWs()
      val b = Seq.newBuilder[Any]
      if (!eof && s.charAt(pos) == ']') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        b += parseValue()
        skipWs()
        if (!eof && s.charAt(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      b.result()
    }

    private def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (!eof && s.charAt(pos) != '"') {
        val c = s.charAt(pos)
        if (c == '\\') {
          require(pos + 1 < s.length, s"dangling escape at $pos in: $s")
          s.charAt(pos + 1) match {
            case '"' => sb += '"'; pos += 2
            case '\\' => sb += '\\'; pos += 2
            case '/' => sb += '/'; pos += 2
            case 'n' => sb += '\n'; pos += 2
            case 'r' => sb += '\r'; pos += 2
            case 't' => sb += '\t'; pos += 2
            case 'b' => sb += '\b'; pos += 2
            case 'f' => sb += '\f'; pos += 2
            case 'u' =>
              require(pos + 6 <= s.length, s"short unicode escape at $pos in: $s")
              sb += Integer.parseInt(s.substring(pos + 2, pos + 6), 16).toChar
              pos += 6
            case other => throw new IllegalArgumentException(
              s"unknown escape '\\$other' at $pos in: $s")
          }
        } else { sb += c; pos += 1 }
      }
      expect('"')
      sb.result()
    }

    private def parseNumber(): Any = {
      val start = pos
      if (!eof && (s.charAt(pos) == '-' || s.charAt(pos) == '+')) pos += 1
      var isDouble = false
      while (!eof && (s.charAt(pos).isDigit || "eE+-.".contains(s.charAt(pos)))) {
        if ("eE.".contains(s.charAt(pos))) isDouble = true
        pos += 1
      }
      val tok = s.substring(start, pos)
      require(tok.nonEmpty && tok.exists(_.isDigit), s"malformed number at $start in: $s")
      if (isDouble) tok.toDouble else tok.toLong
    }
  }
}
