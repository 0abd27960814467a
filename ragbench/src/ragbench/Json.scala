package ragbench

/** Minimal JSON reader for the server's response bodies, and a writer for
  * the benchmark's own output. Objects read as Map, arrays as Vector,
  * numbers as Double. */
object Json {
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.ws()
    require(p.i == s.length, s"trailing characters at ${p.i}")
    v
  }

  private final class Parser(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && " \t\r\n".indexOf(s(i)) >= 0) i += 1
    private def expect(c: Char): Unit = {
      require(i < s.length && s(i) == c, s"expected '$c' at $i"); i += 1
    }
    def value(): Any = {
      ws()
      require(i < s.length, "unexpected end")
      s(i) match {
        case '{' =>
          i += 1; ws()
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
          if (s(i) == '}') i += 1
          else {
            var more = true
            while (more) {
              ws(); val k = str(); ws(); expect(':'); m(k) = value(); ws()
              if (s(i) == ',') i += 1 else { expect('}'); more = false }
            }
          }
          m.toMap
        case '[' =>
          i += 1; ws()
          val b = Vector.newBuilder[Any]
          if (s(i) == ']') i += 1
          else {
            var more = true
            while (more) {
              b += value(); ws()
              if (s(i) == ',') i += 1 else { expect(']'); more = false }
            }
          }
          b.result()
        case '"' => str()
        case 't' => word("true", true)
        case 'f' => word("false", false)
        case 'n' => word("null", null)
        case _ =>
          val st = i
          while (i < s.length && "+-0123456789.eE".indexOf(s(i)) >= 0) i += 1
          s.substring(st, i).toDouble
      }
    }
    private def word(w: String, v: Any): Any = {
      require(s.startsWith(w, i), s"bad literal at $i"); i += w.length; v
    }
    def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          s(i + 1) match {
            case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
            case c =>
              b += (c match { case 'n' => '\n' case 'r' => '\r' case 't' => '\t'
                              case 'b' => '\b' case 'f' => '\f' case o => o })
              i += 2
          }
        } else { b += s(i); i += 1 }
      }
      i += 1
      b.toString
    }
  }

  def str(s: String): String = graft.model.Json.str(s)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
