package graft

/** Minimal JSON string escaping (RFC 8259: quote, backslash, all
  * control chars) shared by every hand-rolled JSON emitter in the
  * library — Verify's oracle dump, the publish manifest and the
  * runner's step commit records. One implementation so an escaping fix
  * can never apply to one emitter and silently miss another. */
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

  /** Render a value tree: maps (keys sorted, so equal trees render
    * equal), sequences, strings, booleans, Ints and Longs as integer
    * literals and finite doubles in `Double.toString` form. Anything
    * else renders as its string. [[parse]] reads every number back as a
    * Double; a caller that needs exact types tags its values itself. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case n @ (_: Int | _: Long) => n.toString
    case d: Double if !d.isNaN && !d.isInfinite => d.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => str(k) + ":" + render(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Minimal recursive-descent JSON reader for machine-written JSON
    * (Bench's bench_full.json and kin, the runner's commit records —
    * trusted input; this is not a general-purpose parser). Objects →
    * Map[String, Any], arrays → Seq[Any], numbers → Double, strings →
    * String, true/false/null → Boolean/null. */
  def parse(s: String): Any = {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def expect(c: Char): Unit = {
      ws()
      require(i < s.length && s(i) == c, s"expected '$c' at $i")
      i += 1
    }
    def value(): Any = {
      ws()
      s(i) match {
        case '{' =>
          i += 1; ws()
          val m = scala.collection.mutable.LinkedHashMap[String, Any]()
          if (s(i) == '}') { i += 1 }
          else {
            var more = true
            while (more) {
              ws()
              val k = string()
              expect(':')
              m(k) = value()
              ws()
              if (s(i) == ',') { i += 1 } else { expect('}'); more = false }
            }
          }
          m.toMap
        case '[' =>
          i += 1; ws()
          val b = scala.collection.mutable.ArrayBuffer[Any]()
          if (s(i) == ']') { i += 1 }
          else {
            var more = true
            while (more) {
              b += value()
              ws()
              if (s(i) == ',') { i += 1 } else { expect(']'); more = false }
            }
          }
          b.toSeq
        case '"' => string()
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val st = i
          while (i < s.length && "+-0123456789.eE".contains(s(i))) i += 1
          s.substring(st, i).toDouble
      }
    }
    def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'u' =>
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case c => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    val v = value()
    ws()
    v
  }
}
