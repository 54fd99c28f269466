package graft

/** The one JSON reader and writer of the build (no external deps
  * allowed): the mains, the heap analysis and both heap front ends
  * encode through these emitters and decode through [[parse]]. The
  * escape covers quote, backslash, and ALL control chars, and result
  * cells have one encoder ([[cell]]) — one copy each, so a future
  * escaping fix can't miss a duplicate.
  */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** One result cell: only types whose toString IS valid JSON pass
    * through raw; anything else (timestamp, date, array, struct) is
    * quoted and escaped instead of corrupting the document.
    */
  def cell(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.lang.Double => if (d.isInfinite || d.isNaN) str(d.toString) else d.toString
    case f: java.lang.Float => if (f.isInfinite || f.isNaN) str(f.toString) else f.toString
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
    case other => str(other.toString)
  }

  /** One result row as an object keyed by column name. */
  def rowJson(columns: Seq[String], r: org.apache.spark.sql.Row): String =
    obj(columns.zipWithIndex.map { case (c, i) => c -> cell(r.get(i)) })

  def rowsJson(columns: Seq[String], rows: Seq[org.apache.spark.sql.Row]): String =
    arr(rows.map(rowJson(columns, _)))

  /** Full recursive JSON parser — objects become insertion-ordered
    * Map[String, Any], arrays Vector[Any], numbers Long (integral) or
    * Double, plus String/Boolean/null. Zero-dependency by the build's
    * design. The MCP transport parses its JSON-RPC frames with it, and
    * the HTTP front end its request bodies (through
    * [[graft.heap.HeapRequest.decodeBody]], which refuses nesting).
    */
  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.ws()
    if (p.i < s.length)
      throw new IllegalArgumentException(s"trailing JSON content at offset ${p.i}")
    v
  }

  private final class Parser(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"malformed JSON: $what at offset $i")
    private def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def value(): Any = {
      ws()
      if (i >= s.length) fail("missing value")
      s(i) match {
        case '{' => objBody()
        case '[' => arrBody()
        case '"' => stringBody()
        case 't' if s.startsWith("true", i) => i += 4; true
        case 'f' if s.startsWith("false", i) => i += 5; false
        case 'n' if s.startsWith("null", i) => i += 4; null
        case c if c == '-' || c.isDigit => number()
        case c => fail(s"unexpected '$c'")
      }
    }
    private def objBody(): Map[String, Any] = {
      expect('{')
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      ws()
      if (i < s.length && s(i) == '}') { i += 1; return out.toMap }
      var done = false
      while (!done) {
        ws()
        val k = stringBody()
        expect(':')
        out(k) = value()
        ws()
        if (i < s.length && s(i) == ',') i += 1
        else { expect('}'); done = true }
      }
      out.toMap
    }
    private def arrBody(): Vector[Any] = {
      expect('[')
      val out = Vector.newBuilder[Any]
      ws()
      if (i < s.length && s(i) == ']') { i += 1; return out.result() }
      var done = false
      while (!done) {
        out += value()
        ws()
        if (i < s.length && s(i) == ',') i += 1
        else { expect(']'); done = true }
      }
      out.result()
    }
    private def stringBody(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          if (i >= s.length) fail("dangling escape")
          s(i) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case '/' => sb += '/'
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'u' =>
              if (i + 4 >= s.length) fail("bad \\u escape")
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case c => fail(s"bad escape \\$c")
          }
          i += 1
        } else { sb += s(i); i += 1 }
      }
      expect('"')
      sb.toString
    }
    private def number(): Any = {
      val st = i
      if (s(i) == '-') i += 1
      while (i < s.length && (s(i).isDigit || "+-.eE".indexOf(s(i).toInt) >= 0)) i += 1
      val tok = s.substring(st, i)
      if (tok.exists(c => c == '.' || c == 'e' || c == 'E')) tok.toDouble else tok.toLong
    }
  }
}
