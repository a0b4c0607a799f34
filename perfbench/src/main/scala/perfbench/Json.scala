package perfbench

/** Minimal JSON rendering for run records (numbers keep all their digits)
  * and parsing of the flat expected-fingerprint file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }
        .mkString("{", ", ", "}")
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  /** An object with its keys in the given order. */
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => quote(k) + ": " + render(x) }
      .mkString("{", ", ", "}")

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  /** Parses `{"key": [rows, "hash"], ...}` — the expected-fingerprint
    * file's only shape. */
  def parseFingerprints(text: String): Map[String, (Long, String)] = {
    val entry = "\"([^\"]+)\"\\s*:\\s*\\[\\s*(\\d+)\\s*,\\s*\"([^\"]*)\"\\s*\\]".r
    entry.findAllMatchIn(text)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }
}
