package perfbench

/** Minimal JSON rendering for the run record (numbers, strings, booleans,
  * nested maps and sequences).
  */
object Json {
  /** Already-rendered JSON, embedded verbatim. */
  final case class Raw(json: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'            => b ++= "\\\""
      case '\\'           => b ++= "\\\\"
      case '\n'           => b ++= "\\n"
      case '\r'           => b ++= "\\r"
      case '\t'           => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch             => b += ch
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null                 => "null"
    case Raw(json)            => json
    case s: String            => str(s)
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => value(f.toDouble)
    case n: Number            => n.toString
    case b: Boolean           => b.toString
    case m: Map[_, _]         => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(value).mkString("[", ",", "]")
    case other                => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
