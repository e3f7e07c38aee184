package perfbench

/** Minimal JSON writing for the JVM's result file. Non-finite doubles
  * are written as `null`; the launcher counts each one as a failed
  * operation.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case null                   => "null"
    case d: Double              => num(d)
    case f: Float               => num(f.toDouble)
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case b: Boolean             => b.toString
    case s: String              => str(s)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_]         => s.map(value).mkString("[", ",", "]")
    case other                  => str(other.toString)
  }
}
