package perfbench

/** Minimal JSON writer for the raw-results file that run.py reads.
  * Accepts maps, sequences, strings, numbers, booleans, options and null. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(y)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        s.iterator.zipWithIndex.foreach { case (y, i) =>
          if (i > 0) sb.append(','); go(y)
        }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
