package graft.bench

/** Minimal JSON writer for the harness's result file (maps, sequences,
  * strings, numbers, booleans, null). Keys keep insertion order. */
object Json {
  def render(v: Any): String = { val sb = new StringBuilder; write(v, sb); sb.toString }

  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(','); first = false
        quote(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; write(x, sb) }
      sb.append(']')
    case a: Array[_] => write(a.toSeq, sb)
    case RawJson(s) => sb.append(s)
    case other => quote(other.toString, sb)
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
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

  /** A value that is already JSON text (e.g. a streaming progress event). */
  final case class RawJson(text: String)
}
