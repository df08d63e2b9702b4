package e2ebench

/** Minimal JSON rendering for the run record (maps, sequences, strings,
  * numbers, booleans, null); keys keep insertion order. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(sb, f.toDouble)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      writeFields(sb, m.toSeq.map { case (k, x) => (k.toString, x) })
    case kv: scala.collection.Seq[_] if kv.nonEmpty && kv.forall {
        case (_: String, _) => true
        case _ => false
      } =>
      writeFields(sb, kv.map { case (k: String, x) => (k, x) })
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case xs: Array[_] => write(sb, xs.toSeq)
    case other => quote(sb, other.toString)
  }

  private def writeFields(sb: StringBuilder, kv: Iterable[(String, Any)]): Unit = {
    sb.append('{')
    var first = true
    kv.foreach { case (k, x) =>
      if (!first) sb.append(',')
      first = false
      quote(sb, k)
      sb.append(':')
      write(sb, x)
    }
    sb.append('}')
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
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
}
