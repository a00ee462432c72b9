package perfbench

/** A minimal streaming JSON writer for the run record. */
final class Json {
  private val sb = new StringBuilder
  private var first = true

  private def sep(): Unit = { if (!first) sb.append(','); first = false }

  def key(k: String): Unit = { sep(); str(k); sb.append(':'); first = true }

  def obj(body: => Unit): Unit = {
    if (!first) sb.append(',')
    sb.append('{'); first = true; body; sb.append('}'); first = false
  }

  def arr[T](xs: Seq[T])(f: T => Unit): Unit = {
    if (!first) sb.append(',')
    sb.append('['); first = true; xs.foreach(f); sb.append(']'); first = false
  }

  def field(k: String, v: Any): Unit = { key(k); write(v); first = false }

  private def write(v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => str(s)
    case b: Boolean => sb.append(b)
    case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case xs: Seq[_] =>
      sb.append('['); var f = true
      xs.foreach { x => if (!f) sb.append(','); f = false; write(x) }
      sb.append(']')
    case other => str(other.toString)
  }

  private def str(s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  override def toString: String = sb.toString
}
