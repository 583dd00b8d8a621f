package perfbench

/** Minimal JSON writer for the harness's result files: maps, sequences,
  * strings, numbers, booleans and null. Non-finite doubles become null.
  */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
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
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: collection.Map[_, _] =>
        sb.append('{')
        m.toSeq.sortBy(_._1.toString).zipWithIndex.foreach { case ((k, v), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(v)
        }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case xs: Array[_] => go(xs.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), write(v) + "\n")

  def writeLines(path: String, rows: Iterable[Any]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      rows.map(write).mkString("", "\n", "\n"))
}
