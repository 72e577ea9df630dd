package graft.perfbench

/** Compact JSON rendering for the benchmark records: objects are
  * ordered `Seq[(String, Any)]`, arrays are other `Seq`s.
  */
object Json {

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case kv: scala.collection.Seq[_] if kv.nonEmpty && kv.forall(isField) =>
      kv.map { case (k: String, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def isField(x: Any): Boolean = x match {
    case (_: String, _) => true
    case _ => false
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
