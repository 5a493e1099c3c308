package perfbench

/** Minimal JSON writer for the result records (maps keep insertion order
  * when given a `ListMap` or a `Seq` of pairs).
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case i: Int               => i.toString
    case l: Long              => l.toString
    case d: Double            => num(d)
    case f: Float             => num(f.toDouble)
    case o: Option[_]         => o.map(apply).getOrElse("null")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case ps: Seq[_] if ps.nonEmpty && ps.forall(_.isInstanceOf[(_, _)]) &&
        ps.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      ps.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]         => xs.map(apply).mkString("[", ",", "]")
    case other                => str(other.toString)
  }
}
