package graftbench

/** Minimal JSON writer for the benchmark's result and span files. */
object Json {
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }
    .mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(value).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = Gen.jsonStr(s)
}
