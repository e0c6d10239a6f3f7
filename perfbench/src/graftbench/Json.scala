package graftbench

import java.util.Locale

/** Minimal JSON writer for the result line, truth files and span dumps.
  * Doubles keep every digit (`Double.toString`); non-finite values, which
  * JSON cannot carry, are written as null. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
      case c => sb += c
    }
    (sb += '"').result()
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      apply(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
