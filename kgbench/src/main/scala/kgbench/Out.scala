package kgbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** JSON-lines record writer for everything a run hands back to run.py. */
final class Out(path: String) {
  private val w = new BufferedWriter(new OutputStreamWriter(
    new FileOutputStream(path), StandardCharsets.UTF_8))

  def rec(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.write((("type" -> kind) +: fields)
      .map { case (k, v) => Out.json(k) + ":" + Out.json(v) }.mkString("{", ",", "}"))
    w.write('\n')
  }

  def close(): Unit = synchronized(w.close())
}

object Out {
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
