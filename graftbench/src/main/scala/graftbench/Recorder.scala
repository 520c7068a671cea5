package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** In-memory run record: spans (name, start, end, parent, attributes) and
  * point records, kept as JSON lines and written once when the run ends,
  * so recording costs an allocation per boundary and no I/O while timed.
  * Every metric the benchmark reports is derived from this file. */
final class Recorder {
  private val lines = ArrayBuffer.empty[String]
  private val ids = new AtomicLong(0)

  def open(name: String, parent: Span = null): Span =
    new Span(this, ids.incrementAndGet(), name, if (parent == null) 0L else parent.id)

  def record(kind: String, fields: (String, Any)*): Unit = synchronized {
    lines += Json.obj(("kind" -> kind) +: fields)
  }

  def write(path: String): Unit = synchronized {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** A timed interval of the run, recorded when it ends. */
final class Span private[graftbench] (rec: Recorder, val id: Long, name: String, parent: Long) {
  private val start = System.nanoTime()
  private val attrs = ArrayBuffer.empty[(String, Any)]
  def set(kv: (String, Any)*): Unit = attrs ++= kv
  /** Closes the span and returns its duration in seconds. */
  def end(): Double = {
    val stop = System.nanoTime()
    rec.record("span", Seq("id" -> id, "parent" -> parent, "name" -> name,
      "start_ns" -> start, "end_ns" -> stop) ++ attrs: _*)
    (stop - start) / 1e9
  }
}

/** Minimal JSON encoder for the run record's flat values. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
