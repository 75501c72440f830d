package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around each call into a layer: name, layer, start,
  * end and parent. Kept in memory and written once at exit. With
  * tracing off, `span` only runs the body.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val originNs = System.nanoTime()

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, layer, System.nanoTime(), 0L, stack.headOption.getOrElse(-1))
      spans += s
      stack = s.id :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  def count: Int = spans.size

  /** Seconds spent in spans of `layer` named `name` (all of them). */
  def total(layer: String, name: String): Double =
    spans.filter(s => s.layer == layer && s.name == name)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  def toJson: Any = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
    "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9,
    "parent" -> s.parent))
}

object Trace {
  final case class Span(id: Int, name: String, layer: String, startNs: Long,
      var endNs: Long, parent: Int)
}

/** Minimal JSON writer for maps, sequences, numbers, strings and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case s => quote(s.toString)
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
