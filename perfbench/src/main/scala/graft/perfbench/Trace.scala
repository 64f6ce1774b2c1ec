package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One timed call into a layer's public function. `traceId` groups the
  * spans of one unit of work (a micro-batch id or a query name); listener
  * counts are those of the Spark work started inside the span's window.
  */
final case class Span(id: Int, name: String, traceId: String,
                      parent: Option[Int], startMs: Long, endMs: Long,
                      durNs: Long, counts: Counts) {
  def ms: Double = durNs / 1e6
}

/** In-memory span recorder. Spans nest through a stack (the client is
  * sequential); they are only written out when the run ends.
  */
final class Trace(sc: SparkContext, layers: Layers) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, traceId: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val durNs = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      stack = stack.tail
      val counts = layers.window(sc, startMs, endMs)
      synchronized {
        done += Span(id, name, traceId, parent, startMs, endMs, durNs, counts)
      }
    }
  }

  def spans: Seq[Span] = synchronized(done.toSeq.sortBy(_.id))

  /** Span time minus the time of its direct children. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent.contains(s.id)).map(_.ms).sum
    math.max(0.0, s.ms - kids)
  }

  def toJson: String = Json.arr(spans.map { s =>
    Json.obj(
      "id" -> s.id, "name" -> s.name, "trace" -> s.traceId,
      "parent" -> s.parent.getOrElse(null), "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "ms" -> s.ms, "self_ms" -> selfMs(s),
      "counts" -> s.counts.asMap)
  })
}

/** Minimal JSON writer for the harness's own outputs. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case raw: Raw => raw.text
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case xs: Iterable[_] => arr(xs.map(value).toSeq)
    case other => str(other.toString)
  }

  /** Already-encoded JSON, embedded verbatim. */
  final case class Raw(text: String)

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }
      .mkString("{", ",", "}"))

  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")
}
