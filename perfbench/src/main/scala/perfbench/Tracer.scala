package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Each span is a call the
  * benchmark makes into one module's public API: name, start, end, the
  * span that caused it, and the request id (message file, scan or query)
  * it serves. Nothing is written until [[write]] at the end of the run.
  * A disabled tracer records nothing and only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, req, t0, t1) }
      }
    }

  /** A span measured elsewhere (e.g. reported by a listener). */
  def record(name: String, req: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, 0, name, req, startNs, endNs)
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time of a span: its duration minus the part its children cover. */
  def selfNs(s: Span): Long = {
    val kids = all.filter(_.parent == s.id)
    s.endNs - s.startNs - kids.map(k => k.endNs - k.startNs).sum
  }

  def write(path: java.nio.file.Path, extra: Seq[Map[String, Any]]): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Json(Map("span" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6,
        "self_ms" -> selfNs(s) / 1e6))
    } ++ extra.map(Json(_))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, req: String,
      startNs: Long, endNs: Long)
}
