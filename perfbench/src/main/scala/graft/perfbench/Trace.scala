package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory spans for the traced run: name, start, end (epoch µs), parent
  * span and trace id. Written out once, when the run ends. */
final class Spans {
  import Spans.Span
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  def newId(): Int = ids.incrementAndGet()

  /** Record a span measured elsewhere (listener callbacks, progress). */
  def add(name: String, parent: Int, trace: String, start: Long, end: Long,
      id: Int = newId()): Int = {
    spans.synchronized(spans += Span(id, parent, name, trace, start, end))
    id
  }

  /** Time `body` as a span; the body gets the span's id for its children. */
  def span[T](name: String, parent: Int, trace: String)(body: Int => T): T = {
    val id = newId()
    val t0 = Common.nowUs()
    try body(id) finally add(name, parent, trace, t0, Common.nowUs(), id)
  }

  /** Re-parent the unparented `name` spans that lie inside [start, end]. */
  def adopt(name: String, parent: Int, trace: String, start: Long, end: Long): Unit =
    spans.synchronized {
      for (i <- spans.indices) {
        val s = spans(i)
        if (s.name == name && s.parent == 0 && s.start >= start - 1000 && s.start <= end)
          spans(i) = s.copy(parent = parent, trace = trace)
      }
    }

  def write(path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    try spans.synchronized(spans.foreach { s =>
      val parent = if (s.parent == 0) "null" else s.parent.toString
      w.write(s"""{"id":${s.id},"parent":$parent,"name":"${s.name}",""" +
        s""""trace":"${s.trace}","start":${s.start},"end":${s.end}}""" + "\n")
    }) finally w.close()
  }
}

object Spans {
  private final case class Span(id: Int, parent: Int, name: String,
      trace: String, start: Long, end: Long)
}
