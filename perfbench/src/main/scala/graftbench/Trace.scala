package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `trace` groups the spans of one pass or
  * one trigger; `parent` is the span that caused this one (0 for a root).
  * Times are epoch microseconds, so spans from Spark's listener events
  * (epoch milliseconds) and from the live generator share one clock.
  */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, startUs: Long, endUs: Long)

/** In-memory span store, written out once when the run ends. A disabled
  * tracer records nothing and allocates nothing per call.
  */
final class Trace(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = ArrayBuffer.empty[Span]

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  /** Time `body` as a span of `layer`; returns its result. */
  def span[T](trace: String, parent: Long, layer: String, name: String,
      id: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val sid = if (id == 0L) nextId() else id
      val t0 = Trace.nowUs()
      try body
      finally add(Span(sid, parent, trace, layer, name, t0, Trace.nowUs()))
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", if (lines.isEmpty) "" else "\n"))
  }
}

object Trace {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds from the monotonic clock. */
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}
