package perfbench

import scala.collection.mutable

final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startUs: Long, endUs: Long) {
  def wallS: Double = (endUs - startUs) / 1e6
}

/** In-memory spans, written out when the run ends. Times are epoch
  * microseconds taken from one monotonic clock, so they line up with the
  * listener's epoch-millisecond job times.
  */
final class Tracer {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Run `body` inside a span; returns its result and the span. */
  def span[T](name: String, parent: Int, iter: Int)(body: Int => T): (T, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val start = nowUs
    val out = body(id)
    val s = Span(id, name, parent, iter, start, nowUs)
    synchronized(spans += s)
    (out, s)
  }

  def all: Seq[Span] = synchronized(spans.toSeq)
}
