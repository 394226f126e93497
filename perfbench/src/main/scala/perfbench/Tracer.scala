package perfbench

import scala.collection.mutable

/** One layer boundary crossed in a traced iteration. Times are epoch
  * milliseconds; `parent` is 0 for a root span. Spans of one iteration
  * share `iteration`, the trace identifier. */
final case class Span(id: Int, parent: Int, name: String, iteration: Int,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Records spans in memory around calls into the program's layers; the
  * benchmark writes them out when it ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  var iteration = 0

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val start = nowMs
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, iteration, start, nowMs)
    }
  }

  /** Seconds spent in each span name during one iteration. */
  def seconds(iteration: Int): Map[String, Double] =
    spans.filter(_.iteration == iteration).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.seconds).sum }

  def toJson: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","trace":${s.iteration},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
