package perfbench

import scala.collection.mutable

/** One timed interval of the run. Times are nanoseconds on the run's
  * wall clock (see [[Clock]]); `parent` is 0 for a root. `kind` is the
  * layer the span belongs to: "op" for a client call into the engine,
  * "job" for a Spark job, "batch" for a streaming micro-batch. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Length covered by the union of `[start, end)` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time: the span's duration minus the part of its interval its
    * children cover (children clipped to the parent, overlaps counted
    * once). */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - unionNs(children.map(c =>
      (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs))))

  /** Self time of every span of a tree, keyed by span id. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }
}

/** The run's single time base. Spark listener events carry epoch
  * milliseconds; client spans are taken with `nanoTime` for precision
  * and mapped onto the same epoch so the two can be compared. */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

/** In-memory span store; written out once when the run ends. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def add(s: Span): Unit = synchronized { buf += s }

  def spans: Seq[Span] = synchronized { buf.toList }
}
