package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is the id of the enclosing span (-1 for an operation's root)
  * and `op` the operation the span belongs to (-1 outside any operation). */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, op: Int) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans the harness opens around its calls into
  * the engine nest by construction (one client thread); spans reported by
  * listeners (jobs, planning phases) carry millisecond timestamps and are
  * attached afterwards to the innermost harness span that contains them.
  * Nothing is written until the run ends. */
final class Tracer {
  /** Spans are recorded only while enabled (the traced passes). */
  var enabled = false
  private val wall0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds on the monotonic clock, comparable with listener
    * timestamps (epoch milliseconds). */
  def nowUs: Long = wall0Us + (System.nanoTime() - nano0) / 1000L

  private val own = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Runs `body` inside a span named `name`; records it when enabled. */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowUs
      try body
      finally {
        stack = stack.tail
        own += Span(id, name, t0, nowUs, parent, op)
      }
    }

  /** Harness spans plus `external` ones (start/end in epoch ms), each
    * external span attached to the innermost harness span containing its
    * start. Listener timestamps are truncated to the millisecond, so an
    * interval may poke out of its parent by less than 1 ms; only that
    * rounding is clipped. Spans outside every operation are dropped. */
  def assemble(external: Seq[(String, Long, Long)]): Seq[Span] = {
    val roots = own.filter(_.parent < 0).sortBy(_.start)
    val byParent = own.groupBy(_.parent)
    def innermost(s: Span, t: Long): Span =
      byParent.getOrElse(s.id, Nil).find(c => c.start - 1000 <= t && t < c.end)
        .map(innermost(_, t)).getOrElse(s)
    var id = nextId
    val attached = external.flatMap { case (name, startMs, endMs) =>
      val (s, e) = (startMs * 1000L, math.max(startMs, endMs) * 1000L)
      roots.find(r => r.start - 1000 <= s && s < r.end).map { root =>
        val p = innermost(root, s)
        val cs = if (s < p.start && p.start - s < 1000) p.start else s
        val ce = if (e > p.end && e - p.end < 1000) p.end else e
        id += 1
        Span(id, name, cs, math.max(cs, ce), p.id, root.op)
      }
    }
    own.toSeq ++ attached
  }
}

object Tracer {
  /** Layer of a span: its name up to the first ':' (`op:<query>` → `op`). */
  def layer(s: Span): String = s.name.takeWhile(_ != ':')

  /** Span duration minus the part of it that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))))
    }.toMap
  }

  /** Union length of intervals (for the driver gap: wall minus job spans). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }
}
