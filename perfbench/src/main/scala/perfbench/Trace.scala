package perfbench

import scala.collection.mutable

/** One timed interval. Spans of one query share `trace`; times are epoch ms. */
final case class Span(id: Int, parent: Int, trace: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
  def layer: String = name.takeWhile(_ != ':')
}

/** Span recorder. The benchmark opens spans around its calls into the program;
  * spans reported by listeners (plan phases, jobs, stages, micro-batches) are
  * added afterwards and hung under the innermost span that contains them.
  * Everything stays in memory until the run ends. */
final class Tracer {
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val done = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, String, String, Double)] = Nil // id, trace, name, start
  private var nextId = 1

  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  def span[T](name: String, trace: String = "")(body: => T): T = {
    val id = nextId; nextId += 1
    val t = if (trace.nonEmpty) trace else open.headOption.map(_._2).getOrElse("")
    open = (id, t, name, nowMs) :: open
    try body
    finally {
      val (_, _, _, start) = open.head
      open = open.tail
      done += Span(id, open.headOption.map(_._1).getOrElse(0), t, name, start, nowMs)
    }
  }

  /** Adds a listener-reported span under `parent`, or else under the
    * innermost span of the same trace (any trace when `trace` is empty) that
    * contains it. Listener times are whole milliseconds, hence the slack.
    * Jobs, stages and planning phases never contain other listener spans. */
  def attach(name: String, trace: String, start: Double, end: Double,
      parent: Option[Span] = None): Span = {
    val p = parent.orElse {
      val c = done.iterator.filter(s => (trace.isEmpty || s.trace == trace) &&
        s.start <= start + 1.0 && end <= s.end + 1.0 &&
        s.layer != "job" && s.layer != "stage" && !s.layer.startsWith("plan."))
      if (c.isEmpty) None else Some(c.minBy(_.dur))
    }
    val id = nextId; nextId += 1
    val s = Span(id, p.map(_.id).getOrElse(0), p.map(_.trace).getOrElse(trace),
      name, start, math.max(start, end))
    done += s
    s
  }

  def spans: Seq[Span] = done.toList
}

object Trace {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each layer: a span's duration minus the part its children
    * cover, summed per layer name. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.dur - covered(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
        s.start, s.end)).sum
    }
  }

  def toJson(spans: Seq[Span]): String = Json(spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start_ms" -> s.start, "end_ms" -> s.end)))
}
