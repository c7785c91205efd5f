package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded span. `op` is shared by the spans of one query or
  * operation; `parent` is 0 for a root span. Times are nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      start: Long, end: Long)

/** In-memory span recorder for the traced run. Spans nest per thread;
  * nothing is written until the run ends. Disabled, `span` only runs
  * its body, so the untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** A fresh operation id: spans opened under `op` share it. */
  def newOp(): Long = ids.incrementAndGet()

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, parentOp) = outer.headOption.getOrElse((0L, 0L))
      val useOp = if (op != 0L) op else if (parentOp != 0L) parentOp else id
      stack.set((id, useOp) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, useOp, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Record a span whose boundaries were measured elsewhere (the
    * build's stage events arrive as "name seconds" after the fact). */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled) {
      val outer = stack.get()
      val (parent, op) = outer.headOption.getOrElse((0L, 0L))
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, if (op != 0L) op else id, name, start, end))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Per span name: (calls, total ns, self ns). Self time is a span's
    * duration minus the union of its children's intervals. */
  def summary: Seq[(String, Long, Long, Long)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val agg = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    ss.foreach { s =>
      val dur = s.end - s.start
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      val (n, tot, self) = agg.getOrElse(s.name, (0L, 0L, 0L))
      agg(s.name) = (n + 1, tot + dur, self + math.max(0L, dur - covered))
    }
    agg.toSeq.map { case (k, (n, t, s)) => (k, n, t, s) }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Cost of one enabled span, measured on this JVM, in ns. */
  def spanCostNs(): Double = {
    val probe = new Tracer(true)
    val n = 200000
    var i = 0
    val t0 = System.nanoTime()
    while (i < n) { probe.span("probe")(i += 1) }
    (System.nanoTime() - t0).toDouble / n
  }

  def json: String = {
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    Json.obj(Seq(
      "spans" -> Json.arr(all.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name),
        "start_us" -> Json.num((s.start - t0) / 1e3),
        "end_us" -> Json.num((s.end - t0) / 1e3))))),
      "summary" -> Json.arr(summary.map { case (n, c, t, s) =>
        Json.obj(Seq("name" -> Json.str(n), "calls" -> c.toString,
          "total_s" -> Json.num(t / 1e9), "self_s" -> Json.num(s / 1e9)))
      })))
  }
}
