package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call. `parent` is 0 for an op's root span; every span of
  * one op carries that op's root id as `op`. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into the
  * engine's layers. Off by default: with tracing off `op` and `span`
  * only run their body, so the end-to-end run pays nothing for them.
  *
  * An op is a root span of layer [[Trace.Driver]]; its self time — the
  * part of its wall time no layer span covers — is the `driver_other`
  * residual. */
object Trace {
  val Driver = "driver"

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  // (span id, op id) of the innermost open span on this thread
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def op[T](name: String)(body: => T): T = timed(Driver, name, root = true)(body)

  def span[T](layer: String, name: String)(body: => T): T =
    timed(layer, name, root = false)(body)

  private def timed[T](layer: String, name: String, root: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val (parent, opId) =
        if (root || stack.isEmpty) (0L, id) else (stack.head._1, stack.head._2)
      open.set((id, opId) :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, parent, opId, layer, name, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** Record a span measured elsewhere (the streaming layer reports its
    * per-batch phases as durations, not as calls). */
  def record(s: Span): Unit = spans.add(s)

  def nextId(): Long = ids.incrementAndGet()

  def recorded: Seq[Span] = spans.asScala.toSeq

  def clear(): Unit = spans.clear()

  /** Length of the union of `[start, end)` intervals, clipped to
    * `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval its children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(cs, s.startNs, s.endNs))
    }.toMap
  }

  /** Self time summed per layer; the [[Driver]] entry is the
    * `driver_other` residual. Over whole ops the entries sum to the
    * ops' wall time. */
  def selfByLayer(all: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(all)
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Inclusive time summed per span name. */
  def totalByName(all: Seq[Span]): Map[String, Long] =
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durNs).sum }

  def toJsonLines(all: Seq[Span]): Iterator[String] = all.sortBy(_.startNs).iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}
