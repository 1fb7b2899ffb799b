package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` 0 = the operation's
  * root. A `durationOnly` span has a measured length but no position (a
  * global counter delta such as codegen compile time): it is charged to its
  * parent's interval without being placed in it. */
final case class Span(op: Long, id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long, durationOnly: Boolean = false) {
  def durNs: Long = endNs - startNs
}

/**
 * In-memory span recorder. Spans of one operation share `op`; nothing is
 * written until [[write]] at the end of the run, so recording costs one
 * queue insert per span. A disabled tracer records nothing and [[span]]
 * only runs its body.
 */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  /** Wall-clock milliseconds (Spark's event and phase times) → this JVM's
    * nanoTime scale. */
  private val msToNanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromMillis(ms: Long): Long = ms * 1000000L + msToNanoOffset

  def newOp(): Long = ids.incrementAndGet()

  def record(op: Long, parent: Long, layer: String, name: String, startNs: Long,
      endNs: Long, durationOnly: Boolean = false): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(op, id, parent, layer, name, startNs, endNs, durationOnly))
    id
  }

  /** Times `body` as a span; the body receives the span's id so it can
    * parent its own children. */
  def span[T](op: Long, parent: Long, layer: String, name: String)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled)
      spans.add(Span(op, id, parent, layer, name, t0, System.nanoTime()))
  }

  /** Places a positioned interval under the innermost span of `op` that
    * contains its midpoint (the op's root when none does). */
  def attach(op: Long, layer: String, name: String, startNs: Long, endNs: Long): Unit = {
    val mid = startNs + (endNs - startNs) / 2
    val host = spans.asScala.iterator
      .filter(s => s.op == op && !s.durationOnly && s.startNs <= mid && mid <= s.endNs)
      .minByOption(_.durNs)
    record(op, host.map(_.id).getOrElse(0L), layer, name, startNs, endNs)
    ()
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(s => (s.op, s.startNs)).map { s =>
      s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name.replace("\"", "'")}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"duration_only":${s.durationOnly}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Trace {

  /** Overlapping intervals merged into disjoint ones. */
  def merge(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = merge(iv).map { case (s, e) => e - s }.sum

  /** Self time per layer, summed over all spans: a span's length minus the
    * part of it its positioned children cover, minus its duration-only
    * children. Self times of one operation add up to its root's length. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.filter(_.parent != 0).groupBy(s => (s.op, s.parent))
    spans.map { s =>
      val cs = kids.getOrElse((s.op, s.id), Nil)
      val placed = covered(cs.filterNot(_.durationOnly)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      val charged = cs.filter(_.durationOnly).map(_.durNs).sum
      val self = if (s.durationOnly) s.durNs else math.max(0L, s.durNs - placed - charged)
      s.layer -> self
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
