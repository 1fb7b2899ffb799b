package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

/**
 * Attempted, failed and timed operations of one measured phase. An
 * operation that throws is failed and never timed; one whose output a
 * check later rejects is failed and its time withdrawn. Only operations
 * that succeeded and passed their checks contribute latency samples.
 */
final class OpLog {
  private val ids = new AtomicLong()
  private val ms = mutable.LinkedHashMap[Long, Double]()
  private val labels = mutable.Map[Long, String]()
  private val failures = mutable.ArrayBuffer[String]()
  private var attemptedN = 0L

  /** Runs and times one operation: Some((id, value)) on success. */
  def run[T](label: String)(body: => T): Option[(Long, T)] = {
    val id = ids.incrementAndGet()
    synchronized(attemptedN += 1)
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e6
    out match {
      case Right(v) => synchronized { ms(id) = dt; labels(id) = label }; Some((id, v))
      case Left(e) =>
        synchronized(failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Rejects a finished operation's output. */
  def fail(id: Long, why: String): Unit = synchronized {
    ms.remove(id)
    failures += why
    ()
  }

  /** Check helper: rejects `id` unless `ok`. */
  def check(id: Long, ok: Boolean, why: => String): Boolean = {
    if (!ok) fail(id, why)
    ok
  }

  def latencyMs(id: Long): Option[Double] = synchronized(ms.get(id))
  def latencies: Seq[Double] = synchronized(ms.values.toSeq)
  /** Timed operations (id order) with their labels. */
  def labelled: Seq[(Long, String, Double)] =
    synchronized(ms.toSeq.map { case (id, t) => (id, labels(id), t) })
  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failures.size.toLong)
  def failureMessages: Seq[String] = synchronized(failures.toSeq)
}
