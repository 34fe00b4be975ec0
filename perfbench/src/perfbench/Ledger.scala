package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Attempts, failures and latencies of one measured loop. Every exception
  * and every wrong answer counts against the attempts with its class; a
  * failed operation never contributes a wall time. */
final class Ledger {
  final case class Sample(kind: String, ms: Double, units: Double, tag: String)

  /** Wall seconds of the loop that filled this ledger, where it has clients. */
  @volatile var wallS: Double = Double.NaN
  private val attempts = new AtomicLong
  private val errors = new ConcurrentHashMap[String, AtomicLong]()
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
  private val firstError = new ConcurrentHashMap[String, String]()

  private def fail(cls: String, msg: String): Unit = {
    errors.computeIfAbsent(cls, _ => new AtomicLong).incrementAndGet()
    firstError.putIfAbsent(cls, Option(msg).getOrElse("").take(300))
  }

  /** Time `op`, then run `check` on its result outside the timed region.
    * `check` returns None when correct, or what was wrong. `units` is the
    * work one successful op did (rows, requests), for throughput. */
  def run[T](kind: String, units: T => Double = (_: T) => 1.0, tag: String = "")(op: => T)(
      check: T => Option[String]): Option[T] = {
    attempts.incrementAndGet()
    val t0 = System.nanoTime()
    val r = try Right(op) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) =>
        fail(s"$kind:${Util.errorClass(e)}", e.getMessage); None
      case Right(v) =>
        val bad = try check(v) catch { case e: Throwable => Some(s"check threw ${Util.errorClass(e)}: ${e.getMessage}") }
        bad match {
          case Some(why) => fail(s"$kind:WrongResult", why); None
          case None => samples.add(Sample(kind, ms, units(v), tag)); Some(v)
        }
    }
  }

  /** A successful operation timed elsewhere (e.g. a streaming trigger). */
  def record(kind: String, ms: Double, units: Double, tag: String): Unit = {
    attempts.incrementAndGet()
    samples.add(Sample(kind, ms, units, tag))
  }

  def attempted: Long = attempts.get
  def failed: Long = errors.values.asScala.map(_.get).sum
  def all: Seq[Sample] = samples.asScala.toSeq
  def of(kind: String): Seq[Sample] = all.filter(_.kind == kind)
  def ms(kinds: String*): Seq[Double] = all.filter(s => kinds.contains(s.kind)).map(_.ms)
  def errorsByClass: Map[String, Long] = errors.asScala.map { case (k, v) => k -> v.get }.toMap
  def errorSamples: Map[String, String] = firstError.asScala.toMap
}
