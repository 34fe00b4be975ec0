package perfbench

import java.io.File
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Small shared helpers: JSON rendering, order statistics, deadlines. */
object Util {

  // ---- JSON --------------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  // ---- statistics --------------------------------------------------------

  /** Linear-interpolated quantile (q in [0,1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  /** Result and wall milliseconds of `f`. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Whole cycles of `body` for `seconds`: one per `nominalS` seconds
    * (at least one). The count depends on `seconds` alone, not on how fast
    * the cycles run, so every run measures the same work and a faster
    * program finishes it sooner. */
  def cycles(seconds: Double, nominalS: Double)(body: => Unit): Unit =
    (1 to math.max(1, (seconds / nominalS).toInt)).foreach(_ => body)

  // ---- files -------------------------------------------------------------

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(du).sum
    else f.length()

  def filesUnder(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
        .flatMap(filesUnder)
    else Seq(f)

  // ---- deadlines ---------------------------------------------------------

  /** Timer thread behind every bench-side deadline. */
  lazy val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-deadline"); t.setDaemon(true); t
    }

  final class DeadlineExceeded(what: String, ms: Long)
      extends RuntimeException(s"$what exceeded its $ms ms deadline")

  /** Run `f` with its Spark jobs in a fresh job group that is cancelled
    * after `ms`; a cancelled call surfaces as [[DeadlineExceeded]]. */
  def withDeadline[T](spark: SparkSession, what: String, ms: Long)(f: => T): T = {
    val sc = spark.sparkContext
    val group = s"perfbench-${java.util.UUID.randomUUID()}"
    @volatile var fired = false
    sc.setJobGroup(group, what, interruptOnCancel = true)
    val task = timer.schedule((() => { fired = true; sc.cancelJobGroup(group) }): Runnable,
      ms, TimeUnit.MILLISECONDS)
    try {
      val r = f
      if (fired) throw new DeadlineExceeded(what, ms)
      r
    } catch {
      case e: Throwable if fired && !e.isInstanceOf[DeadlineExceeded] =>
        throw new DeadlineExceeded(what, ms)
    } finally {
      task.cancel(false)
      sc.clearJobGroup()
    }
  }

  /** Stop every active streaming query after `ms` — the bench-side bound
    * on a drain whose own wait is unbounded. Returns a cancel handle and a
    * flag telling whether it fired. */
  def streamDeadline(spark: SparkSession, ms: Long)
      : (() => Unit, () => Boolean) = {
    @volatile var fired = false
    val task = timer.schedule((() => {
      fired = true
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    }): Runnable, ms, TimeUnit.MILLISECONDS)
    (() => { task.cancel(false); () }, () => fired)
  }

  /** Error class of a failure, unwrapping the wrappers Spark adds. */
  def errorClass(e: Throwable): String = {
    var c = e
    while ((c.isInstanceOf[java.util.concurrent.ExecutionException] ||
        c.getClass.getName.endsWith("SparkException") ||
        c.getClass.getName.endsWith("StreamingQueryException")) &&
        c.getCause != null && (c.getCause ne c)) c = c.getCause
    c.getClass.getSimpleName
  }
}
