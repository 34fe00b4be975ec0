package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is one call from the benchmark into a
  * layer; spans opened inside it on the same thread are its children, and
  * every span of one request shares the request's id. Counts are taken at
  * the same boundaries. Disabled (the untraced runs) a span is a plain
  * call. */
object Trace {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** A new request: its root span gets a fresh request id. */
  def request[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val saved = stack.get
      stack.set(Nil)
      try span(name)(f) finally stack.set(saved)
    }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, req) = outer.headOption.map { case (p, r) => (p, r) }
        .getOrElse((0L, id))
      stack.set((id, req) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum).getOrElse(0.0)

  def all: Seq[Span] = spans.asScala.toSeq

  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def total(name: String): Double = durations(name).sum

  /** Self time per span name: duration minus the time its direct children
    * cover (children of one span run on its thread, so they don't overlap). */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Util.json(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }
}

/** Engine statistics observed from outside the program: a SparkListener
  * (jobs, stages, tasks, shuffle, spill, GC, skew), a QueryExecution
  * listener (planning vs execution, exchanges in the executed plan), and
  * the JVM's MXBeans (JIT, GC, CPU) plus Spark's codegen counter. */
final class Engine(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val taskGcMs = new AtomicLong
  private val exchanges = new AtomicLong
  private val actions = new AtomicLong
  private val planNs = new AtomicLong
  private val execNs = new AtomicLong
  private val taskTimes = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val skews = new ConcurrentLinkedQueue[java.lang.Double]()
  @volatile var on = false
  private val inputBytesRead = new AtomicLong

  /** Bytes the scans read so far (counted whether or not observing). */
  def inputBytes: Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    inputBytesRead.get
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) inputBytesRead.addAndGet(m.inputMetrics.bytesRead)
      if (on) tasks.incrementAndGet()
      if (on && m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        taskGcMs.addAndGet(m.jvmGCTime)
        taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue())
          .add(m.executorRunTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      stages.incrementAndGet()
      Option(taskTimes.remove(e.stageInfo.stageId)).foreach { q =>
        val ts = q.asScala.map(_.toDouble).toSeq
        val med = Util.median(ts)
        if (ts.size >= 2 && med > 0) skews.add(ts.max / med)
      }
    }
  }

  private def countExchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: Exchange => e }.size

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        actions.incrementAndGet()
        execNs.addAndGet(durationNs)
        planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
        try exchanges.addAndGet(countExchanges(qe.executedPlan))
        catch { case _: Throwable => () }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  import Engine.{cpuMs, genCount, jitMs}
  private def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  private var base = (0.0, 0.0, 0.0, 0.0)

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def start(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Seq(jobs, stages, tasks, shuffleWrite, spill, taskGcMs, exchanges, actions, planNs, execNs)
      .foreach(_.set(0))
    taskTimes.clear(); skews.clear()
    base = (jitMs, gcMs, genCount, cpuMs)
    on = true
  }

  /** Stop observing and return the window's engine metrics. Waits for the
    * listener bus so events of the window's last job are counted. */
  def stop(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    on = false
    Map(
      "engine.plan_ms" -> planNs.get / 1e6,
      "engine.exec_ms" -> execNs.get / 1e6,
      "engine.actions" -> actions.get.toDouble,
      "engine.jit_s" -> (jitMs - base._1) / 1e3,
      "engine.gc_ms" -> (gcMs - base._2),
      "engine.task_gc_ms" -> taskGcMs.get.toDouble,
      "engine.codegen_classes" -> (genCount - base._3),
      "engine.cpu_s" -> (cpuMs - base._4) / 1e3,
      "engine.jobs" -> jobs.get.toDouble,
      "engine.stages" -> stages.get.toDouble,
      "engine.tasks" -> tasks.get.toDouble,
      "engine.task_skew" -> {
        val s = skews.asScala.map(_.doubleValue).toSeq
        if (s.isEmpty) 1.0 else Util.median(s)
      },
      "engine.exchanges" -> exchanges.get.toDouble,
      "engine.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "engine.spill_bytes" -> spill.get.toDouble)
  }
}

object Engine {
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
    case _ => 0.0
  }

  def jitMs: Double = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime.toDouble
    else 0.0
  }

  /** Classes Spark's whole-stage codegen has compiled so far. */
  def genCount: Double =
    try org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    catch { case _: Throwable => 0.0 }

  /** JIT ms, codegen class count and process cpu ms: cheap snapshot for the
    * measurement-conditions block of every run. */
  def conditions: (Double, Double, Double) = (jitMs, genCount, cpuMs)

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies of all cpus from /proc/stat; the steal share of
    * an interval tells how much cpu the host took from this machine. */
  def cpuTicks: (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val v = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.take(8).sum)
      } finally src.close()
    }
  }
}

/** Per-trigger durations of every streaming query, from the
  * StreamingQueryListener's progress events (always on: the trigger time
  * is an end-to-end metric of the continuous-collection workload). Drains
  * run one at a time, so a drain's triggers are the events after its
  * [[mark]]. */
final class TriggerLog(spark: SparkSession) {
  import TriggerLog.Progress
  private val events = scala.collection.mutable.ArrayBuffer.empty[Progress]
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ev = Progress(p.batchId,
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap, p.numInputRows)
      events.synchronized { events += ev }
    }
  })

  def mark(): Int = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    events.synchronized(events.size)
  }

  def since(mark: Int): Seq[Progress] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    events.synchronized(events.drop(mark).toSeq)
  }
}

object TriggerLog {
  final case class Progress(batchId: Long, durations: Map[String, Double], inputRows: Long)
}
