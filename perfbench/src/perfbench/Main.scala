package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the one session, the seed, its private
  * run directory, and the observers. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: File) {
  lazy val engine = new Engine(spark)
  lazy val triggers = new TriggerLog(spark)
  def sub(name: String): File = { val f = new File(dir, name); f.mkdirs(); f }
}

/** One benchmark workload: seeded inputs, untimed preparation, a closed
  * measured loop, and a staged per-layer breakdown for the traced run. */
trait Workload {
  def name: String
  /** Generate the seeded inputs (repeated for the set-up median). */
  def generate(ctx: Ctx): Unit
  /** Fixtures and warm-up, once per run, untimed. */
  def prepare(ctx: Ctx): Unit
  /** Closed loop for about `seconds`, recording into `l`. */
  def loop(ctx: Ctx, seconds: Double, l: Ledger): Unit
  /** Sample kinds whose latencies are the workload's operations. */
  def opKinds: Seq[String]
  /** Completed operations per second. One client: operations over their
    * summed wall time (the untimed checks between them excluded). */
  def opsPerS(l: Ledger): Double = {
    val ms = l.ms(opKinds: _*)
    ms.size / math.max(ms.sum / 1e3, 1e-9)
  }
  /** The workload's named end-to-end metrics: name -> (value, unit). */
  def named(l: Ledger): Seq[(String, Double, String)]
  /** Traced, staged calls into each layer the workload uses:
    * per-layer metric name -> value. Operations it runs are checked as in
    * the loop and recorded into `l`. */
  def layers(ctx: Ctx, l: Ledger): Map[String, Double]
  /** Input properties, for the record. */
  def inputs: Map[String, Any]
  /** Workload-specific fields of the result. */
  def extra: Map[String, Any] = Map.empty
}

object Main {
  val Workloads = Seq("batch_collect", "continuous_collect", "interactive_query", "registry_board")

  def workload(name: String, mini: Boolean): Workload = name match {
    case "batch_collect" => new BatchCollect(mini)
    case "continuous_collect" => new ContinuousCollect(mini)
    case "interactive_query" => new InteractiveQuery(mini)
    case "registry_board" => new RegistryBoard(mini)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Point the program's scratch root (`graft.Scratch.root`: streaming
    * checkpoints, query fixtures, shuffle scratch) into the run directory.
    * The program picks tmpfs when it can write there; the benchmark must
    * read and write only inside its checkout, so it overrides the root (a
    * lazy val, set here before first use) and leaves every other scratch
    * policy, `sparkLocalDir`, `runDir`, `fixtureDir`, to the program. */
  private def redirectScratch(dir: File): Unit = {
    val cls = Class.forName("graft.Scratch$")
    val root = cls.getDeclaredField("root"); root.setAccessible(true)
    val flag = cls.getDeclaredField("bitmap$0"); flag.setAccessible(true)
    root.set(null, dir.getAbsolutePath)
    flag.setBoolean(null, true)
    require(graft.Scratch.root == dir.getAbsolutePath, "scratch root not redirected")
  }

  /** The one session of a run, over `dir`, with `graft.Bench`'s engine
    * confs at local[cpus]. */
  def session(dir: File, cpus: Int): SparkSession = {
    redirectScratch(dir)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", graft.Scratch.sparkLocalDir("perfbench"))
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) Double.NaN
    else scala.io.Source.fromFile(f).getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val dir = new File(arg(args, "--dir").getOrElse(sys.error("--dir required"))).getAbsoluteFile
    val cpus = Runtime.getRuntime.availableProcessors
    dir.mkdirs()
    System.setProperty("derby.system.home", new File(dir, "derby").getAbsolutePath)
    System.setProperty("derby.stream.error.file", new File(dir, "derby.log").getAbsolutePath)

    val load0 = Engine.loadAvg
    val t0 = System.nanoTime()
    val spark = session(dir, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, seed, dir)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w = workload(name, mini = false)
    // set-up: input generation three times (median), then fixtures + warm-up
    val genS = Util.median((1 to 3).map(_ => Util.timed(w.generate(ctx))._2 / 1e3))
    val prepS = Util.timed(w.prepare(ctx))._2 / 1e3
    val setupS = sessionS + genS + prepS

    val (jit0, gen0, cpu0) = Engine.conditions
    val (steal0, ticks0) = Engine.cpuTicks
    val l = new Ledger
    val loopT0 = System.nanoTime()
    w.loop(ctx, seconds, l)
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val (jit1, gen1, cpu1) = Engine.conditions
    val (steal1, ticks1) = Engine.cpuTicks

    val ops = w.opKinds.flatMap(k => l.of(k))
    val opMs = ops.map(_.ms)
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_ms_geomean" -> (Util.geomean(opMs), "ms"),
      "op_ms_p90" -> (Util.quantile(opMs, 0.9), "ms"),
      "ops_per_s" -> (w.opsPerS(l), "1/s"),
      "peak_rss_mb" -> (peakRssMb, "MB"))

    var layers = Map.empty[String, Double]
    val tl = new Ledger
    if (traced) {
      // traced pass of the same loop, then the staged per-layer breakdown of
      // this workload and of the layers only the other workloads reach
      Trace.enabled = true
      ctx.engine.start()
      val tT0 = System.nanoTime()
      w.loop(ctx, seconds, tl)
      val tS = (System.nanoTime() - tT0) / 1e9
      val eng = ctx.engine.stop()
      val tOps = w.opKinds.flatMap(k => tl.of(k)).map(_.ms)
      layers ++= eng
      layers += "trace.overhead_frac" -> (Util.geomean(tOps) / Util.geomean(opMs) - 1.0)
      layers += "trace.loop_s" -> tS
      layers ++= w.layers(ctx, tl)
      Main.Workloads.filterNot(_ == name).foreach { other =>
        val m = workload(other, mini = true)
        val mctx = new Ctx(spark, seed, new File(dir, s"mini-$other"))
        m.generate(mctx); m.prepare(mctx)
        layers ++= m.layers(mctx, tl)
      }
      layers ++= Trace.selfMs.map { case (k, v) => s"$k.self_ms" -> v }
      Trace.enabled = false
      Trace.write(new File(dir.getParentFile.getParentFile, s"traces/$name-$seed.jsonl"))
    }
    val load1 = Engine.loadAvg
    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> name, "seed" -> seed,
      "attempted" -> (l.attempted + tl.attempted), "failed" -> (l.failed + tl.failed),
      "errors" -> (tl.errorsByClass ++ l.errorsByClass.map { case (k, v) =>
        k -> (v + tl.errorsByClass.getOrElse(k, 0L)) }),
      "error_samples" -> (tl.errorSamples ++ l.errorSamples),
      "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> w.named(l).map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers,
      "inputs" -> w.inputs,
      "extra" -> w.extra,
      "conditions" -> Map("cpus" -> cpus, "heap_max_mb" -> rt.maxMemory / 1048576,
        "load_start" -> load0, "load_end" -> load1, "loop_s" -> loopS,
        "session_s" -> sessionS, "generate_s" -> genS, "prepare_s" -> prepS,
        "loop_cpu_s" -> (cpu1 - cpu0) / 1e3, "loop_jit_s" -> (jit1 - jit0) / 1e3,
        "loop_codegen_classes" -> (gen1 - gen0),
        "loop_steal_frac" -> (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0)))
    println("PERFBENCH_RESULT " + Util.json(result))
    System.out.flush()
    spark.stop()
  }
}
