package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.{DataTypeSchema, SchemaRegistry}

/** Continuous collection: a backlog of manifests, each naming at most 10
  * small objects (the reference's continuous-collection batch limit),
  * drained by `StreamingCollect.runContinuousCollection` into embedded
  * Derby through `JdbcSink`, with an `invocations` status row per batch.
  * Drains alternate between the ApplicationLB and VPC flow shapes; each
  * drain writes a fresh table. The operations are the micro-batches.
  *
  * Check per drain: the Derby rows, compared as a multiset (count and a
  * hash sum over every column rendered as text) with the batch reader
  * (`IngestReader.csv`) over the same objects, and the `invocations` rows
  * (one per manifest, their `nrecords` summing to the rows). */
final class ContinuousCollect(mini: Boolean) extends Workload {
  val name = "continuous_collect"

  private val objectsPerKind = 40
  private val rowsPerObject = 150
  private val manifestsPerDrain = 4
  private val perManifest = 10
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val instanceMemoryMb = 2000L
  private val engineName = "postgres"
  private val kinds = Seq("alb" -> "ApplicationLB", "vpcflow" -> "VPCFlow")

  private var objects = Map.empty[String, Seq[Gen.Obj]]
  private var drains = 0

  private def props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private def schema(kind: String): DataTypeSchema = SchemaRegistry.builtins(kinds.toMap.apply(kind))

  def generate(ctx: Ctx): Unit = {
    val dir = new File(ctx.dir, "cc-objects")
    Util.rm(dir)
    // same generator as the batch lake, small objects only; the CSV shapes
    val shape = Gen.LakeShape((0, 0, objectsPerKind, rowsPerObject), (0, 0, objectsPerKind, rowsPerObject),
      (0, 0, 1, 1), (0, 0, 1, 1), 0.03)
    val lake = Gen.lake(ctx.seed + 1000003L, dir, shape)
    objects = Map("alb" -> lake.objects("alb"), "vpcflow" -> lake.objects("vpcflow"))
  }

  def inputs: Map[String, Any] = Map(
    "loop" -> "closed, 1 client, one drain at a time",
    "manifests_per_drain" -> manifestsPerDrain, "objects_per_manifest" -> perManifest,
    "object_rows" -> rowsPerObject, "objects_per_shape" -> objectsPerKind,
    "shapes" -> kinds.map(_._2), "sink" -> "embedded Derby (in memory) via JdbcSink",
    "jdbc_writer_partitions" -> graft.sinks.JdbcSink.writerPartitions(instanceMemoryMb, engineName))

  /** Objects of drain `n`: a seeded window over the shape's objects. */
  private def drainObjects(kind: String, n: Int, seed: Long): Seq[Seq[String]] = {
    val all = objects(kind).map(_.path.getAbsolutePath)
    val start = ((seed + n * 7L) % all.size).toInt
    (0 until manifestsPerDrain).map { m =>
      (0 until perManifest).map(i => all((start + m * perManifest + i) % all.size))
    }
  }

  final case class Drained(kind: String, table: String, jobid: String, files: Seq[String],
      triggers: Seq[Double])

  /** One drain: write the manifests, run the stream to completion under a
    * bench-side deadline, return its triggers' durations. */
  private def drain(ctx: Ctx, kind: String): Drained = {
    drains += 1
    val n = drains
    val manifests = drainObjects(kind, n, ctx.seed)
    val mdir = new File(ctx.dir, s"manifests/$n"); mdir.mkdirs()
    manifests.zipWithIndex.foreach { case (files, i) =>
      java.nio.file.Files.writeString(new File(mdir, f"m$i%03d.txt").toPath, files.mkString("\n") + "\n")
    }
    val table = s"cc_${kind}_$n"
    val jobid = s"job-$n"
    val mark = ctx.triggers.mark()
    val (cancel, fired) = Util.streamDeadline(ctx.spark, 60000)
    try Trace.request("streaming.StreamingCollect") {
      graft.streaming.StreamingCollect.runContinuousCollection(ctx.spark,
        graft.streaming.StreamingCollect.StreamSpec(schema(kind), new File(ctx.dir, "cc-objects").getAbsolutePath),
        mdir.getAbsolutePath, url, props, table, instanceMemoryMb, engineName, jobid)
    } finally cancel()
    if (fired()) throw new Util.DeadlineExceeded(s"drain $n", 60000)
    val trig = ctx.triggers.since(mark)
    lastProgress = trig
    Drained(kind, table, jobid, manifests.flatten, trig.map(_.durations.getOrElse("triggerExecution", 0.0)))
  }
  private var lastProgress: Seq[TriggerLog.Progress] = Nil

  /** Order-free fingerprint of a frame: row count and the sum of a 64-bit
    * hash of every column rendered as text. */
  private[perfbench] def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val h = xxhash64(cols.map(c => col(s"`$c`").cast("string")): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")).cast("string")).head()
    (r.getLong(0), Option(r.getString(1)).map(BigDecimal(_).toLong).getOrElse(0L))
  }

  private def check(spark: SparkSession, d: Drained): Option[String] = {
    val sc = schema(d.kind)
    val cols = sc.fields.map(_.name)
    val derby = graft.sinks.JdbcSink.read(spark, url, d.table, props)
    val got = fingerprint(derby, cols)
    val batch = fingerprint(graft.sources.IngestReader.csv(spark, sc, d.files: _*), cols)
    val inv = graft.sinks.JdbcSink.read(spark, url, "invocations", props)
      .where(col("jobid") === d.jobid)
      .agg(count(lit(1)), coalesce(sum(col("nrecords")), lit(0L))).head()
    dropTable(d.table)
    if (got._1 != batch._1) Some(s"${d.kind}: Derby has ${got._1} rows, batch reader ${batch._1}")
    else if (got._2 != batch._2) Some(s"${d.kind}: Derby rows differ from the batch reader's (same count ${got._1})")
    else if (inv.getLong(0) != manifestsPerDrain) Some(s"${d.kind}: ${inv.getLong(0)} invocations rows, want $manifestsPerDrain")
    else if (inv.getLong(1) != got._1) Some(s"${d.kind}: invocations nrecords ${inv.getLong(1)}, want ${got._1}")
    else if (d.triggers.size != manifestsPerDrain) Some(s"${d.kind}: ${d.triggers.size} triggers, want $manifestsPerDrain")
    else None
  }

  private def dropTable(t: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try { val st = c.createStatement(); st.execute(s"DROP TABLE $t"); st.close() }
    catch { case _: java.sql.SQLException => () }
    finally c.close()
  }

  def prepare(ctx: Ctx): Unit =
    if (!mini) (1 to 3).foreach { i =>
      try { val d = drain(ctx, kinds(i % 2)._1); dropTable(d.table) } catch { case _: Throwable => () }
    }

  def loop(ctx: Ctx, seconds: Double, l: Ledger): Unit = {
    var i = 0
    Util.cycles(seconds, 5) { // a drain of 4 triggers: about 5 s on 4 cores
      val kind = kinds(i % 2)._1
      i += 1
      l.run[Drained]("drain", d => d.files.size.toDouble * rowsPerObject, kind)(drain(ctx, kind))(
        d => check(ctx.spark, d)).foreach { d =>
        d.triggers.foreach(ms => l.record("trigger", ms, rowsPerObject * perManifest, kind))
      }
    }
  }

  def opKinds: Seq[String] = Seq("trigger")

  def named(l: Ledger): Seq[(String, Double, String)] = {
    val t = l.ms("trigger")
    val d = l.of("drain")
    Seq(("cc_rows_per_s", d.map(_.units).sum / math.max(d.map(_.ms).sum / 1e3, 1e-9), "1/s"),
      ("cc_trigger_ms_p50", Util.median(t), "ms"),
      ("cc_trigger_ms_p90", Util.quantile(t, 0.9), "ms"))
  }

  def layers(ctx: Ctx, l: Ledger): Map[String, Double] = {
    val m = scala.collection.mutable.Map.empty[String, Double]
    l.run[Drained]("drain", d => d.files.size.toDouble * rowsPerObject, "alb")(drain(ctx, "alb"))(
      d => check(ctx.spark, d))
    // per-trigger means over the probe drain (the durations are whole ms)
    def mean(k: String) = lastProgress.map(_.durations.getOrElse(k, 0.0)).sum / lastProgress.size
    m("trigger.add_batch_ms") = mean("addBatch")
    m("trigger.planning_ms") = mean("queryPlanning")
    m("trigger.latest_offset_ms") = mean("latestOffset")
    m("trigger.get_batch_ms") = mean("getBatch")
    m("trigger.wal_commit_ms") = mean("walCommit")
    m("trigger.commit_offsets_ms") = mean("commitOffsets")
    m("trigger.rows") = lastProgress.map(_.inputRows).sum.toDouble
    // one trigger's batch, read as the manifest path reads it, materialized;
    // then the JDBC append of it alone
    val spark = ctx.spark
    val sc = schema("alb")
    val files = drainObjects("alb", 1, ctx.seed).head
    val frame = Trace.span("streaming.manifestBatch") {
      graft.functions.Coerce(spark.read.option("header", sc.input.csvHeader)
        .option("sep", sc.input.fieldDelimiter).option("quote", sc.input.quoteCharacter)
        .schema(sc.rawSchema).csv(files: _*), sc).localCheckpoint()
    }
    val rows = frame.count()
    val (_, ms) = Util.timed(Trace.span("sinks.JdbcSink") {
      graft.sinks.JdbcSink.write(frame, url, "jdbc_probe", props, instanceMemoryMb, engineName)
    })
    dropTable("jdbc_probe")
    m("jdbc.rows_per_s") = rows / (ms / 1e3)
    m("jdbc.ms_per_trigger") = ms
    m("jdbc.writer_partitions") = graft.sinks.JdbcSink.writerPartitions(instanceMemoryMb, engineName)
    m.toMap
  }
}
