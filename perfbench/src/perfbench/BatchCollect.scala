package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.schema.{DataTypeSchema, SchemaRegistry, SeqType}

/** Batch collection: one collection job at a time through
  * `CollectMain.run`, over a seeded log lake that `FolderWalk.walk`
  * descends. Per DataType (VPC flow gzip CSV with header, CloudTrail gzip
  * JSON under `Records`, ApplicationLB headerless quoted gzip CSV, single-
  * entry zip CSV) one selective-WHERE job and one full dump, both to
  * parquet. Each output is checked against the generator's ground truth:
  * row count, and the coerced sum and non-null count of a column that
  * carries planted dirty tokens. */
final class BatchCollect(mini: Boolean) extends Workload {
  val name = "batch_collect"

  private val shape =
    if (mini) Gen.LakeShape((1, 2000, 4, 100), (1, 1500, 4, 100), (1, 500, 4, 40),
      (1, 1500, 4, 100), 0.03)
    else Gen.LakeShape((4, 16000, 12, 400), (4, 10000, 12, 300), (4, 5000, 8, 100),
      (4, 10000, 8, 300), 0.03)

  private var lake: Gen.Lake = _
  private def lakeDir(ctx: Ctx) = new File(ctx.dir, "lake")

  def generate(ctx: Ctx): Unit = {
    Util.rm(lakeDir(ctx))
    lake = Gen.lake(ctx.seed, lakeDir(ctx), shape)
  }

  def inputs: Map[String, Any] = Map(
    "loop" -> "closed, 1 client, one job at a time",
    "jobs_per_cycle" -> 8, "order" -> "seeded shuffle per cycle",
    "objects" -> Gen.Kinds.map(k => k -> Map(
      "count" -> lake.objects(k).size, "rows" -> lake.rows(k),
      "compressed_bytes" -> lake.bytes(k),
      "sizes_rows" -> s"${shapeOf(k)._1} x ${shapeOf(k)._2} + ${shapeOf(k)._3} x ${shapeOf(k)._4}",
      "where_selectivity" -> lake.truth(k).whereRows.toDouble / lake.rows(k))).toMap,
    "lake_bytes" -> Gen.Kinds.map(lake.bytes).sum,
    "dirty_token_share" -> shape.dirtyShare)

  private def shapeOf(k: String) = k match {
    case "vpcflow" => shape.vpc
    case "alb" => shape.alb
    case "cloudtrail" => shape.trail
    case _ => shape.zip
  }

  private val builtin = Map("vpcflow" -> "VPCFlow", "alb" -> "ApplicationLB",
    "cloudtrail" -> "CloudTrail")

  /** The zip DataType: VPC flow columns, headerless, ZIP compression, as an
    * inline document in the reference's storage format. */
  private lazy val zipDataType: String = {
    def t(s: SeqType): String = s match {
      case SeqType.SString(n) => s"STRING($n)"
      case SeqType.SText => "TEXT"
      case SeqType.SInteger => "INTEGER"
      case SeqType.SBigint => "BIGINT"
      case SeqType.SFloat => "FLOAT"
      case SeqType.SDouble => "DOUBLE"
      case SeqType.SBoolean => "BOOLEAN"
      case SeqType.SDate => "DATE"
      case SeqType.SJson => "JSON"
    }
    val cols = SchemaRegistry.builtins("VPCFlow").fields
      .map(f => Util.quote(s"'${f.name}':{type: Sequelize.${t(f.stype)}},"))
    s"""{"Name":"VPCFlowZip","Schema":[${cols.mkString(",")}],""" +
      """"StgSelectParameters":{"IO":{"InputSerialization":{"Compression":"ZIP",""" +
      """"CSV":{"FileHeaderInfo":false,"FieldDelimiter":" "}}}}}"""
  }

  private def schemaOf(kind: String): DataTypeSchema =
    if (kind == "zip") SchemaRegistry.parseDocument("VPCFlowZip", zipDataType)
    else SchemaRegistry.builtins(builtin(kind))

  /** The probe share of the lake: the objects under one region folder, a
    * third of them, large and small. The warm-up and the staged layer
    * probes run over it. */
  private val ProbeRegion = "us-east-1"
  private def probeObjs(kind: String): Seq[Gen.Obj] =
    lake.objects(kind).filter(_.path.getParentFile.getParentFile.getName == ProbeRegion)

  /** Leaf folders of a DataType's tree, or of one region of it. */
  private def leaves(ctx: Ctx, kind: String, region: Option[String] = None): Seq[String] =
    Trace.span("sources.FolderWalk") {
      val root = new File(lakeDir(ctx), kind + region.fold("")("/" + _))
      graft.sources.FolderWalk.walk(ctx.spark, Seq(root.getAbsolutePath), if (region.isEmpty) 2 else 1)
    }

  private def jobJson(kind: String, where: Boolean, paths: Seq[String], out: String): String = {
    val dt = if (kind == "zip") zipDataType else Util.quote(builtin(kind))
    val q = if (where) s""","QueryString":${Util.quote(Gen.Where(kind))}""" else ""
    val fmt = if (kind == "zip") ""","Format":"zip"""" else ""
    s"""{"DataType":$dt,"S3Folders":${Util.json(paths)},"DatasetName":"${kind}_${if (where) "where" else "dump"}"""" +
      s"""$q$fmt,"Sink":{"Type":"parquet","Path":${Util.quote(out)}}}"""
  }

  private[perfbench] def out(ctx: Ctx, kind: String, where: Boolean) =
    new File(ctx.sub("out"), s"$kind-${if (where) "where" else "dump"}").getAbsolutePath

  /** One job: walk the lake (or one region of it), run the job document;
    * returns rows written. */
  private[perfbench] def job(ctx: Ctx, kind: String, where: Boolean, region: Option[String] = None): Long =
    Trace.request("batch.job")(collect(ctx, kind, where, leaves(ctx, kind, region)))

  private def collect(ctx: Ctx, kind: String, where: Boolean, paths: Seq[String]): Long =
    Trace.span("jobs.CollectMain") {
      Util.withDeadline(ctx.spark, s"collect $kind", 120000) {
        graft.jobs.CollectMain.run(ctx.spark, jobJson(kind, where, paths, out(ctx, kind, where)))
      }
    }

  /** Output against ground truth: rows, and the checked column's sum and
    * non-null count (which the planted dirty tokens move). */
  private[perfbench] def check(ctx: Ctx, kind: String, where: Boolean, rows: Long): Option[String] = {
    val t = lake.truth(kind)
    val c = Gen.SumCol(kind)
    val r = ctx.spark.read.parquet(out(ctx, kind, where))
      .agg(count(lit(1)), sum(col(c).cast("double")), count(col(c))).head()
    val (n, s, nn) = (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1), r.getLong(2))
    val (wantN, wantS) = if (where) (t.whereRows, t.whereSum) else (t.rows, t.sums(c))
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    if (rows != wantN || n != wantN) Some(s"$kind ${if (where) "where" else "dump"}: $n rows (job said $rows), want $wantN")
    else if (!close(s, wantS)) Some(s"$kind: sum($c) $s, want $wantS")
    else if (!where && nn != t.nonNull(c)) Some(s"$kind: count($c) $nn, want ${t.nonNull(c)}")
    else None
  }

  private def jobs = for (k <- Gen.Kinds; w <- Seq(true, false)) yield (k, w)

  /** Warm-up: one cycle of every job over the probe region, which has the
    * loop's code paths and object sizes at a third of its work (the traced
    * run's layer probe of this workload skips it). */
  def prepare(ctx: Ctx): Unit =
    if (!mini) jobs.foreach { case (k, w) =>
      try job(ctx, k, w, Some(ProbeRegion)) catch { case _: Throwable => () }
    }

  def loop(ctx: Ctx, seconds: Double, l: Ledger): Unit = {
    last = l
    val rnd = new scala.util.Random(ctx.seed)
    Util.cycles(seconds, 16) { // a cycle of 8 jobs: about 16 s on 4 cores
      rnd.shuffle(jobs).foreach { case (k, w) =>
        l.run[Long](if (w) "where" else "dump", _ => lake.rows(k).toDouble, k)(job(ctx, k, w))(
          rows => check(ctx, k, w, rows))
      }
    }
  }

  def opKinds: Seq[String] = Seq("where", "dump")

  /** Median wall per job, for the record. */
  override def extra: Map[String, Any] = Map("job_ms" ->
    (last.of("where") ++ last.of("dump")).groupBy(s => s"${s.tag}-${s.kind}")
      .map { case (k, ss) => k -> Util.median(ss.map(_.ms)) })
  private var last = new Ledger

  def named(l: Ledger): Seq[(String, Double, String)] = {
    def rate(ss: Seq[l.Sample]) = ss.map(_.units).sum / math.max(ss.map(_.ms).sum / 1e3, 1e-9)
    val all = l.of("where") ++ l.of("dump")
    val mb = all.map(s => lake.bytes(s.tag).toDouble).sum / 1e6
    Seq(("collect_where_rows_per_s", rate(l.of("where")), "1/s"),
      ("collect_dump_rows_per_s", rate(l.of("dump")), "1/s"),
      ("collect_mb_per_s", mb / math.max(all.map(_.ms).sum / 1e3, 1e-9), "MB/s"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Staged breakdown over the probe region: each lazy layer is one action
    * on the frame the previous layer materialized, so its span is that
    * layer's own work. Every job it runs is checked into `l`. */
  def layers(ctx: Ctx, l: Ledger): Map[String, Double] = {
    val spark = ctx.spark
    val m = scala.collection.mutable.Map.empty[String, Double]
    l.run[Long]("where", _ => lake.rows("vpcflow").toDouble, "vpcflow")(job(ctx, "vpcflow", where = true))(
      rows => check(ctx, "vpcflow", where = true, rows))
    // per-job cost: a whole dump job over one small object, against the
    // median job of the loop (or of this probe)
    val tiny = probeObjs("vpcflow").minBy(_.rows)
    var tinyMs = Double.NaN
    l.run[Long]("fixed", _ => tiny.rows.toDouble, "vpcflow") {
      val (rows, ms) = Util.timed(Trace.request("batch.job")(
        collect(ctx, "vpcflow", where = false, Seq(tiny.path.getAbsolutePath))))
      tinyMs = ms; rows
    }(rows => if (rows == tiny.rows) None else Some(s"one-object dump: $rows rows, want ${tiny.rows}"))
    m("collect.fixed_ms") = tinyMs
    m("collect.fixed_share") = tinyMs / Util.median(l.ms("where", "dump"))
    val (walked, walkMs) = Util.timed(leaves(ctx, "vpcflow"))
    m("walk.ms") = walkMs
    m("walk.leaves") = walked.size
    // readers, forced into a noop sink; bytes from the listener's input metrics
    def read(kind: String, paths: Seq[String]): DataFrame = kind match {
      case "cloudtrail" => graft.sources.IngestReader.json(spark, schemaOf(kind), paths: _*)
      case "zip" => graft.sources.IngestReader.zipCsv(spark, schemaOf(kind), paths: _*)
      case _ => graft.sources.IngestReader.csv(spark, schemaOf(kind), paths: _*)
    }
    def probe(kind: String) = leaves(ctx, kind, Some(ProbeRegion))
    var scanned, lakeBytes = 0L
    Seq("vpcflow" -> "parse.csv_rows_per_s", "cloudtrail" -> "parse.json_rows_per_s",
      "zip" -> "parse.zip_rows_per_s").foreach { case (k, metric) =>
      val paths = probe(k)
      val b0 = ctx.engine.inputBytes
      val (_, ms) = Util.timed(Trace.span("sources.IngestReader")(noop(read(k, paths))))
      scanned += ctx.engine.inputBytes - b0
      lakeBytes += probeObjs(k).map(_.bytes).sum
      m(metric) = probeObjs(k).map(_.rows).sum / (ms / 1e3)
    }
    m("read.bytes_scanned_per_lake_byte") = scanned.toDouble / lakeBytes
    val small = probeObjs("vpcflow").filter(_.rows == shape.vpc._4).map(_.path.getAbsolutePath)
    val (_, smallMs) = Util.timed(Trace.span("sources.IngestReader")(noop(read("vpcflow", small))))
    m("parse.small_object_files_per_s") = small.size / (smallMs / 1e3)
    // Coerce on a materialized all-string frame
    val schema = schemaOf("vpcflow")
    val raw = spark.read.option("header", true).option("sep", " ").schema(schema.rawSchema)
      .csv(probe("vpcflow"): _*).localCheckpoint()
    val (_, coerceMs) = Util.timed(Trace.span("functions.Coerce")(noop(graft.functions.Coerce(raw, schema))))
    m("coerce.rows_per_s") = raw.count() / (coerceMs / 1e3)
    val typed = graft.functions.Coerce(raw, schema).localCheckpoint()
    val dirtyCols = Seq("dstport", "packets", "bytes")
    val rawRows = raw.select(dirtyCols.map(c => col(s"`$c`")): _*).collect()
    val typedRows = typed.select(dirtyCols.map(c => col(s"`$c`")): _*).collect()
    val handled = rawRows.zip(typedRows).map { case (r, t) =>
      dirtyCols.indices.count { i =>
        val tok = r.getString(i)
        val v = if (t.isNullAt(i)) None else Some(t.get(i).toString.toLong)
        if (tok == "-" || tok == "NULL") v.isEmpty
        else if (tok.endsWith("x")) v.contains(tok.dropRight(1).toLong)
        else false
      }
    }.sum
    m("coerce.dirty_tokens") = handled
    m("coerce.dirty_tokens_planted") = probeObjs("vpcflow").map(_.dirty).sum
    // the selective WHERE over the materialized typed frame
    typed.createOrReplaceTempView("vpcflow_where")
    val filtered = spark.sql(
      graft.jobs.CollectJob.rewriteS3ObjectDialect(Gen.Where("vpcflow"), "vpcflow_where"))
    val (_, whereMs) = Util.timed(Trace.span("jobs.CollectJob")(noop(filtered)))
    m("where.ms") = whereMs
    m("where.selectivity") = filtered.count().toDouble / typed.count()
    spark.catalog.dropTempView("vpcflow_where")
    // the parquet sink of the materialized typed frame
    val sinkDir = new File(ctx.sub("out"), "sink-probe")
    val (_, sinkMs) = Util.timed(Trace.span("sinks.parquet")(
      typed.write.mode("overwrite").parquet(sinkDir.getAbsolutePath)))
    m("sink.parquet_ms") = sinkMs
    m("sink.parquet_bytes_per_lake_byte") = Util.du(sinkDir).toDouble / probeObjs("vpcflow").map(_.bytes).sum
    m.toMap
  }
}
