package graft.streaming

import graft.functions.Coerce
import graft.schema.DataTypeSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous collection — Structured Streaming port of the reference's
  * S3-event → SQS → Lambda pipeline (reference sources/collection/
  * collection.js:548-580,666-697; semantics table in SURVEY §2.9).
  *
  * Mapping:
  *  - S3 `ObjectCreated:*` notifications + prefix/suffix filter → the file
  *    source's directory watch + `pathGlobFilter`;
  *  - event-source BatchSize (≤10 files) → `maxFilesPerTrigger`;
  *  - MaxBatchWaitTime (0-300 s, default 30) → `Trigger.ProcessingTime`;
  *  - at-least-once SQS delete-on-success → the checkpointed file source's
  *    exactly-once (a strict upgrade, documented);
  *  - each batch re-uses the batch ingest stack (parse → coerce → optional
  *    WHERE) via `foreachBatch`, like the worker's per-batch dataflow.
  *
  * No watermark is needed for parity (the reference appends every arriving
  * file regardless of event time); [[windowedCounts]] shows the watermarked
  * event-time path used by the 100 TB extension.
  */
object StreamingCollect {

  final case class StreamSpec(
      schema: DataTypeSchema,
      inputDir: String,
      maxFilesPerTrigger: Int = 10,    // BatchSize 10 (collection.js:675-685)
      batchWindowSeconds: Int = 30,    // MaxBatchWaitTime default
      pathGlobFilter: Option[String] = None, // suffix filter analog
      query: Option[String] = None)

  /** The continuous-collection reader: a file-source stream of raw CSV rows
    * parsed+coerced exactly like the batch path. */
  def reader(spark: SparkSession, spec: StreamSpec): DataFrame = {
    val in = spec.schema.input
    var r = spark.readStream
      .option("maxFilesPerTrigger", spec.maxFilesPerTrigger)
      .option("header", in.csvHeader)
      .option("sep", in.fieldDelimiter)
      .option("quote", in.quoteCharacter)
      .option("escape", in.quoteCharacter) // doubled quotes, as IngestReader
    spec.pathGlobFilter.foreach(g => r = r.option("pathGlobFilter", g))
    val raw = r.schema(spec.schema.rawSchema).csv(spec.inputDir)
    Coerce(raw, spec.schema)
  }

  /** The worker's optional WHERE pre-filter (filterdata, worker.js:258-312)
    * applied to one micro-batch. */
  private def applyQuery(batch: DataFrame, spec: StreamSpec): DataFrame =
    spec.query match {
      case Some(q) if q.toLowerCase.contains("where") =>
        batch.createOrReplaceTempView(spec.schema.name)
        batch.sparkSession.sql(
          graft.jobs.CollectJob.rewriteS3ObjectDialect(q, spec.schema.name))
      case _ => batch
    }

  /** Sink writing each micro-batch through the optional WHERE pre-filter to
    * parquet — the worker's filterdata→bulkCreate loop (worker.js:258-312),
    * with Spark checkpointing replacing SQS redelivery. */
  def writer(df: DataFrame, spec: StreamSpec, outDir: String,
      checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .trigger(Trigger.ProcessingTime(s"${spec.batchWindowSeconds} seconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyQuery(batch, spec).write.mode("append").parquet(outDir)
      }

  // ---- notification-fed collection (the 100 TB/day ingest path) ----------

  /** Notification-fed collection — the reference's event-driven topology
    * (S3 `ObjectCreated` → SQS → worker, collection.js:548-580) rebuilt
    * without the file source's known scale wall: [[reader]] re-LISTs the
    * watched directory every trigger, and at 100 TB/day (millions of
    * objects per prefix) the listing itself becomes the trigger's wall
    * clock. The reference never lists — S3 pushes the names of new
    * objects. This is that topology on Spark: the stream tails a MANIFEST
    * prefix (tiny text files, one object path per line — what an
    * S3-notification forwarder, a commit log, or S3 Inventory emits), and
    * each micro-batch reads exactly the named objects. Per-trigger listing
    * cost is the manifest prefix — bounded and independent of the data
    * lake's object count (and prunable further with the file source's
    * `cleanSource`/`maxFileAge` retention options).
    *
    * Delivery: manifests are checkpointed exactly-once; the object read +
    * append inside a batch is at-least-once under a mid-batch crash —
    * the same contract as the reference's SQS delete-after-success loop
    * (worker.js:258-312). */
  def manifestReader(spark: SparkSession, manifestDir: String,
      maxManifestsPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxManifestsPerTrigger)
      .text(manifestDir)

  /** foreachBatch sink for [[manifestReader]]: resolve the batch's
    * manifest lines to object paths — bounded by manifests-per-trigger ×
    * lines-per-manifest, the SQS message-batch analog, so the driver-side
    * collect is O(notification batch), never O(corpus) — and run the
    * named objects through the batch ingest stack (parse → coerce →
    * optional WHERE) into `outDir`. */
  /** Resolve one manifest micro-batch to its typed frame: collect the
    * named object paths (bounded — a notification batch), read them
    * through the batch ingest stack, coerce, apply the optional WHERE.
    * ONE definition for the parquet writer and the continuous-collection
    * JDBC path — the two ingest paths must parse identically. Returns
    * None when the batch names no files. */
  private def manifestBatchFrame(batch: DataFrame,
      spec: StreamSpec): Option[DataFrame] = {
    val spark = batch.sparkSession
    val files = batch.select(col("value")).collect()
      .map(_.getString(0).trim).filter(_.nonEmpty).distinct.sorted
    if (files.isEmpty) None
    else {
      val in = spec.schema.input
      val raw = spark.read
        .option("header", in.csvHeader)
        .option("sep", in.fieldDelimiter)
        .option("quote", in.quoteCharacter)
        .option("escape", in.quoteCharacter) // doubled quotes, as IngestReader
        .schema(spec.schema.rawSchema)
        .csv(files.toSeq: _*)
      Some(applyQuery(Coerce(raw, spec.schema), spec))
    }
  }

  def manifestWriter(manifests: DataFrame, spec: StreamSpec, outDir: String,
      checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    manifests.writeStream
      .trigger(Trigger.ProcessingTime(s"${spec.batchWindowSeconds} seconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        manifestBatchFrame(batch, spec)
          .foreach(_.write.mode("append").parquet(outDir))
      }

  /** Bounded manifest-driven collection run (AvailableNow, one manifest
    * per micro-batch) into `outDir` — the verification entry point; a
    * production job keeps the ProcessingTime trigger. */
  def runManifestBounded(spark: SparkSession, spec: StreamSpec,
      manifestDir: String, outDir: String): Unit = {
    val ckpt = new java.io.File(
      graft.Scratch.runDir("graft_ckpt_manifest"))
    try {
      val q = manifestWriter(
          manifestReader(spark, manifestDir, maxManifestsPerTrigger = 1),
          spec, outDir, ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
  }

  /** The reference's §3.1 pipeline as ONE streaming entry point —
    * notification → worker → destination → status, end to end: the stream
    * tails the manifest prefix (S3-notification analog), each micro-batch
    * reads exactly the named objects, parses + coerces, applies the
    * optional WHERE pre-filter, bulk-appends into the JDBC destination
    * through the connection-capacity-bounded writer, and records a
    * per-batch Invocations status row (jobid, invocationid, COMPLETED,
    * nrecords) in the same database — the worker's
    * `UpdateSqlEntry('Invocations')` bookkeeping (worker.js:736-772)
    * beside its bulk insert. Bounded verification run: AvailableNow, one
    * manifest per trigger; a production job keeps ProcessingTime.
    *
    * Delivery: manifests commit exactly-once via the checkpoint; the
    * JDBC append + status row inside a batch are at-least-once under a
    * mid-batch crash — the reference's SQS delete-after-success
    * contract. An idempotent destination upgrade is shown by q130's
    * batch-id high-water-mark upsert. */
  def runContinuousCollection(spark: SparkSession, spec: StreamSpec,
      manifestDir: String, url: String, props: java.util.Properties,
      table: String, instanceMemoryMb: Long, engine: String,
      jobid: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = c.createStatement()
      st.execute("""CREATE TABLE invocations ("jobid" VARCHAR(64), """ +
        """"invocationid" VARCHAR(64), "status" VARCHAR(16), """ +
        """"nrecords" BIGINT)""")
      st.close()
    } catch {
      // ONLY "already exists" (Derby X0Y32) may pass — swallowing auth/
      // connectivity failures here would surface as confusing per-batch
      // errors far from the root cause
      case e: java.sql.SQLException
        if e.getSQLState == "X0Y32" ||
          (e.getMessage != null &&
            e.getMessage.toLowerCase.contains("already exists")) => ()
    } finally c.close()
    val ckpt = new java.io.File(graft.Scratch.runDir("graft_ckpt_cc"))
    try {
      val q = manifestReader(spark, manifestDir, maxManifestsPerTrigger = 1)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          manifestBatchFrame(batch, spec).foreach { frame =>
            // one materialization feeds both the insert and the audit
            // count (a bounded micro-batch, the worker's Transformeddata)
            val typed = frame.localCheckpoint()
            graft.sinks.JdbcSink.write(typed, url, table, props,
              instanceMemoryMb, engine)
            val n = typed.count()
            val c2 = java.sql.DriverManager.getConnection(url, props)
            try {
              val ps = c2.prepareStatement("INSERT INTO invocations " +
                """("jobid", "invocationid", "status", "nrecords") """ +
                "VALUES (?, ?, ?, ?)")
              ps.setString(1, jobid); ps.setString(2, s"batch-$id")
              ps.setString(3, "COMPLETED"); ps.setLong(4, n)
              ps.executeUpdate(); ps.close()
            } finally c2.close()
          }
        }
        .start()
      q.awaitTermination()
    } finally deleteRecursively(ckpt)
  }

  /** Watermarked event-time windowed aggregation over a stream — the
    * Spark-native capability the reference lacks (SURVEY §2.9 "watermark /
    * late data: none"). Used by the streaming query registry entries. */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String,
      windowLen: String = "1 hour", watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("sum_value"))

  /** Run a bounded streaming query over existing files (AvailableNow) into
    * an in-memory table and return the result — lets the batch Verify
    * harness exercise the streaming path end-to-end.
    *
    * Stateful operators allocate one state-store instance per shuffle
    * partition for the life of the query; on a bounded verification run
    * over small inputs the session default (sized for batch shuffles) is
    * pure per-partition overhead, so the stream runs with a small explicit
    * count and the session value is restored afterwards. A production
    * continuous job would instead size this once to its key cardinality.
    *
    * The checkpoint (offset/commit logs + one state-store delta per
    * partition per batch) goes to a fresh directory under tmpfs when the
    * host has one: the logs are fsync-heavy tiny files, the worst case for
    * a slow disk, and a bounded verification run needs no durability. A
    * fresh UUID dir per run — never a reused path — so a leftover
    * checkpoint can't replay as "already committed" and return an empty
    * table. */
  def runBounded(spark: SparkSession, stream: DataFrame,
      queryName: String, statePartitions: Int = 8,
      outputMode: String = "complete"): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, statePartitions.toString)
    val ckpt = new java.io.File(
      graft.Scratch.runDir(s"graft_ckpt_$queryName"))
    try {
      val q = stream.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set(key, prev)
      deleteRecursively(ckpt)
    }
    spark.table(queryName)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }
}
