package graft

import java.nio.file.Files

import graft.operators.ReferenceQueries
import graft.streaming.StreamingCollect
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("continuous collection: stream CSV files through WHERE filter to parquet") {
    val inDir = ReferenceQueries.csvFixture(spark, TestSession.sfDir)
    val outDir = Files.createTempDirectory("graft_stream_out").toString
    val ckDir = Files.createTempDirectory("graft_stream_ck").toString
    val spec = StreamingCollect.StreamSpec(
      schema = ReferenceQueries.lineitemSchema,
      inputDir = inDir,
      query = Some("SELECT * FROM S3Object s WHERE s.l_discount > 0.05"))
    val stream = StreamingCollect.reader(spark, spec)
    val q = StreamingCollect.writer(stream, spec, outDir, ckDir)
      .trigger(Trigger.AvailableNow()) // bounded drain for the test
      .start()
    q.awaitTermination()
    val out = spark.read.parquet(outDir)
    val expected = Tables.lineitem(spark, TestSession.sfDir)
      .where(col("l_discount") > 0.05).count()
    assert(out.count() == expected)
    assert(out.where(col("l_discount") <= 0.05).count() == 0)
    // exactly-once: restarting over the same checkpoint adds nothing
    val q2 = StreamingCollect.writer(stream, spec, outDir, ckDir)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(outDir).count() == expected)
  }

  test("manifest collection reads named objects only — never a listing") {
    // two CSV objects land in the data directory, but the manifest names
    // only ONE of them: a listing-driven source would ingest both; the
    // notification-driven source must ingest exactly the named object.
    // This is the no-full-relisting property at 100 TB/day — per-trigger
    // work scales with the notification batch, not the lake's object
    // count.
    val dataDir = Files.createTempDirectory("graft_manifest_data")
    val li = Tables.lineitem(spark, TestSession.sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"),
        format_string("%.6f", col("l_quantity")).as("l_quantity"),
        format_string("%.6f", col("l_extendedprice")).as("l_extendedprice"),
        format_string("%.6f", col("l_discount")).as("l_discount"),
        format_string("%.6f", col("l_tax")).as("l_tax"),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")
          .as("l_shipdate"))
    val named = li.where(col("l_orderkey") % 2 === 0)
    val unnamed = li.where(col("l_orderkey") % 2 =!= 0)
    named.coalesce(1).write.mode("overwrite")
      .option("header", "false").csv(s"$dataDir/named")
    unnamed.coalesce(1).write.mode("overwrite")
      .option("header", "false").csv(s"$dataDir/unnamed")
    def csvsIn(sub: String): Seq[String] =
      Option(new java.io.File(s"$dataDir/$sub").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
        .map(_.getAbsolutePath).toSeq.sorted
    val manifestDir = Files.createTempDirectory("graft_manifest_m")
    Files.writeString(manifestDir.resolve("manifest-000.txt"),
      csvsIn("named").mkString("", "\n", "\n"))
    val outDir = Files.createTempDirectory("graft_manifest_out").toString
    val spec = StreamingCollect.StreamSpec(
      schema = ReferenceQueries.lineitemSchema, inputDir = manifestDir.toString)
    StreamingCollect.runManifestBounded(spark, spec,
      manifestDir.toString, outDir)
    val got = spark.read.parquet(outDir)
    assert(got.count() == named.count(),
      "manifest run must ingest exactly the named object's rows")
    assert(got.where(col("l_orderkey") % 2 =!= 0).count() == 0,
      "rows from the unnamed object leaked in — source is listing-driven")
  }

  test("streaming CSV readers parse doubled quotes and backslashes like " +
      "IngestReader") {
    // RFC 4180 / Papa Parse: a quote inside a quoted field is doubled, and
    // a backslash is an ordinary character
    val schema = graft.schema.SchemaRegistry.classicLB
    val rows = Seq(
      "2015-05-13T23:39:43.945958Z lb 192.168.131.39:2817 10.0.0.1:80 " +
        "0.000073 0.001048 0.000057 200 200 0 29 " +
        "\"GET http://x/?q=\"\"a b\"\" HTTP/1.1\" \"agent C:\\dir\\\" - -",
      "2015-05-13T23:39:44.000000Z lb 192.168.131.39:2818 10.0.0.1:80 " +
        "0.1 0.2 0.3 404 404 0 7 \"GET http://y/ HTTP/1.1\" " +
        "\"say \"\"hi\"\"\" - -")
    val dataDir = Files.createTempDirectory("graft_quote_data")
    val obj = dataDir.resolve("elb.log")
    Files.writeString(obj, rows.mkString("", "\n", "\n"))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val expected = sorted(
      graft.sources.IngestReader.csv(spark, schema, obj.toString))
    assert(expected.exists(_.contains("GET http://x/?q=\"a b\" HTTP/1.1")))
    assert(expected.exists(_.contains("agent C:\\dir\\")))

    val manifestDir = Files.createTempDirectory("graft_quote_m")
    Files.writeString(manifestDir.resolve("manifest-000.txt"),
      obj.toString + "\n")
    val outDir = Files.createTempDirectory("graft_quote_out").toString
    val spec = StreamingCollect.StreamSpec(schema = schema,
      inputDir = dataDir.toString)
    StreamingCollect.runManifestBounded(spark, spec,
      manifestDir.toString, outDir)
    assert(sorted(spark.read.parquet(outDir)) == expected)

    val streamed = StreamingCollect.runBounded(spark,
      StreamingCollect.reader(spark, spec), "graft_quote_stream",
      outputMode = "append")
    assert(sorted(streamed) == expected)
  }

  test("continuous pipeline: per-batch Invocations ledger accounts every row") {
    // runContinuousCollection chains manifest → coerce → WHERE → JDBC
    // append → status row. Two manifests at one-per-trigger must produce
    // two COMPLETED invocation rows whose nrecords sum to exactly the
    // landed count (worker.js:736-772 status bookkeeping parity).
    val dataDir = Files.createTempDirectory("graft_cc_data")
    val li = Tables.lineitem(spark, TestSession.sfDir)
      .where(col("l_orderkey") < 400)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"),
        format_string("%.6f", col("l_quantity")).as("l_quantity"),
        format_string("%.6f", col("l_extendedprice")).as("l_extendedprice"),
        format_string("%.6f", col("l_discount")).as("l_discount"),
        format_string("%.6f", col("l_tax")).as("l_tax"),
        col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")
          .as("l_shipdate"))
    li.where(col("l_orderkey") % 2 === 0).coalesce(1).write
      .mode("overwrite").option("header", "false").csv(s"$dataDir/a")
    li.where(col("l_orderkey") % 2 =!= 0).coalesce(1).write
      .mode("overwrite").option("header", "false").csv(s"$dataDir/b")
    def csvsIn(sub: String): Seq[String] =
      Option(new java.io.File(s"$dataDir/$sub").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
        .map(_.getAbsolutePath).toSeq.sorted
    val manifestDir = Files.createTempDirectory("graft_cc_m")
    Files.writeString(manifestDir.resolve("manifest-000.txt"),
      csvsIn("a").mkString("", "\n", "\n"))
    Files.writeString(manifestDir.resolve("manifest-001.txt"),
      csvsIn("b").mkString("", "\n", "\n"))
    val url = "jdbc:derby:memory:graftccspec;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val spec = StreamingCollect.StreamSpec(
      schema = ReferenceQueries.lineitemSchema,
      inputDir = manifestDir.toString,
      query = Some("SELECT l_orderkey, l_quantity, l_returnflag FROM " +
        "S3Object[*] s WHERE s.l_quantity <= 25"))
    StreamingCollect.runContinuousCollection(spark, spec,
      manifestDir.toString, url, props, "cc_t",
      instanceMemoryMb = 1560, engine = "postgres", jobid = "speccc")
    val landed = graft.sinks.JdbcSink.read(spark, url, "cc_t", props)
    val inv = graft.sinks.JdbcSink.read(spark, url, "invocations", props)
      .collect()
    val expected = li.where(col("l_quantity").cast("double") <= 25).count()
    assert(landed.count() == expected, "WHERE-filtered rows must land")
    assert(inv.length == 2, s"one status row per manifest batch: ${inv.length}")
    assert(inv.forall(_.getAs[String]("status") == "COMPLETED"))
    assert(inv.forall(_.getAs[String]("jobid") == "speccc"))
    assert(inv.map(_.getAs[Long]("nrecords")).sum == expected,
      "ledger must account exactly the landed rows")
  }

  test("stateful dedup runs on the RocksDB state store (production conf)") {
    // The bounded verification runs use the default heap-backed state
    // store (cheapest for small replays); an unbounded production stream
    // holds state for every in-watermark key, which on real volumes must
    // live off-heap — this pins that the same query runs unchanged on
    // RocksDB, the conf a deployment would set.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val d = TestSession.sfDir
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = spark.read.parquet(s"$d/events.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .transform(Tables.normalizeEventTs)
      val deduped = stream.unionByName(stream)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val got = StreamingCollect.runBounded(spark, deduped,
        "rocksdb_dedup_sink")
        .agg(sum(col("n"))).collect()(0).getLong(0)
      val want = spark.read.parquet(s"$d/events.parquet")
        .select(col("event_id")).distinct().count()
      assert(got == want, s"RocksDB dedup got $got, want $want")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("q201 continuous collection: audit ledger equals landed rows") {
    // The Invocations total rides every output row; it must equal the
    // sum of the landed per-group counts — a batch that appended rows
    // without its status row (or double-counted one) breaks this here,
    // independently of the DuckDB gate.
    val rows = SparkEntry.queries("q201_continuous_pipeline")(
      spark, TestSession.sfDir).collect()
    assert(rows.nonEmpty)
    val landed = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      assert(r.getLong(3) == landed,
        s"audit_rows ${r.getLong(3)} != landed $landed")
    }
  }

  // ---- crash-recovery fault injection for the index-building twins ------
  //
  // The three twins that build persisted state across micro-batches
  // (q210 band index, q262 frame-hash index, q282 census cells) gate
  // replay idempotence per-trigger, but a checkpoint is only proven by
  // an actual mid-run death: each test below kills the stream once its
  // batch id reaches 1 (so exactly one trigger committed), restarts
  // against the SAME base dir, and asserts the recovered result equals
  // an uninterrupted run on a fresh base BIT-FOR-BIT. The kill lands
  // BEFORE batch 1 processes anything, which exercises the dangerous
  // path: restart must resume from the committed offset log, re-run
  // batch 1 exactly once, and the strictly-older index reads must not
  // see any half-written state.

  private def killAndRecover(
      run: (String, Option[Int]) => org.apache.spark.sql.DataFrame,
      tag: String): Unit = {
    val killed = s"${Scratch.root}/spec_${tag}_${java.util.UUID.randomUUID}"
    val clean = s"${Scratch.root}/spec_${tag}c_${java.util.UUID.randomUUID}"
    run(killed, Some(1)) // dies once batch id reaches 1
    // the death left a committed prefix, not a completed run
    val committed = Option(
      new java.io.File(s"$killed/ckpt/commits").listFiles())
      .getOrElse(Array.empty).count(!_.getName.contains("."))
    assert(committed == 1,
      s"planned stop should commit exactly batch 0, saw $committed")
    val recovered = run(killed, None).collect().toSeq
    val uninterrupted = run(clean, None).collect().toSeq
    assert(recovered.nonEmpty)
    assert(recovered == uninterrupted,
      s"recovered run diverged from uninterrupted run for $tag")
  }

  test("q210 twin: mid-run kill + checkpoint restart = uninterrupted run") {
    killAndRecover((base, fail) => operators.IncrementalQueries
      .streamNeardupRun(spark, TestSession.sfDir, base, fail), "q210kill")
  }

  test("q262 twin: mid-run kill + checkpoint restart = uninterrupted run") {
    killAndRecover((base, fail) => operators.VideoQueries
      .streamVideoNeardupRun(spark, TestSession.sfDir, base, fail),
      "q262kill")
  }

  test("q282 twin: mid-run kill + checkpoint restart = uninterrupted run") {
    killAndRecover((base, fail) => operators.CompareQueries
      .streamDivergenceRun(spark, TestSession.sfDir, base, fail),
      "q282kill")
  }

  test("q311 twin: mid-run kill + checkpoint restart = uninterrupted run") {
    // the HNSW store is order-DEPENDENT (later batches link against
    // earlier ones), so this gate is stronger than the set-valued twins:
    // recovery must replay the identical file->batch assignment for the
    // search results to match bit-for-bit
    killAndRecover((base, fail) => operators.ScaleQueries
      .streamHnswRun(spark, TestSession.sfDir, base, fail), "q311kill")
  }
}
