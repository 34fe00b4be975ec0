package graft.jobs

import graft.schema.DataTypeSchema
import graft.sources.IngestReader
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch collection job — SURVEY §3.1 collapsed into one Spark job.
  *
  * In the reference this is a four-process chain (jobproducer → master
  * controller → CodeBuild controller → Lambda worker fleet) that enumerates
  * S3, batches keys through SQS, parses/filters each micro-batch (optionally
  * via an in-memory SQLite staging table), and bulk-inserts into an RDBMS
  * (reference sources/jobproducer/jobproducer.js:40, controller.js:156-272,
  * worker.js:93-312). Spark's scheduler replaces the entire orchestration:
  * driver = controller, tasks = workers, file-listing = S3 enumeration,
  * and the WHERE pre-filter becomes a Catalyst predicate that is pushed
  * *into* the scan instead of applied to a staged copy — the single biggest
  * architectural simplification (SURVEY §1.1 "in-flight staging table").
  *
  * At 100 TB: the read is a parallel file scan; gz/zip objects are not
  * splittable, so each is one whole unit, and `IngestReader` packs the
  * units into tasks by their compressed bytes (up to `maxPartitionBytes`
  * per task); the filter prunes columns/rows before any shuffle;
  * the save is a parallel parquet write. Admission control (NumberofWorkers,
  * SURVEY §4) maps to executor count / dynamic allocation — not re-modeled.
  */
object CollectJob {

  /** Job spec — the Spark-shaped analog of the reference's SQS job message
    * (jobproducer.js:210-232): paths ↔ S3Folders, query ↔ QueryString,
    * datasetName ↔ TableParameters.DatasetName. */
  final case class Spec(
      schema: DataTypeSchema,
      paths: Seq[String],
      datasetName: String,
      query: Option[String] = None,
      format: String = "auto", // auto | csv | json | zip
      /** TransForms — the reference plumbs a per-row transform hook
        * end-to-end but never activates it (every built-in schema ships
        * `TransForms: []`, the worker call site is commented out —
        * SURVEY §2.10). Here the seam is live: named column expressions
        * applied between parse and write. */
      transforms: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      /** Indexes — plumbed in the reference, never consumed (jobproducer.js
        * :185 always "[]"). Accepted for spec parity; a no-op hint. */
      indexes: Seq[String] = Nil)

  /** The reference documents its pre-filter in S3-Select dialect
    * (`SELECT * FROM S3Object[*].Records[*] s WHERE ...`) while executing it
    * as plain SQL over a staging table named after the dataset
    * (worker.js:258-295; SURVEY §2.2 P1). Support both: rewrite any
    * `S3Object[*].Records[*]`-style relation to the dataset's view name —
    * the reader has already unnested the root element.
    */
  def rewriteS3ObjectDialect(sql: String, viewName: String): String =
    sql.replaceAll(
      """(?i)\bS3Object(\[\*\])?(\.[A-Za-z_][A-Za-z0-9_]*\[\*\])*""",
      viewName)

  /** Run the collection pipeline: read+parse+coerce → optional WHERE
    * pre-filter (executed by Catalyst over a temp view, replacing the SQLite
    * staging table) → DataFrame ready to save. */
  def run(spark: SparkSession, spec: Spec): DataFrame = {
    val fmt =
      if (spec.format != "auto") spec.format
      else if (spec.schema.input.jsonType) "json"
      else if (spec.schema.input.compression == "ZIP") "zip"
      else "csv"
    val parsed = fmt match {
      case "json" => IngestReader.json(spark, spec.schema, spec.paths: _*)
      case "zip" => IngestReader.zipCsv(spark, spec.schema, spec.paths: _*)
      case _ => IngestReader.csv(spark, spec.schema, spec.paths: _*)
    }
    val transformed = spec.transforms.foldLeft(parsed) {
      case (df, (name, c)) => df.withColumn(name, c)
    }
    spec.query.filter(_.toLowerCase.contains("where")) match {
      case None => transformed // no-WHERE fast path (worker.js:296-310)
      case Some(q) =>
        transformed.createOrReplaceTempView(spec.datasetName)
        spark.sql(rewriteS3ObjectDialect(q, spec.datasetName))
    }
  }

  /** Run and persist as a table, drop-and-replace like the reference's
    * `sync({force:true})` (enginesharedv3.mjs:319-336). `bucketBy` buckets
    * the saved table on a join key so later fact-fact joins against it are
    * co-located (no shuffle of this side) — the Spark-native replacement
    * for the reference's dormant Indexes hook at 100 TB. */
  def collect(spark: SparkSession, spec: Spec,
      bucketBy: Option[(String, Int)] = None): Unit = {
    val w = run(spark, spec).write.mode("overwrite")
    bucketBy match {
      case Some((key, n)) =>
        w.bucketBy(n, key).sortBy(key).saveAsTable(spec.datasetName)
      case None => w.saveAsTable(spec.datasetName)
    }
    // the pre-filter staging view shares the dataset's name (the reference
    // stages into a table named after the dataset); drop it so the saved
    // table is what name resolution finds afterwards
    spark.catalog.dropTempView(spec.datasetName)
  }

  /** Run and bulk-insert into an RDBMS — the reference's true job output
    * (worker.js:774-823 bulk insert; S10). Writer parallelism is bounded
    * by [[graft.sinks.JdbcSink]]'s connection-capacity model so the
    * collection fleet never exceeds what the database host sustains. */
  def collectJdbc(spark: SparkSession, spec: Spec, url: String,
      props: java.util.Properties, instanceMemoryMb: Long, engine: String,
      overwrite: Boolean = true): Unit = {
    graft.sinks.JdbcSink.write(run(spark, spec), url, spec.datasetName,
      props, instanceMemoryMb, engine, overwrite,
      schemaTypes = Some(spec.schema)) // engine-profiled DDL, convertschema seam
    spark.catalog.dropTempView(spec.datasetName)
  }
}
