package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import graft.functions.Coerce
import graft.schema.{DataTypeSchema, InputSerialization}
import org.apache.spark.sql.{DataFrame, DataFrameReader, GraftSqlBridge,
  SparkSession}
import org.apache.spark.sql.functions._

/** Log-object ingest readers (SURVEY §2.1, S4-S9).
  *
  * The reference's worker downloads S3 objects, decompresses (gzip/zip),
  * parses (CSV with/without header via Papa Parse, JSON with optional
  * root-element unnesting), and coerces to the declared schema (reference
  * sources/worker/worker.js:335-523). Here each step maps to a Spark-native
  * reader so parsing is distributed, columnar-pruned, and codegen'd:
  *
  *  - gzip: Hadoop codec, transparent on `.gz` paths — no code;
  *  - CSV: `spark.read.csv` with options derived 1:1 from the DataType's
  *    InputSerialization (sep/lineSep/quote/header, worker.js:474-523);
  *  - headerless CSV: positional zip against the declared schema
  *    (`_.zipObject` analog, worker.js:481-499) = `schema(...)` on the reader;
  *  - JSON: `spark.read.json` + `explode` of the RootElement array
  *    (worker.js:469-473,375-380);
  *  - ZIP: not a splittable Hadoop codec → `binaryFile` source +
  *    a per-file inflate keeping the reference's single-entry constraint
  *    (worker.js:538-611). ZIP members are decoded on executors, so the read
  *    still scales horizontally by file count;
  *  - every scan packs whole objects into tasks by their compressed bytes
  *    (`scan`), the analog of one worker per download batch.
  *
  * All readers return the *typed* DataFrame (coercion applied), matching the
  * worker's parse→coerce pipeline order.
  */
object IngestReader {

  /** CSV read with options derived from the schema's InputSerialization.
    * Header present ⇒ columns bind to the declared schema BY NAME — the
    * reference parses with Papa Parse `header: true` and zips the
    * resulting objects onto the schema by key (worker.js:474-499), so a
    * file whose column order differs from the declaration still lands
    * every value in the right column, and header names absent from the
    * file surface as nulls (extra file columns are dropped, like the
    * object→schema pass). Headerless ⇒ positional mapping to the declared
    * columns (`_.zipObject` analog). */
  def csv(spark: SparkSession, schema: DataTypeSchema,
      paths: String*): DataFrame = {
    val in = schema.input
    if (in.csvHeader) {
      val raw = scan(spark)(_.options(csvOptions(in)).csv(paths: _*))
      val present = raw.columns.toSet
      Coerce(raw.select(schema.fields.map { f =>
        if (present(f.name)) col(s"`${f.name}`").as(f.name)
        else lit(null).cast("string").as(f.name)
      }: _*), schema)
    } else {
      val raw = scan(spark)(
        _.options(csvOptions(in)).schema(schema.rawSchema).csv(paths: _*))
      Coerce(raw.toDF(schema.fields.map(_.name).take(raw.columns.length) ++
        raw.columns.drop(schema.fields.length): _*), schema)
    }
  }

  /** Reader options derived from the InputSerialization, shared by `csv`
    * and `csvWithErrors` so both paths parse a document the same way. */
  private def csvOptions(in: InputSerialization): Map[String, String] = Map(
    "header" -> in.csvHeader.toString,
    "sep" -> in.fieldDelimiter,
    "lineSep" -> in.recordDelimiter,
    "quote" -> in.quoteCharacter,
    // Papa-Parse parity (found by IngestSpec's §1.2 dialect fuzz):
    // a quote inside a quoted field is escaped by DOUBLING (RFC 4180,
    // Papa's only convention) — Spark's default escape is backslash,
    // which both misreads doubled quotes and eats literal backslashes.
    "escape" -> in.quoteCharacter,
    // Quoted fields may contain the record delimiter (Papa handles
    // this natively). Costs per-file (not per-split) read parallelism
    // — the reference's own model: its worker parses each S3 object
    // in memory; ingest scale-out is by object count either way.
    "multiLine" -> "true",
    "mode" -> "PERMISSIVE")

  /** Every ingest file scan (and its header or schema-inference pass)
    * goes through here. A gz or zip object is not splittable, so it is
    * one unit of scan work, and Spark packs units into tasks charging
    * each a `spark.sql.files.openCostInBytes` (4 MB) open cost. Against
    * 15–600 KB log objects that cost dominates: packing counts files, and
    * since it packs largest first, the big objects share one task. The
    * read is therefore planned on a clone of the session with an open
    * cost of 1 byte, which packs the objects by their compressed bytes and
    * puts the largest ones in different tasks. (Not 0: the split size is
    * at least the open cost, and a split size of 0 fails on splittable
    * objects smaller than the task count.) The analyzed plan is then
    * re-bound to the caller's session: the scan takes its packing conf
    * from its relation's session (the clone), everything downstream runs
    * in the caller's session, and the caller's conf is left as it was. */
  private def scan(spark: SparkSession)(
      read: DataFrameReader => DataFrame): DataFrame = {
    val packed = GraftSqlBridge.cloneSession(spark)
    packed.conf.set("spark.sql.files.openCostInBytes", 1L)
    GraftSqlBridge.ofRows(spark, read(packed.read).queryExecution.analyzed)
  }

  /** JSON read + optional one-level root-element unnest (CloudTrail
    * `Records`-style documents). */
  def json(spark: SparkSession, schema: DataTypeSchema,
      paths: String*): DataFrame = {
    val root = schema.input.rootElement
    // JSON-lines mode: one document per line (CloudTrail-style gz objects
    // are single-line whole-doc JSON; a file of several docs also works).
    val raw = scan(spark)(_.json(paths: _*))
    if (root.isEmpty) coerceFromJsonish(raw, schema)
    else coerceFromJsonish(
      raw.select(explode(col(root)).as("r")).select(col("r.*")), schema)
  }

  /** JSON attributes arrive typed from spark.read.json; normalize each to a
    * string column first (nested structs → their JSON text) then coerce, so
    * declared-schema semantics (incl. JSON columns kept as strings) match the
    * reference's object→schema pass. */
  private def coerceFromJsonish(raw: DataFrame,
      schema: DataTypeSchema): DataFrame = {
    import org.apache.spark.sql.types.{StructType, ArrayType, MapType}
    val asStrings = raw.select(schema.fields.map { f =>
      raw.schema.fields.find(_.name == f.name) match {
        case None => lit(null).cast("string").as(f.name)
        case Some(sf) => sf.dataType match {
          case _: ArrayType =>
            // the reference coerces EMPTY-array attribute values to ""
            // (worker.js:1001-1005, FIXTURES.md golden case); non-empty
            // arrays stringify like other nested values
            when(size(col(s"`${f.name}`")) === 0, lit(""))
              .otherwise(to_json(col(s"`${f.name}`"))).as(f.name)
          case _: StructType | _: MapType =>
            to_json(col(s"`${f.name}`")).as(f.name)
          case _ => col(s"`${f.name}`").cast("string").as(f.name)
        }
      }
    }: _*)
    Coerce(asStrings, schema)
  }

  /** CSV read that also surfaces unparseable rows — the reference's
    * ProcessingErrors path (failed batches dump row + error to an errors
    * table / S3, reference sources/worker/worker.js:774-823 DebugInsert,
    * schema enginesharedv3.mjs:38-90). Returns (typed rows, error rows);
    * error rows carry the raw line in `errormessage` position like the
    * reference's dump. */
  def csvWithErrors(spark: SparkSession, schema: DataTypeSchema,
      jobid: String, paths: String*): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{StructField, StringType}
    val withCorrupt = org.apache.spark.sql.types.StructType(
      schema.rawSchema.fields :+ StructField("_corrupt_record", StringType))
    val raw = scan(spark)(_.options(csvOptions(schema.input))
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .csv(paths: _*))
      // taken before the cache: input_file_name is empty over cached rows
      .withColumn("_path", input_file_name())
      .cache() // corrupt-record column requires the same scan for both sides
    val good = Coerce(raw.where(col("_corrupt_record").isNull)
      .drop("_corrupt_record", "_path"), schema)
    val errors = raw.where(col("_corrupt_record").isNotNull)
      .select(
        lit(jobid).as("jobid"),
        lit("").as("invocationid"),
        (unix_timestamp() * 0L).as("updateunixtime"), // filled by caller
        col("_corrupt_record").as("errormessage"),
        col("_path").as("path"),
        lit("").as("loggroup"), lit("").as("logstream"))
    (good, errors)
  }

  /** Single-entry-ZIP text source: binaryFile scan + executor-side inflate.
    * Multi-entry archives are rejected, keeping the reference's constraint
    * (worker.js:546-552). Returns one row per text line, with the source
    * path retained for lineage. */
  def zipLines(spark: SparkSession, paths: String*): DataFrame = {
    import spark.implicits._
    val bin = scan(spark)(_.format("binaryFile").load(paths: _*))
      .select(col("path"), col("content"))
    bin.as[(String, Array[Byte])].flatMap { case (path, bytes) =>
      val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
      val first = zis.getNextEntry
      require(first != null, s"empty zip archive: $path")
      val text = new String(zis.readAllBytes(), "UTF-8")
      require(zis.getNextEntry == null,
        s"multi-entry zip archives are not supported: $path")
      text.split("\n").filter(_.nonEmpty).map(l => (path, l))
    }.toDF("path", "line")
  }

  /** ZIP'd CSV → typed DataFrame (headerless; positional schema). */
  def zipCsv(spark: SparkSession, schema: DataTypeSchema,
      paths: String*): DataFrame = {
    val lines = zipLines(spark, paths: _*)
    val in = schema.input
    val parsed = lines.select(
      split(col("line"), java.util.regex.Pattern.quote(in.fieldDelimiter))
        .as("f"))
      // the reference's headerless zip drops rows that split into fewer
      // than 2 fields (stray fragments, trailing junk — worker.js:
      // 481-499); this line-based path can apply the rule exactly. The
      // spark.read.csv path cannot (PERMISSIVE null-pads short rows
      // indistinguishably from empty trailing fields) — divergence
      // documented in COVERAGE.md.
      .where(size(col("f")) >= 2)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      col("f").getItem(i).as(f.name)
    }
    Coerce(parsed.select(cols: _*), schema)
  }
}
