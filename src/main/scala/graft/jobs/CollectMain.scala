package graft.jobs

import com.fasterxml.jackson.databind.JsonNode

import graft.schema.SchemaRegistry
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Runnable entry point for the collection job — the analog of dropping a
  * job message on the reference's work queue (jobproducer.js:210-232
  * builds `{DataType, S3Folders, QueryString, TableParameters…}`; here the
  * same document is a JSON file and Spark's scheduler replaces the
  * SQS/Lambda fleet):
  *
  * {{{
  * spark-submit --class graft.jobs.CollectMain … job.json
  * }}}
  *
  * Job document fields (reference wire-format names kept):
  *  - `DataType`: a builtin schema name (VPCFlow, CloudTrail, …) or an
  *    inline DataType document in the reference's storage format;
  *  - `S3Folders`: input paths/globs;
  *  - `DatasetName`: output dataset;
  *  - `QueryString` (optional): ingest pre-filter, S3-Select dialect ok;
  *  - `Format` (optional): auto | csv | json | zip;
  *  - `Sink` (optional): `{"Type": "table"}` (default; optional
  *    `"BucketBy": "col", "Buckets": n`), `{"Type": "parquet",
  *    "Path": …}`, or `{"Type": "jdbc", "Url": …, "Driver": …,
  *    "Engine": "postgres", "InstanceMemoryMb": 8000}` which bounds the
  *    writer fleet by the connection-capacity model.
  */
object CollectMain {

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: CollectMain <job.json>")
    val spark = SparkSession.builder()
      .appName("graft-collect")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    try {
      val n = run(spark, java.nio.file.Files.readString(
        java.nio.file.Path.of(args(0))))
      // the one line a scheduler/operator reads, like the reference's
      // worker completion message
      println(s"""{"status":"done","rows":$n}""")
    } finally spark.stop()
  }

  /** Execute a job document against an existing session; returns the row
    * count written (the reference reports inserted-row totals the same
    * way, worker.js:774-823). */
  def run(spark: SparkSession, jobJson: String): Long = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(jobJson)
    def opt(name: String): Option[JsonNode] =
      Option(root.get(name)).filterNot(_.isNull)

    val dtNode = root.get("DataType")
    require(dtNode != null, "job document needs DataType")
    val schema =
      if (dtNode.isTextual)
        SchemaRegistry.builtins.getOrElse(dtNode.asText,
          throw new IllegalArgumentException(
            s"unknown builtin DataType ${dtNode.asText}"))
      else SchemaRegistry.parseDocument(
        Option(dtNode.get("Name")).map(_.asText).getOrElse("inline"),
        dtNode.toString)

    import scala.jdk.CollectionConverters._
    val paths = root.get("S3Folders").elements().asScala
      .map(_.asText).toSeq
    val spec = CollectJob.Spec(
      schema = schema,
      paths = paths,
      datasetName = root.get("DatasetName").asText,
      query = opt("QueryString").map(_.asText),
      format = opt("Format").map(_.asText).getOrElse("auto"))

    opt("Sink").map(s => Option(s.get("Type")).map(_.asText)
        .getOrElse("table")) match {
      case None | Some("table") =>
        val bucket = for {
          s <- opt("Sink"); b <- Option(s.get("BucketBy"))
        } yield (b.asText,
          Option(s.get("Buckets")).map(_.asInt).getOrElse(8))
        CollectJob.collect(spark, spec, bucket)
        spark.table(spec.datasetName).count()
      case Some("parquet") =>
        val path = opt("Sink").get.get("Path").asText
        // counted as the write runs, not by reading the files back
        val written = new Observation()
        CollectJob.run(spark, spec).observe(written, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(path)
        written.get("n").asInstanceOf[Long]
      case Some("jdbc") =>
        val s = opt("Sink").get
        val props = new java.util.Properties()
        Option(s.get("Driver")).foreach(d =>
          props.setProperty("driver", d.asText))
        CollectJob.collectJdbc(spark, spec, s.get("Url").asText, props,
          instanceMemoryMb =
            Option(s.get("InstanceMemoryMb")).map(_.asLong).getOrElse(8000L),
          engine = Option(s.get("Engine")).map(_.asText)
            .getOrElse("postgres"))
        graft.sinks.JdbcSink.read(spark, s.get("Url").asText,
          spec.datasetName, props).count()
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown sink type $other")
    }
  }
}
