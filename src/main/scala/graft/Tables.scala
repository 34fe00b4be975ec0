package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {

  /** Normalize events.ts to a session-zone TimestampType column whatever the
    * driver's parquet encoding of the column is: TIMESTAMP(NANOS) (rejected
    * by the vectorized reader, so read as a nanosecond long via the
    * nanosAsLong flag), TIMESTAMP(MICROS) without the UTC flag (read as
    * TIMESTAMP_NTZ — the session zone is pinned to UTC everywhere, so the
    * cast is the identity reinterpretation DuckDB applies on its side), or
    * already TimestampType. Every query sees one stable ts type regardless
    * of which encoding a given testdata drop used. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Cast any TIMESTAMP_NTZ column to session-zone TimestampType (identity
    * under the pinned UTC zone — the same reinterpretation DuckDB applies).
    * Driver drops have flipped timestamp encodings between rounds; this
    * keeps every query seeing one stable type for ALL tables' timestamps
    * (o_orderdate, l_shipdate, ts), not just events.ts. */
  private def normalizeNtz(df: DataFrame): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        f.name
    }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp")))

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // nanosAsLong keeps TIMESTAMP(NANOS) drops readable (see above); a
    // no-op for micros encodings.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = normalizeNtz(spark.read.parquet(s"$dir/$name.parquet"))
    if (name == "events") normalizeEventTs(df) else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame     = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
