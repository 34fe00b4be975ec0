package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query registry — the reference's `Logverz-Queries` DynamoDB table
  * (reference infrastructure/templates/Logverz-Engine.json:202-239; writer
  * sources/shared/commonsharedv3.js:1079-1197), kept as a metadata DataFrame
  * with the same row shape and lifecycle semantics:
  *
  *  - `record` appends a row keyed (UsersQuery, UnixTime) carrying the
  *    dataset's (DatabaseName, TableName), DataType, owners/access lists and
  *    Active/Archive flags;
  *  - recording a new query for the same (DatabaseName, TableName)
  *    deactivates prior entries — the reference's "deactivate previous
  *    queries on same table" step (commonsharedv3.js:740-801);
  *  - the GSI-shaped lookups are plain filters; Catalyst replaces index
  *    selection (SURVEY §2.6).
  */
object QueryRegistry {

  final case class Entry(
      UsersQuery: String,
      UnixTime: Long,
      DatabaseName: String,
      TableName: String,
      DataType: String,
      QueryName: String,
      QueryType: String,
      Owners: String,
      Access: String,
      Active: Boolean,
      Archive: Boolean)

  def empty(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[Entry].toDF()
  }

  /** Append a new entry, deactivating previous actives on the same table. */
  def record(registry: DataFrame, e: Entry): DataFrame = {
    import registry.sparkSession.implicits._
    val deactivated = registry.withColumn("Active",
      when(col("DatabaseName") === e.DatabaseName &&
        col("TableName") === e.TableName, lit(false))
        .otherwise(col("Active")))
    deactivated.unionByName(Seq(e).toDF())
  }

  /** GSI-shaped lookups (nosql.js:492-521 chose an index by attribute names;
    * here they are just filters). */
  def byTable(registry: DataFrame, db: String, table: String): DataFrame =
    registry.where(col("DatabaseName") === db && col("TableName") === table)

  def activeQueries(registry: DataFrame): DataFrame =
    registry.where(col("Active") && !col("Archive"))
}
