package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers matching the reference's source surface (SURVEY.md §2 S1-S9).
  *
  * The reference's live REST sources (S3/S4/S12/S13) are modeled as file
  * scans over their pre-fetched payloads — query semantics, not HTTP
  * plumbing, are the engine's contract. The other formats (CSV, JSON
  * lines, JDBC) are Spark's own readers, called where they are used.
  */
object Sources {

  /** S7: parquet zone scan (`filestorage_helper.py:135-136`). Schema
    * optional: inferred from the footers when absent (one Spark job). */
  def parquet(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(path)
}
