package graft.engine

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers matching the reference's source surface (SURVEY.md §2 S1-S9).
  *
  * The reference's live REST sources (S3/S4/S12/S13) are modeled as file
  * scans over their pre-fetched payloads — query semantics, not HTTP
  * plumbing, are the engine's contract. All readers here are splittable,
  * predicate-pushdown-capable DataSource V2 scans.
  */
object Sources {

  /** S1/S2: the Enedis CSV input — `sep=';'`, header row
    * (`extract.py:129-135`). Schema optional: inferred when absent, exactly
    * like `pd.read_csv`; pass one for production stability. */
  def csv(spark: SparkSession, path: String, sep: String = ";",
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("sep", sep).option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  /** S3/S8: JSON-lines payloads (API pages / minio objects,
    * `filestorage_helper.py:138-151`). Spark flattens the top-level object
    * into columns, mirroring the reference's manual dict-flatten
    * (`extract.py:167-171`). */
  def jsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Flatten nested struct columns to `parent_child` scalars — the
    * relational form of the reference's manual GeoJSON flatten
    * (`extract.py:167-171`): one projection, recursive over struct depth,
    * arrays/maps left opaque (the reference has none). */
  def flattenStructs(df: DataFrame, sep: String = "_"): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    def expand(prefix: String, schema: StructType): Seq[(String, String)] =
      schema.fields.flatMap { f =>
        val path = if (prefix.isEmpty) s"`${f.name}`" else s"$prefix.`${f.name}`"
        val name = if (prefix.isEmpty) f.name
          else prefix.replace("`", "").replace(".", sep) + sep + f.name
        f.dataType match {
          case s: StructType => expand(path, s)
          case _ => Seq(path -> name)
        }
      }
    val cols = expand("", df.schema).map { case (p, n) => col(p).as(n) }
    df.select(cols: _*)
  }

  /** S7: parquet zone scan (`filestorage_helper.py:135-136`). Schema
    * optional: inferred from the footers when absent (one Spark job). */
  def parquet(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(path)

  /** Parquet scan with schema evolution: batches written before a column
    * was added coexist with newer ones — the merged schema is the union,
    * old files read the new columns as null. The zone-append story for a
    * pipeline whose silver schema grows over time (the reference re-applies
    * a declared schema per run; a 100 TB zone can't be rewritten). */
  def parquetMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Columnar-format breadth beyond the reference's parquet/JSON: ORC scan
    * (predicate pushdown + column pruning, same as parquet). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S9: full-table JDBC read used by load-side dedup (`load.py:128`).
    * `numPartitions`+bounds enable a parallel partitioned read — the
    * reference's single-connection `read_sql_table` is the non-scalable
    * version of this. */
  def jdbc(spark: SparkSession, url: String, table: String,
      props: Properties = new Properties(),
      partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame =
    partitionColumn match {
      case Some((colName, lower, upper, n)) =>
        spark.read.jdbc(url, table, colName, lower, upper, n, props)
      case None => spark.read.jdbc(url, table, props)
    }
}
