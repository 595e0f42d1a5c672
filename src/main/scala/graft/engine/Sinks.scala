package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Writers matching the reference's sink surface (SURVEY.md §2 S5). The
  * JSON-lines (S6) and JDBC (S10) sinks are Spark's own writers; the
  * loader's keep-new-keys step is `LoadDedup.newRows`. */
object Sinks {

  /** S5: gzip parquet, the reference's zone format
    * (`filestorage_helper.py:96-99`). `partitionByCols` maps the reference's
    * `{date}_{batch_id}` file-naming convention onto real partition columns,
    * which is what makes downstream date/batch predicates prune at 100 TB. */
  def parquetGzip(df: DataFrame, path: String,
      partitionByCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("compression", "gzip")
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
      .parquet(path)
  }

  /** Bucketed + sorted table write: pre-partitions data by join key so
    * subsequent equi-joins/aggregations on that key run WITHOUT a shuffle
    * (verified by BucketingSpec asserting no exchange in the join plan).
    * This is the 100 TB co-location play: pay the clustering once at write
    * time, skip it on every downstream join. External table via `path`. */
  def bucketedTable(df: DataFrame, tableName: String, path: String,
      bucketCols: Seq[String], numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path)
      .saveAsTable(tableName)
}
