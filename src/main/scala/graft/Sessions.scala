package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of every graft entry point (the mains and
  * the test suites), so all of them run the same session configuration:
  *
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - UTC session time zone;
  *  - `TIMESTAMP_MICROS` parquet timestamps (int64 micros, the unit the
  *    DuckDB/pandas compare reads on both sides);
  *  - no Spark UI, WARN log level;
  *  - [[graft.llm.TopK.raiseSortFallbackThreshold]].
  *
  * Settings that equal Spark's defaults (AQE on, no SMJ→SHJ conversion)
  * are not repeated here. Any other `spark.*` setting still reaches the
  * session through Spark's own channels, e.g. a JVM system property:
  * `tools/run_main.sh -Dspark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m graft.Bench`.
  *
  * Local threads default to `SPARK_GRAFT_CPUS` (4 when unset). */
object Sessions {

  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.llm.TopK.raiseSortFallbackThreshold(spark)
    spark
  }
}
