package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._

import graft.llm.TopK

class SessionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val FallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  test("the suite's session is Sessions.local(4): the mains' configuration") {
    val c = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(c.get("spark.sql.shuffle.partitions") === "4")
    assert(c.get("spark.sql.session.timeZone") === "UTC")
    assert(c.get("spark.sql.parquet.outputTimestampType") === "TIMESTAMP_MICROS")
    assert(c.get("spark.sql.adaptive.enabled") === "true")
    assert(JavaUtils.byteStringAsBytes(c.get(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")) === 0L)
    assert(c.get(FallbackKey) === "1048576")
  }

  test("topk_by_score: the sort fallback at 128 keys and the raised " +
    "threshold's hash mode give the same result") {
    // 500 distinct keys in ONE input partition: past 128 keys the partial
    // aggregate falls back to sort-based aggregation
    def run(): (Seq[Row], Long) = {
      val df = spark.range(0, 4000, 1, 1)
        .select((col("id") % 500).as("g"),
          (abs(hash(col("id"))) % 97).cast("double").as("s"), col("id"))
        .groupBy("g")
        .agg(TopK.topKByScore(col("s"), col("id"), lit(3)).as("top"))
      val rows = df.collect().toSeq.sortBy(_.getLong(0))
      val fallbacks = collect(df.queryExecution.executedPlan) {
        case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
      }
      assert(fallbacks.nonEmpty)
      (rows, fallbacks.sum)
    }
    val raised = spark.conf.get(FallbackKey)
    val (hashRows, hashFallbacks) = run()
    spark.conf.set(FallbackKey, "128")
    val (sortRows, sortFallbacks) = try run()
      finally spark.conf.set(FallbackKey, raised)
    assert(sortFallbacks > 0)
    assert(hashFallbacks === 0L)
    assert(hashRows.size === 500)
    assert(sortRows === hashRows)
  }
}
