package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2-D skyline (Pareto frontier, Börzsönyi et al. 2001): the rows not
  * dominated on (minimize `costCol`, maximize `gainCol`) — "cheapest
  * for its capability" screens (price/size, latency/recall, …).
  *
  * In 2-D the skyline is a RUNNING-MAX staircase, not a quadratic
  * dominance join: pre-aggregate the best gain per distinct cost
  * (map-side combinable), cumulative-max over the distinct-COST table
  * ordered ascending (the value-domain window convention — the sort is
  * domain-sized, never row-sized), keep cost levels whose best gain
  * strictly exceeds every cheaper level's, then one equi-join brings
  * back ALL rows attaining (cost, best gain) — co-optimal ties are all
  * non-dominated (dominance needs one strict inequality). Exact
  * comparisons throughout (no float formulas). Output: the input rows
  * of the frontier, ordered by (cost, id). */
object Skyline {

  def frontier2d(df: DataFrame, idCol: String, costCol: String,
      gainCol: String): DataFrame = {
    val base = df
      .where(col(costCol).isNotNull && col(gainCol).isNotNull)
      .select(col(idCol).as("id"),
        col(costCol).cast("decimal(18,2)").as("cost"),
        col(gainCol).cast("long").as("gain"))
    val perCost = base.groupBy(col("cost"))
      .agg(max(col("gain")).as("best"))
    val wCum = Window.orderBy(col("cost"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = perCost
      .withColumn("prev_best", max(col("best")).over(wCum))
      .where(col("prev_best").isNull || col("best") > col("prev_best"))
      .select(col("cost").as("kcost"), col("best"))
    base.join(kept, col("cost") === col("kcost") &&
        col("gain") === col("best"))
      // double output (exact for cent-grid values — the bollinger
      // dtype-alignment note)
      .select(col("id"), col("cost").cast("double").as("cost"),
        col("gain"))
      .orderBy(col("cost"), col("id"))
  }
}
