package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Numeric feature scaling — the trainer-facing normalization tier next
  * to the categorical encoders (Encode): min-max to [0,1] and the
  * median/IQR robust scaler, both per-group so one plan serves the
  * per-segment normalization a real feature pipeline wants (pass a
  * constant group for the global form).
  *
  * Scale shape (both): ONE narrow group-keyed aggregation builds the
  * per-group statistics (map-side partials; group-count-sized result),
  * broadcast join back, map-side arithmetic — the fact table never
  * shuffles, exactly the Encode map-back shape. The robust scaler's
  * quantiles ride [[Percentiles.pct]], so `spark.graft.percentile.approx`
  * swaps the exact value-multiset cut for the bounded-memory GK sketch
  * at 100 TB (same plan shape, the flag's documented contract).
  *
  * Determinism: min/max/percentile are order-free statistics; the final
  * scaled value is one double expression written identically in the
  * oracle and rounded to the shared 8dp grid. A zero range/IQR
  * (constant group) yields NULL, never an ANSI divide-by-zero.
  */
object Scale {

  /** Per-group min-max scaling: (x − min) / (max − min), NULL for
    * constant groups and NULL inputs. Output: input columns +
    * `outCol`. */
  def minMaxScale(df: DataFrame, valueCol: String, byCol: String,
      outCol: String = "scaled"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column — pass a different outCol")
    val x = col(valueCol).cast("double")
    val stats = df.where(col(valueCol).isNotNull)
      .groupBy(col(byCol))
      .agg(min(x).as("__mn"), max(x).as("__mx"))
    df.join(broadcast(stats), Seq(byCol), "left")
      .withColumn(outCol,
        round((x - col("__mn")) /
          when(col("__mx") =!= col("__mn"), col("__mx") - col("__mn")), 8))
      .drop("__mn", "__mx")
  }

  /** Per-group robust scaling: (x − median) / IQR — the
    * outlier-insensitive scaler (sklearn RobustScaler shape; the same
    * quartile machinery as the IQR imputation tier). NULL for
    * zero-IQR groups and NULL inputs. Output: input columns +
    * `outCol`. */
  def robustScale(df: DataFrame, valueCol: String, byCol: String,
      outCol: String = "scaled"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column — pass a different outCol")
    val spark = df.sparkSession
    val x = col(valueCol).cast("double")
    val stats = df.where(col(valueCol).isNotNull)
      .groupBy(col(byCol))
      .agg(
        Percentiles.pct(spark, x, lit(0.25)).as("__q1"),
        Percentiles.pct(spark, x, lit(0.5)).as("__med"),
        Percentiles.pct(spark, x, lit(0.75)).as("__q3"))
    df.join(broadcast(stats), Seq(byCol), "left")
      .withColumn(outCol,
        round((x - col("__med")) /
          when(col("__q3") =!= col("__q1"), col("__q3") - col("__q1")), 8))
      .drop("__q1", "__med", "__q3")
  }

  /** Per-group quantile (rank-uniform) transform: x ↦ its midrank ECDF
    * position (2·cum − cnt) / (2·n) ∈ (0, 1) — the sklearn
    * QuantileTransformer shape with the midrank tie convention (tied
    * values share one position; the output distribution is uniform up
    * to ties). The transform is rank-based, so it is immune to
    * outliers and to any monotone re-scaling of the input.
    *
    * Scale shape (the RankStats discipline): ONE (group, value) count
    * aggregation first, so the cumulative window sorts the VALUE
    * DOMAIN, never rows; the map-back to rows is a plain equi-join on
    * (group, value). All rank arithmetic is exact integers; the single
    * division is one double expression rounded to the 8dp grid. NULL
    * values transform to NULL. Output: input columns + `outCol`. */
  def quantileTransform(df: DataFrame, valueCol: String, byCol: String,
      outCol: String = "u"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column — pass a different outCol")
    val d = df.where(col(valueCol).isNotNull)
      .groupBy(col(byCol), col(valueCol))
      .agg(count(lit(1)).as("__cnt"))
    val wCum = Window.partitionBy(col(byCol))
      .orderBy(col(valueCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(byCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val m = d
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .select(col(byCol), col(valueCol),
        round((lit(2L) * col("__cum") - col("__cnt")).cast("double") /
          (lit(2L) * col("__n")).cast("double"), 8).as(outCol))
    df.join(m, Seq(byCol, valueCol), "left")
  }
}
