package graft.engine

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The exact→approx percentile switch SCALING.md promises for the
  * decile-cut family (imputation bounds, Lorenz/RFM cut arrays,
  * equal-frequency bucketing).
  *
  * Default is Spark's exact `percentile` — linear interpolation, matching
  * DuckDB `quantile_cont` and pandas `quantile`, which is what every
  * oracle hash pins. Its per-group cost is the value multiset in
  * aggregation-buffer memory, fine up to the documented scales. When a
  * value set outgrows executor memory (the 100 TB case), set
  *
  *   spark.graft.percentile.approx = true
  *   spark.graft.percentile.accuracy = 10000   (optional, default 10000)
  *
  * and the SAME plan shape runs on `percentile_approx` (GK sketch:
  * bounded memory, mergeable partials, error ≤ 1/accuracy of rank). The
  * swap changes only the aggregate expression, never the join/broadcast
  * structure, so the scale argument for each query is unchanged.
  *
  * Contract note: `percentile_approx` returns an actual data value
  * (no interpolation), so even a rank-exact sketch moves BOUNDARY rows
  * between bins when an interpolated cut falls between adjacent
  * distinct values — up to one distinct-value group per adjacent cut
  * (so a bin bounded by two cuts can shift by the rows tied at each);
  * on ties-heavy columns whose cuts are data values the two paths are
  * bit-identical. FrontierSpec pins exactly that contract at fixture
  * scale; at 100 TB the additional ≤ n/accuracy rank error is the
  * accepted trade.
  */
object Percentiles {

  val ApproxConf = "spark.graft.percentile.approx"
  val AccuracyConf = "spark.graft.percentile.accuracy"

  def approxEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(ApproxConf).exists(_.trim.equalsIgnoreCase("true"))

  def accuracy(spark: SparkSession): Int =
    spark.conf.getOption(AccuracyConf).map { raw =>
      val v = try raw.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$AccuracyConf must be a positive integer, got '$raw'")
      }
      require(v > 0, s"$AccuracyConf must be a positive integer, got '$raw'")
      v
    }.getOrElse(10000)

  /** Session-flagged percentile: exact by default, GK sketch when
    * `spark.graft.percentile.approx=true`. `p` may be a scalar fraction or
    * an array literal of fractions (both built-ins accept either).
    *
    * The approx input is cast to double FIRST: exact `percentile`
    * always returns DoubleType, while `percentile_approx` returns the
    * child column's type — without the cast, flipping the flag would
    * change the result type under every caller that reads doubles
    * (getAs[Double] on an int/decimal column ⇒ ClassCastException). */
  def pct(spark: SparkSession, c: Column, p: Column): Column =
    if (approxEnabled(spark))
      percentile_approx(c.cast("double"), p, lit(accuracy(spark)))
    else percentile(c, p)
}
