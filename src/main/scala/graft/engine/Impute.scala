package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A1-A4: IQR-conditional null imputation (reference `transform.py:106-144`):
  * for every float column containing nulls, fill with the column MEDIAN when
  * outliers exist beyond [Q1 − 1.5·IQR, Q3 + 1.5·IQR], else with the MEAN.
  *
  * Spark-first shape: the reference loops columns, scanning once per column.
  * Here ALL columns' quantiles go into ONE aggregation job, outlier counts
  * into a second (bounds depend on the first — two passes are inherent), and
  * the fill itself is a single `na.fill` projection. Three scans total
  * regardless of column count — at 100 TB that's the difference between 3
  * and 300 jobs for a 100-float-column silver schema.
  *
  * Exact `percentile` is used for oracle/pandas parity (linear
  * interpolation, matches `quantile_cont`); at extreme scale the
  * session flag `spark.graft.percentile.approx` ([[Percentiles]]) swaps
  * `percentile_approx(c, p, accuracy)` in — same plan shape, bounded
  * memory.
  */
object Impute {

  final case class FillDecision(column: String, strategy: String, fillValue: Double)

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Compute per-column fill decisions (which strategy, which value).
    * The session flag `spark.graft.percentile.approx` ([[Percentiles]])
    * swaps the exact quantiles for the bounded-memory GK sketch; plan
    * shape is unchanged. */
  def decisions(df: DataFrame, cols: Seq[String]): Seq[FillDecision] = {
    require(cols.nonEmpty, "no columns to impute")
    def pct(c: String, p: Double): Column =
      Percentiles.pct(df.sparkSession, col(c), lit(p))

    val qAggs = cols.flatMap { c => Seq(
      pct(c, 0.25).as(s"${c}__q1"),
      pct(c, 0.5).as(s"${c}__med"),
      pct(c, 0.75).as(s"${c}__q3"),
      (sum(dec(col(c))).cast("double") / count(col(c))).as(s"${c}__mean"),
      count(when(col(c).isNull, 1)).as(s"${c}__nulls"))
    }
    val q = df.agg(qAggs.head, qAggs.tail: _*).head()

    // fill only columns that have nulls AND at least one non-null value
    // (all-null ⇒ quantiles are null; pandas leaves such columns untouched)
    val needFill = cols.filter(c => q.getAs[Long](s"${c}__nulls") > 0 &&
      !q.isNullAt(q.fieldIndex(s"${c}__q1")))
    if (needFill.isEmpty) return Seq.empty

    val oAggs = needFill.map { c =>
      val q1 = q.getAs[Double](s"${c}__q1")
      val q3 = q.getAs[Double](s"${c}__q3")
      val iqr = q3 - q1
      count(when(col(c) < q1 - 1.5 * iqr || col(c) > q3 + 1.5 * iqr, 1))
        .as(s"${c}__outliers")
    }
    val o = df.agg(oAggs.head, oAggs.tail: _*).head()

    needFill.map { c =>
      val outliers = o.getAs[Long](s"${c}__outliers")
      if (outliers > 0) FillDecision(c, "median", q.getAs[Double](s"${c}__med"))
      else FillDecision(c, "mean", q.getAs[Double](s"${c}__mean"))
    }
  }

  /** Apply the reference's fill rule; returns the filled frame plus the
    * `cols_filled`-style audit map (`transform.py:81,131-143`). */
  def fillFloats(df: DataFrame, cols: Seq[String])
      : (DataFrame, Map[String, String]) = {
    val ds = decisions(df, cols)
    val filled = if (ds.isEmpty) df
      else df.na.fill(ds.map(d => d.column -> d.fillValue).toMap)
    (filled, ds.map(d => d.column -> d.strategy).toMap)
  }
}
