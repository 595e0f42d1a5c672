package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Population Stability Index — the model-monitoring drift screen
  * (banking-scorecards standard; the tabular complement of the corpus
  * JSD drift in [[graft.llm.TextAnalysis]]):
  *
  *   PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)
  *
  * with p from the REFERENCE population and q from the CURRENT one,
  * over bins cut at the reference deciles (so p_i ≈ 1/bins by
  * construction and drift shows up purely in q). <0.1 stable,
  * 0.1–0.25 moderate, >0.25 major shift — the usual reading.
  */
object Drift {

  /** Per-bin PSI contributions of `valueCol`, reference vs current rows
    * split by `isRef`. Bin edges are the reference population's exact
    * interpolated percentiles (broadcast scalar row — the RFM/quantile-
    * buckets convention); proportions clip at `eps` before the log so
    * empty bins contribute the standard capped penalty instead of ±∞.
    * Determinism: bin assignment compares the value against the shared
    * edge doubles; proportions are exact count ratios; ln rounds to the
    * 8dp grid and the contribution rounds again after the rational
    * factor (the BM25 rule). Both populations must be NON-EMPTY — an
    * empty reference makes the screen meaningless and fails loudly
    * (ANSI division) rather than reporting eps-floored noise. Output:
    * bin, n_ref, n_cur, p, q, contrib — Σ contrib is the PSI. */
  def psiBins(df: DataFrame, valueCol: String, isRef: Column,
      bins: Int = 10, eps: Double = 1e-4): DataFrame = {
    require(bins >= 2 && bins <= 100, s"bins=$bins")
    val x = col(valueCol).cast("double")
    // listwise-null discipline on the PREDICATE too: a NULL isRef row
    // belongs to neither population (when(!is_ref) would silently count
    // it as ref=0 AND cur=0 here while a SQL CASE ELSE counts it as
    // current — the exact engine/oracle divergence ADVICE r3 flagged)
    val base = df.where(col(valueCol).isNotNull && isRef.isNotNull)
      .select(x.as("x"), isRef.as("is_ref"))
    val probs = (1 until bins).map(_.toDouble / bins)
    val cuts = base.where(col("is_ref"))
      .agg(percentile(col("x"), typedlit(probs)).as("cuts"))
    // bin = number of edges the value exceeds (edges ascending; ties go
    // LEFT: value == edge stays in the lower bin on both engines)
    val binned = base.crossJoin(broadcast(cuts))
      .select(col("is_ref"),
        aggregate(col("cuts"), lit(0L),
          (acc, e) => acc + when(col("x") > e, 1L).otherwise(0L))
          .as("bin"))
    val counts = binned.groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
    val tot = counts.agg(sum(col("n_ref")).as("tr"),
      sum(col("n_cur")).as("tc"))
    val p = greatest(col("n_ref").cast("double") / col("tr").cast("double"),
      lit(eps))
    val q = greatest(col("n_cur").cast("double") / col("tc").cast("double"),
      lit(eps))
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(p, 8).as("p"), round(q, 8).as("q"),
        round((p - q) * round(log(p / q), 8), 8).as("contrib"))
  }
}
