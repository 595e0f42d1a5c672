package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Categorical feature encoding — the feature-prep step between the
  * cleaned silver tables and a trainer (the reference stops at typed
  * entities; a production consumer of the same tables encodes before
  * fitting anything).
  *
  * Both encoders follow the engine's determinism discipline: orders are
  * total (count desc, value asc — never hash order), aggregations run in
  * exact DECIMAL, and the tiny per-category tables broadcast back so the
  * fact side never shuffles.
  */
object Encode {

  /** Frequency-ordered dense index for a categorical column (the
    * classic StringIndexer shape): index 0 = most frequent, ties broken
    * by value ascending — a TOTAL order, so the mapping is identical on
    * any partitioning/engine. NULL categories get a NULL index (the
    * caller's imputation tier owns missing values).
    *
    * Scale shape: one count aggregation with map-side partials, then a
    * rank window over the DISTINCT domain (domain-sized, like the
    * skyline/value-domain windows — never row-sized), then a broadcast
    * join back; the fact side stays in place. A domain too large to
    * window on one task is past the point where dense indexing is
    * meaningful (use hashing features instead). */
  def indexEncode(df: DataFrame, catCol: String,
      outCol: String = "idx"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column — pass a different outCol")
    val counts = df.where(col(catCol).isNotNull)
      .groupBy(col(catCol)).agg(count(lit(1)).as("__cnt"))
    val w = Window.orderBy(col("__cnt").desc, col(catCol).asc)
    val mapping = counts
      .withColumn(outCol, (row_number().over(w) - 1).cast("long"))
      .drop("__cnt")
    df.join(broadcast(mapping), Seq(catCol), "left")
  }

  /** Feature hashing (the hashing trick — Weinberger et al. 2009): maps
    * a categorical value to a bucket in [0, dim) plus a ±1 sign, with NO
    * vocabulary pass at all — the scale path [[indexEncode]]'s scaladoc
    * points to when the domain outgrows a dense index. Collisions are
    * the accepted trade (the sign hash unbiases the inner product in
    * expectation).
    *
    * Determinism/portability: bucket and sign derive from md5 of the
    * value (the engine's md5-randomness convention), not from a
    * JVM-specific hash, so any engine with md5 reproduces the exact
    * features: bucket = first 8 hex digits mod dim, sign from the 9th
    * hex digit's parity. Map-only — zero shuffle, scales with the scan. */
  def hashEncode(df: DataFrame, catCol: String, dim: Int,
      bucketCol: String = "bucket", signCol: String = "sign"): DataFrame = {
    require(dim > 0, s"dim=$dim")
    Seq(bucketCol, signCol).foreach(c => require(!df.columns.contains(c),
      s"input already has a '$c' column — pass a different bucketCol/signCol"))
    val hx = md5(concat(lit("feat|"), col(catCol).cast("string")))
    val bucket = pmod(conv(substring(hx, 1, 8), 16, 10).cast("long"), lit(dim))
    val sign = when(pmod(conv(substring(hx, 9, 1), 16, 10).cast("long"),
      lit(2)) === 0, 1L).otherwise(-1L)
    df.withColumn(bucketCol, when(col(catCol).isNotNull, bucket))
      .withColumn(signCol, when(col(catCol).isNotNull, sign))
  }

  /** Smoothed target (mean) encoding of a categorical column against a
    * numeric target: enc = (Σy_cat + m·ȳ_global) / (n_cat + m) — the
    * additive-smoothing estimate that shrinks rare categories toward
    * the global mean instead of memorizing them (the classic
    * high-cardinality-categorical leakage defense; m = the pseudo-count
    * weight of the prior).
    *
    * Exactness: both the per-category and the global moments accumulate
    * in DECIMAL, and the final formula is one double expression written
    * identically in the oracle, rounded to the shared 8dp grid. Rows
    * with a NULL category or NULL target are listwise-dropped from the
    * moments (and NULL-category rows get a NULL encoding back).
    * Scale shape: two narrow aggregations (category-keyed, 1-row
    * global) + a broadcast join back — the fact table never shuffles. */
  def targetEncode(df: DataFrame, catCol: String, yCol: String,
      smoothing: Double, outCol: String = "enc"): DataFrame = {
    require(smoothing >= 0.0, s"smoothing=$smoothing")
    // n_cat rides along in the output mapping, so it collides like outCol
    Seq(outCol, "n_cat").foreach(c => require(!df.columns.contains(c),
      s"input already has a '$c' column — rename it before encoding"))
    val y = col(yCol).cast("decimal(18,2)")
    val base = df.where(col(catCol).isNotNull && col(yCol).isNotNull)
    val per = base.groupBy(col(catCol))
      .agg(count(lit(1)).as("__n"), sum(y).as("__sy"))
    val glob = base.agg(count(lit(1)).as("__gn"), sum(y).as("__gsy"))
    val gMean = col("__gsy").cast("double") / col("__gn").cast("double")
    val enc = round(
      (col("__sy").cast("double") + lit(smoothing) * gMean) /
        (col("__n").cast("double") + lit(smoothing)), 8)
    val mapping = per.crossJoin(broadcast(glob))
      .select(col(catCol), col("__n").as("n_cat"), enc.as(outCol))
    df.join(broadcast(mapping), Seq(catCol), "left")
  }

  /** Weight-of-evidence encoding of a categorical column against a
    * BINARY target: WoE_c = ln( ((pos_c + α) / (pos + 2α)) /
    * ((neg_c + α) / (neg + 2α)) ) — the credit-scoring / NLP keyness
    * encoder (a signed, smoothed log-likelihood ratio; α is the
    * Laplace pseudo-count that keeps single-class categories finite).
    * Positive WoE = category over-indexes on y=1.
    *
    * Determinism: counts are exact integers; the ratio is one double
    * expression written identically in the oracle, and the ln result
    * itself is rounded to the engine's 8dp transcendental grid (the
    * KS-test/keyness convention — ln is the only cross-libm surface).
    * Rows with NULL category or NULL target are listwise-dropped from
    * the counts; NULL categories encode NULL. Scale shape: one
    * category-keyed count aggregation + a 1-row global + broadcast
    * map-back — the fact side never shuffles (the Encode contract). */
  def woeEncode(df: DataFrame, catCol: String, yCol: String,
      alpha: Double = 0.5, outCol: String = "woe"): DataFrame = {
    require(alpha > 0.0, s"alpha=$alpha must be > 0 (Laplace smoothing)")
    Seq(outCol, "n_cat").foreach(c => require(!df.columns.contains(c),
      s"input already has a '$c' column — rename it before encoding"))
    val y = col(yCol).cast("long")
    val base = df.where(col(catCol).isNotNull && col(yCol).isNotNull)
      .select(col(catCol), y.as("__y"))
    val per = base.groupBy(col(catCol))
      .agg(count(lit(1)).as("__n"),
        sum(col("__y")).as("__pos"))
    val glob = base.agg(count(lit(1)).as("__gn"),
      sum(col("__y")).as("__gpos"))
    val posRate = (col("__pos").cast("double") + lit(alpha)) /
      (col("__gpos").cast("double") + lit(2.0 * alpha))
    val negRate = ((col("__n") - col("__pos")).cast("double") + lit(alpha)) /
      ((col("__gn") - col("__gpos")).cast("double") + lit(2.0 * alpha))
    val mapping = per.crossJoin(broadcast(glob))
      .select(col(catCol), col("__n").as("n_cat"),
        round(log(posRate / negRate), 8).as(outCol))
    df.join(broadcast(mapping), Seq(catCol), "left")
  }
}
