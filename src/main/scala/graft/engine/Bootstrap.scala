package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Poisson bootstrap confidence intervals (Chamandy et al. 2012, the
  * scale-correct bootstrap): instead of resampling n rows with
  * replacement — impossible to coordinate across a cluster — every row
  * independently draws a Poisson(1) weight per replicate, which matches
  * the multinomial bootstrap to O(1/n) and needs no global coordination
  * at all.
  *
  * Determinism: the Poisson draw never touches floating point — an
  * 8-hex-char slice of `md5(seed|key|chunk)` (each digest feeds FOUR
  * replicates — hashing is the dominant cost) compares against
  * PRECOMPUTED hex thresholds of the Poisson(1) CDF quantized to 2^32
  * (the md5-uniform house convention), so both engines draw identical
  * weights. The tail truncates at w = 10 (mass ≈ 1e-8 — a documented
  * bias far below the CI's own Monte-Carlo error). Replicate means are
  * exact-DECIMAL-sum ratios; the CI is the exact interpolated
  * percentile over the B replicate means.
  *
  * Shape: rows explode ×B map-side, aggregate with map-side partials
  * to (group, replicate) — the shuffle carries B rows per group. */
object Bootstrap {

  /** Poisson(1) CDF quantized to 2^32, as md5-comparable hex literals:
    * weight w = number of thresholds the hash prefix is ≥. */
  private[engine] def cdfHex: Seq[String] = PoissonCdfHex

  private val PoissonCdfHex = Seq(
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5",
    "ffd90f3b", "fffa8b71", "ffff540c", "ffffed1f", "fffffe21",
    "ffffffd4")

  /** The CASE ladder mapping a hex prefix to its Poisson(1) weight —
    * exposed so oracle SQL can be generated from the same constants. */
  def poissonCaseSql(prefixExpr: String): String =
    "CASE " + PoissonCdfHex.zipWithIndex.map { case (h, i) =>
      s"WHEN $prefixExpr < '$h' THEN $i"
    }.mkString(" ") + s" ELSE ${PoissonCdfHex.length} END"

  private def poissonWeight(prefix: Column): Column =
    PoissonCdfHex.zipWithIndex.foldRight(
      lit(PoissonCdfHex.length): Column) { case ((h, i), acc) =>
      when(prefix < lit(h), i).otherwise(acc)
    }

  /** Percentile-bootstrap CI for the per-group mean of `valueCol`:
    * B replicates of the Poisson-weighted mean, then the exact
    * interpolated (lo, hi) percentiles across replicates. `keyCol`
    * must uniquely identify a row (it seeds the draw). Output: group,
    * n, mean, ci_lo, ci_hi.
    *
    * This is the scale path: ONE pass with the native
    * [[PoissonBootSums]] aggregate — no B× row amplification, one
    * 2B-long buffer per task into the exchange. Draw- and value-parity
    * with [[meanCiDeclarative]] is spec-gated. */
  def meanCi(df: DataFrame, groupCol: String, valueCol: String,
      keyCol: Column, b: Int = 50, lo: Double = 0.025,
      hi: Double = 0.975, seed: String = "boot"): DataFrame = {
    require(b >= 2 && lo < hi, s"b=$b lo=$lo hi=$hi")
    val base = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        keyCol.cast("string").as("k"))
    val agg = base.groupBy(col("g")).agg(
      count(lit(1)).as("n"),
      sum(col("cents")).as("sc"),
      graft.GraftFunctions.column("poisson_boot_sums", col("k"), col("cents"),
        lit(b), lit(seed)).as("bs"))
    val mean = round((col("sc").cast("double") / lit(100.0)) /
      col("n").cast("double"), 8)
    agg.select(col("g"), col("n"), mean.as("mean"),
        explode(col("bs")).as("r"))
      .select(col("g"), col("n"), col("mean"),
        when(col("r.wn") > 0,
          (col("r.ws").cast("double") / lit(100.0)) /
            col("r.wn").cast("double")).as("rep_mean"))
      .where(col("rep_mean").isNotNull)
      .groupBy(col("g"), col("n"), col("mean"))
      .agg(round(percentile(col("rep_mean"), lit(lo)), 8).as("ci_lo"),
        round(percentile(col("rep_mean"), lit(hi)), 8).as("ci_hi"))
      .select(col("g").as(groupCol), col("n"), col("mean"),
        col("ci_lo"), col("ci_hi"))
  }

  /** The declarative explode-×B formulation of [[meanCi]] — retained as
    * the oracle-shaped reference tier the native aggregate is proven
    * against (and the form portable to engines without the custom
    * function). */
  def meanCiDeclarative(df: DataFrame, groupCol: String, valueCol: String,
      keyCol: Column, b: Int = 50, lo: Double = 0.025,
      hi: Double = 0.975, seed: String = "boot"): DataFrame = {
    require(b >= 2 && lo < hi, s"b=$b lo=$lo hi=$hi")
    val base = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        col(valueCol).cast("decimal(18,2)").as("x"),
        keyCol.cast("string").as("k"))
    // one md5 yields FOUR 8-hex uniforms (32 hex chars) — explode over
    // digest chunks first, then slots, so the hash count is B/4 per row
    // instead of B (the md5 IS the dominant cost of the whole CI: 4×
    // fewer digests measured ~3× faster end-to-end at sf0.1)
    val chunks = (b + 3) / 4
    val exploded = base
      .select(col("g"), col("x"), col("k"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("__h", md5(concat(lit(s"$seed|"), col("k"), lit("|"),
        col("chunk").cast("string"))))
      .select(col("g"), col("x"), col("chunk"), col("__h"),
        explode(sequence(lit(0), lit(3))).as("slot"))
      .withColumn("rep", col("chunk") * 4 + col("slot") + 1)
      .where(col("rep") <= b)
      .withColumn("w", poissonWeight(
        expr("substring(__h, CAST(1 + 8 * slot AS INT), 8)")))
    val reps = exploded.groupBy(col("g"), col("rep"))
      .agg(sum(col("w").cast("decimal(28,0)") * col("x")).as("ws"),
        sum(col("w")).as("wn"))
      .select(col("g"), col("rep"),
        when(col("wn") > 0,
          col("ws").cast("double") / col("wn").cast("double"))
          .as("rep_mean"))
      .where(col("rep_mean").isNotNull)
    val point = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        (sum(col("x")).cast("double") / count(lit(1))).as("mean"))
    point.join(
      reps.groupBy(col("g")).agg(
        round(percentile(col("rep_mean"), lit(lo)), 8).as("ci_lo"),
        round(percentile(col("rep_mean"), lit(hi)), 8).as("ci_hi")),
      "g")
      .select(col("g").as(groupCol), col("n"), round(col("mean"), 8)
        .as("mean"), col("ci_lo"), col("ci_hi"))
  }
}
