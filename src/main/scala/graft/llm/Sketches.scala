package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable frequency/cardinality sketches for 100 TB profiling passes:
  * HyperLogLog distinct counts and Count-Min frequency estimation.
  *
  * Why sketches at all: an exact `COUNT(DISTINCT x)` over 100 TB shuffles
  * every distinct value; an exact per-token frequency table shuffles the
  * vocabulary. Both sketches here reduce a partition to a CONSTANT-size
  * state (m buckets / d×w counters) that merges associatively, so the
  * map-side partial aggregation collapses each task's slice before the
  * exchange — the shuffle carries O(m) rows per partition regardless of
  * data volume.
  *
  * Why md5-derived hashing: the estimate must be reproducible across
  * engines (the DuckDB oracle replays the identical sketch in SQL), so
  * bucket/rho/cell derivations use md5 hex — no engine-private hash seeds
  * — and all bucket sums are exact integers (bit shifts, not float pow):
  * the only floating-point step is the final estimate formula, an
  * IEEE-deterministic single division.
  *
  * Reference analog: the reference profiles frequency/cardinality with
  * pandas `nunique`/`value_counts` (reference `transform.py` profiling
  * steps); these are the sketch-tier equivalents a cluster needs.
  */
object Sketches {

  /** HyperLogLog bucket count m. */
  val HllBuckets = 64

  /** 2-hex-char (8-bit) value of `h`'s chars [pos, pos+1], 0..255. */
  private def hexByte(h: Column, pos: Int): Column =
    conv(substring(h, pos, 2), 16, 10).cast("int")

  /** HyperLogLog distinct-count estimate per group (m = 64 buckets,
    * alpha_64 = 0.709, Flajolet et al. 2007).
    *
    * Derivation (mirrored verbatim by the SQL oracle):
    *   bucket = first byte of md5("hllb|" + v) mod 64
    *   rho    = (# leading zero bits of the 64-bit prefix of
    *             md5("hllr|" + v)) + 1, clamped to 48
    *   S      = Σ_buckets 2^(48 − max rho)  +  (64 − #present) · 2^48
    *   est    = 0.709 · 64² · 2^48 / S
    *
    * The 2^48 scaling keeps every term an exact BIGINT (no float pow, no
    * order-dependent float sums); the rho ≤ 48 clamp loses nothing
    * observable (P[rho > 48] = 2^-48 per value) and is applied identically
    * on both engines. The standard small-range correction applies when
    * est ≤ 2.5m and empty buckets exist: linear counting m·ln(m/V). The
    * branch condition compares the UNROUNDED raw estimate (deterministic —
    * exact-integer inputs), and the ln() result is rounded to 8dp like
    * every float statistic in this engine (cross-libm last-ulp variation
    * sits ~9 orders of magnitude below the rounding grid — same contract
    * as the exp() in the KS-test oracle).
    *
    * Output: groupCols*, hll_estimate (double, 8dp), buckets_used,
    * exact_distinct (for error inspection at test scale — at 100 TB you
    * would drop it; it is the thing the sketch replaces). */
  /** The per-(group, bucket) sketch STATE: (groupCol, bucket, rmax).
    * This is the mergeable representation — two sketches over disjoint
    * (or overlapping!) row sets merge by MAX per bucket, which is how
    * per-shard/per-partition sketches roll up without rescanning
    * ([[hllMergeAll]] demonstrates it; the oracle proves the merged and
    * direct estimates coincide). */
  def hllBuckets(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("string")
    val bucket = pmod(hexByte(md5(concat(lit("hllb|"), v)), 1), lit(HllBuckets))
    // Leading-zero count of the 64-bit (16-hex-char) prefix, via nibble
    // arithmetic: ltrim the zero nibbles, then the first surviving nibble
    // contributes 3/2/1/0 more zero bits depending on its high bits.
    val h16 = substring(md5(concat(lit("hllr|"), v)), 1, 16)
    val stripped = ltrim(h16, "0")
    val nibbleZeros = (lit(16) - length(stripped)) * 4
    val firstNib = substring(stripped, 1, 1)
    val extra = when(firstNib === "1", 3)
      .when(firstNib.isin("2", "3"), 2)
      .when(firstNib.isin("4", "5", "6", "7"), 1)
      .otherwise(0)
    val rho = when(stripped === "", lit(65))
      .otherwise(nibbleZeros + extra + 1)
    df.select(col(groupCol), bucket.as("bucket"), least(rho, lit(48)).as("rho"))
      .groupBy(groupCol, "bucket")
      .agg(max("rho").as("rmax"))
  }

  /** Estimate columns from a bucket-state frame grouped by `keys`
    * (empty = one global row): hll_estimate, buckets_used. */
  private def estimateFrom(perBucket: DataFrame, keys: Seq[String]): DataFrame = {
    val m = HllBuckets
    perBucket
      .groupBy(keys.map(col): _*)
      .agg(
        (sum(expr("shiftleft(cast(1 as bigint), 48 - rmax)")) +
          (lit(m.toLong) - count(lit(1))) * lit(281474976710656L)).as("s48"),
        count(lit(1)).as("buckets_used"))
      .withColumn("__raw",
        lit(0.709) * lit(64.0) * lit(64.0) * lit(281474976710656.0) /
          col("s48").cast("double"))
      .withColumn("hll_estimate",
        when(col("__raw") <= lit(160.0) && col("buckets_used") < m,
          round(lit(64.0) *
            log(lit(64.0) / (lit(m.toLong) - col("buckets_used")).cast("double")), 8))
          .otherwise(round(col("__raw"), 8)))
      .drop("s48", "__raw")
  }

  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val sketch = estimateFrom(hllBuckets(df, groupCol, valueCol), Seq(groupCol))
    val exact = df.groupBy(groupCol)
      .agg(countDistinct(col(valueCol)).as("exact_distinct"))
    sketch.join(exact, Seq(groupCol))
      .select(col(groupCol), col("hll_estimate"), col("buckets_used"),
        col("exact_distinct"))
  }

  /** Global estimate by MERGING per-group sketches (max per bucket) —
    * the two-level rollup a sharded 100 TB profile uses: each shard
    * keeps its m-bucket state, the merge touches sketches only, and the
    * result is IDENTICAL to sketching the union directly (max is
    * associative/commutative/idempotent, so overlapping groups are fine).
    * Output: one row — merged_estimate, direct_estimate, exact_distinct
    * (merged = direct by construction; the oracle hash proves it in both
    * engines). */
  def hllMergeAll(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val merged = estimateFrom(
      hllBuckets(df, groupCol, valueCol)
        .groupBy("bucket").agg(max("rmax").as("rmax")),
      Seq.empty)
      .select(col("hll_estimate").as("merged_estimate"))
    val direct = estimateFrom(
      hllBuckets(df.withColumn("__g", lit(1)), "__g", valueCol),
      Seq.empty)
      .select(col("hll_estimate").as("direct_estimate"))
    val exact = df.agg(countDistinct(col(valueCol)).as("exact_distinct"))
    merged.crossJoin(direct).crossJoin(exact)
  }

  /** Pairwise audience overlap between groups by HLL SET ALGEBRA: for
    * every unordered group pair, estimate |A|, |B|, |A∪B| (bucket-max
    * merge of the two sketches — the only set operation HLL supports
    * natively) and derive |A∩B| by inclusion–exclusion — the standard
    * overlap estimator (Flajolet et al. 2007 §5 discussion; error grows
    * with the symmetric difference, which is why exact_intersect rides
    * along at test scale).
    *
    * Scale shape: everything after [[hllBuckets]] operates on m-bucket
    * STATES (|G|·64 rows), so the pair expansion is |G|²·64 sketch rows
    * — independent of data volume; the one corpus-sized pass is the
    * bucket build. The exact intersection is a distinct-pair join kept
    * only for the error column (drop at 100 TB, like exact_distinct).
    * Inclusion–exclusion can go negative for near-disjoint sets — that
    * is the estimator's documented behavior, reported as-is.
    * Output: g1, g2, est_a, est_b, est_union, est_intersect,
    * exact_intersect. */
  def hllIntersect(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val states = hllBuckets(df, groupCol, valueCol)
      .select(col(groupCol).as("g"), col("bucket"), col("rmax"))
    val singles = estimateFrom(states, Seq("g"))
      .select(col("g"), col("hll_estimate"))
    val gs = states.select(col("g")).distinct()
    val pairs = gs.toDF("g1").crossJoin(gs.toDF("g2"))
      .where(col("g1") < col("g2"))
    val pairStates = pairs
      .join(states.toDF("g1", "bucket", "rmax"), Seq("g1"))
      .select(col("g1"), col("g2"), col("bucket"), col("rmax"))
      .unionByName(pairs
        .join(states.toDF("g2", "bucket", "rmax"), Seq("g2"))
        .select(col("g1"), col("g2"), col("bucket"), col("rmax")))
      .groupBy(col("g1"), col("g2"), col("bucket"))
      .agg(max(col("rmax")).as("rmax"))
    val unions = estimateFrom(pairStates, Seq("g1", "g2"))
      .select(col("g1"), col("g2"), col("hll_estimate").as("est_union"))
    val dv = df.select(col(groupCol).as("g"), col(valueCol).as("v")).distinct()
    val exact = dv.toDF("g1", "v").join(dv.toDF("g2", "v"), Seq("v"))
      .where(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("exact_intersect"))
    unions
      .join(singles.toDF("g1", "est_a"), Seq("g1"))
      .join(singles.toDF("g2", "est_b"), Seq("g2"))
      .join(exact, Seq("g1", "g2"), "left")
      .select(col("g1"), col("g2"), col("est_a"), col("est_b"),
        col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 8)
          .as("est_intersect"),
        coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
  }

  /** Count-Min sketch (d hash rows × w counters) over a value column,
    * probed back for every distinct value: estimate = min_r counter[r][c_r].
    *
    * Build: each occurrence increments one cell per hash row — a groupBy
    * on (row, cell) whose partial aggregation bounds per-task state at
    * d·w counters. Probe: the ≤ d·w-row sketch is broadcast and each
    * distinct value takes the min over its d cells. Overestimation only
    * (CM guarantee): est ≥ exact always, est ≤ exact + εN w.h.p.
    *
    * Output: value, exact_cnt, cms_est — exact_cnt exists for the error
    * column at test scale; production keeps only the sketch. */
  def cmsCounts(values: DataFrame, valueCol: String,
      d: Int = 4, w: Int = 128): DataFrame = {
    // cells derive from ONE md5 byte (0..255): widths above 256 would
    // silently use only 256 cells, and non-divisors of 256 would bias
    // the wrap-around cells — reject both so the ε = 2/w bound holds
    require(d >= 1 && w >= 1 && w <= 256 && 256 % w == 0,
      s"cmsCounts: w must divide 256 (got d=$d, w=$w)")
    val v = col(valueCol).cast("string")
    val rows = explode(array((0 until d).map(lit): _*)).as("r")
    def cellOf(value: Column): Column = pmod(
      hexByte(md5(concat(lit("cms"), col("r").cast("string"), lit("|"), value)), 1),
      lit(w))
    val sketch = values
      .select(v.as("value"), rows)
      .withColumn("cell", cellOf(col("value")))
      .groupBy("r", "cell").agg(count(lit(1)).as("cnt"))
    val exact = values.groupBy(v.as("value"))
      .agg(count(lit(1)).as("exact_cnt"))
    val probes = exact
      .select(col("value"), col("exact_cnt"),
        explode(array((0 until d).map(lit): _*)).as("r"))
      .withColumn("cell", cellOf(col("value")))
    probes
      .join(broadcast(sketch), Seq("r", "cell"))
      .groupBy("value", "exact_cnt")
      .agg(min("cnt").as("cms_est"))
  }

  /** Equi-join size estimation by CMS inner product (Alon, Matias &
    * Szegedy 1999's F₂/join-size line; Cormode & Muthukrishnan 2005 §4.2
    * give exactly this estimator): |A ⋈ B| on a key equals the inner
    * product of the two key-frequency vectors, and the minimum over
    * hash rows of Σ_c cmsA[r][c]·cmsB[r][c] overestimates it by at most
    * ε·|A|·|B| w.h.p. — the cardinality estimate a cost-based planner
    * wants BEFORE paying for the join.
    *
    * Scale: each side reduces to a d×w integer sketch (map-side
    * combinable counts — d·w cells regardless of rows); the estimate
    * touches sketches only. Exact integer arithmetic end to end, so the
    * oracle replays it bit-for-bit. The true join size rides along at
    * test scale (it is the thing the sketch replaces).
    * Output (one row): est (min-row inner product), exact, d, w. */
  def cmsJoinSize(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      d: Int = 4, w: Int = 128): DataFrame = {
    require(d >= 1 && w >= 1 && w <= 256 && 256 % w == 0,
      s"cmsJoinSize: w must divide 256 (got d=$d, w=$w)")
    val rows = explode(array((0 until d).map(lit): _*)).as("r")
    def cellOf(value: Column): Column = pmod(
      hexByte(md5(concat(lit("cms"), col("r").cast("string"), lit("|"), value)), 1),
      lit(w))
    def sketch(df: DataFrame, key: String, cntName: String): DataFrame =
      df.select(col(key).cast("string").as("value"), rows)
        .withColumn("cell", cellOf(col("value")))
        .groupBy("r", "cell").agg(count(lit(1)).as(cntName))
    // every hash row contributes to the min — a row whose populated
    // cells happen not to collide has TRUE inner product 0 and must
    // yield est = 0, not vanish from the reduction (review-found: the
    // plain inner-join min inflated the estimate and could return NULL)
    val rowIds = left.sparkSession.range(d)
      .select(col("id").cast("int").as("r"))
    val inner = rowIds
      .join(sketch(left, leftKey, "ca")
        .join(sketch(right, rightKey, "cb"), Seq("r", "cell"))
        .groupBy("r").agg(sum(col("ca") * col("cb")).as("ip")),
        Seq("r"), "left")
      .agg(min(coalesce(col("ip"), lit(0L))).as("est"))
    val exact = left.select(col(leftKey).cast("string").as("value"))
      .groupBy("value").agg(count(lit(1)).as("na"))
      .join(right.select(col(rightKey).cast("string").as("value"))
        .groupBy("value").agg(count(lit(1)).as("nb")), Seq("value"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact"))
    inner.crossJoin(exact)
      .select(col("est"), col("exact"), lit(d).as("d"), lit(w).as("w"))
  }

  /** Fixed-bin histogram quantiles per group: the bounded-memory scale
    * path next to the exact `percentile` tier (which holds per-group
    * value multisets in memory — see SCALING.md trade-offs).
    *
    * bin = floor(value / binWidth); per-(group, bin) counts pre-reduce
    * map-side, so task state is bounded by the bin count regardless of
    * rows. The q-quantile estimate is the upper edge of the first bin
    * whose cumulative count reaches ceil(q·n) — a conservative bound
    * within binWidth of the exact quantile, and exact-integer/IEEE
    * deterministic throughout (no interpolation in floats that could
    * diverge across engines).
    *
    * Output: groupCol, q, est, n — one row per group × quantile. */
  def binQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      binWidth: Double, qs: Seq[Double]): DataFrame = {
    require(binWidth > 0 && qs.nonEmpty, s"binQuantiles: w=$binWidth qs=$qs")
    val bin = floor(col(valueCol).cast("double") / lit(binWidth)).cast("long")
    val hist = df.select(col(groupCol), bin.as("bin"))
      .groupBy(groupCol, "bin").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy(groupCol).orderBy("bin")))
      .withColumn("n", sum("cnt").over(Window.partitionBy(groupCol)))
    cum
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col(groupCol), col("q"), col("n"))
      .agg(min("bin").as("bin"))
      .select(col(groupCol), col("q"),
        round((col("bin") + 1).cast("double") * lit(binWidth), 8).as("est"),
        col("n"))
  }

  /** Histogram-sketch MERGEABILITY, proven end-to-end (the quantile
    * counterpart of [[hllMergeAll]]): per-group (bin, cnt) histograms —
    * the stored sketch states — merge by plain SUM per bin, with no
    * rescan of the data; the quantile estimates read off the MERGED
    * histogram must equal the estimates from a DIRECT global histogram.
    * Exact integer counts make the merge lossless by construction, and
    * the oracle derives both paths so the hash compare pins
    * merged == direct in both engines.
    *
    * Scale: the merge input is sketch-size (groups × occupied bins), so
    * the single-partition cumulative window is over histogram cells,
    * never rows — the two-level rollup shape (per-partition sketches
    * rolled into a corpus summary without touching the corpus again).
    * Output: q, n, merged_est, direct_est. */
  def binQuantileMerge(df: DataFrame, groupCol: String, valueCol: String,
      binWidth: Double, qs: Seq[Double]): DataFrame = {
    require(binWidth > 0 && qs.nonEmpty, s"binQuantileMerge: w=$binWidth qs=$qs")
    val bin = floor(col(valueCol).cast("double") / lit(binWidth)).cast("long")
    def histQuantiles(hist: DataFrame, estName: String): DataFrame = {
      val total = hist.agg(sum(col("cnt")).as("n"))
      hist.crossJoin(broadcast(total))
        .withColumn("cum", sum("cnt").over(Window.orderBy("bin")))
        .withColumn("q", explode(array(qs.map(lit): _*)))
        .filter(col("cum") >= ceil(col("q") * col("n")))
        .groupBy(col("q"), col("n"))
        .agg(min("bin").as("bin"))
        .select(col("q"), col("n"),
          round((col("bin") + 1).cast("double") * lit(binWidth), 8).as(estName))
    }
    val perGroup = df.select(col(groupCol), bin.as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("cnt"))
    val merged = perGroup.groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
    val direct = df.select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    histQuantiles(merged, "merged_est")
      .join(histQuantiles(direct, "direct_est"), Seq("q", "n"))
      .select(col("q"), col("n"), col("merged_est"), col("direct_est"))
  }
}
