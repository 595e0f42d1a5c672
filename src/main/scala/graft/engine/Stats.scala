package graft.engine

import org.apache.commons.math3.distribution.{NormalDistribution, TDistribution}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group paired statistical tests (reference `transform.py:314-376`):
  * for each DPE-label group, a paired t-test and a Wilcoxon signed-rank test
  * between measured and estimated consumption, with `-99999` sentinels when
  * a group has ≤1 usable pair or the Wilcoxon is undefined (all-zero diffs).
  *
  * Spark-first design, not a port: the reference iterates pandas groups and
  * calls scipy per group. Here both tests are **closed-form aggregations**:
  *
  *   - moments (n, Σd, Σd²) are computed in DECIMAL — exact and associative,
  *     so the result is identical regardless of partitioning; the t statistic
  *     is then a scalar double formula over those exact sums;
  *   - Wilcoxon rank-sums use tie-averaged ranks built from
  *     `rank() + (count(tie group) - 1)/2` over a per-group window —
  *     one shuffle+sort per group column, no driver-side loop;
  *   - p-values (Student-t CDF / exact signed-rank DP / normal approx) run
  *     on the handful of aggregated group rows, via commons-math3 (already
  *     on Spark's classpath).
  *
  * At 100 TB the group count (DPE labels ≈ 7) is tiny relative to the data;
  * everything reduces map-side before the single narrow shuffle, except the
  * Wilcoxon rank window, which is the one inherently sort-bound step.
  */
object Stats {

  val Sentinel = -99999.0

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Paired difference d = x − y in exact decimals. */
  def pairedDiff(x: Column, y: Column): Column = dec(x) - dec(y)

  /** A5-A8: per-group n / t-statistic from exact decimal moments.
    * Output: label, sample_size, t_stat (sentinel when n ≤ 1). */
  def pairedTTestStat(df: DataFrame, label: String, x: String, y: String): DataFrame = {
    val d = pairedDiff(col(x), col(y))
    val g = df.na.drop(Seq(x, y)) // A6: drop pairs with a null side
      .groupBy(col(label))
      .agg(
        count(lit(1)).as("sample_size"),
        sum(d).as("sd"),
        sum(d * d).as("sdd"),
        min(d).as("min_d"),
        max(d).as("max_d"))
    val n = col("sample_size").cast("double")
    val sd = col("sd").cast("double")
    val sdd = col("sdd").cast("double")
    val mean = sd / n
    // zero variance (all differences identical) → null, matching scipy's
    // nan (pandas→SQL NULL) instead of an ANSI divide-by-zero crash.
    // Constancy is detected EXACTLY via decimal min = max — the double
    // formula can cancel to ~1e-16 instead of 0 for constant non-integer
    // diffs and would otherwise emit an astronomical t.
    val variance0 = (sdd - sd * sd / n) / (n - lit(1.0))
    val variance = when(col("min_d") =!= col("max_d"), variance0)
    g.select(col(label), col("sample_size"),
      when(col("sample_size") > 1, mean / sqrt(variance / n))
        .otherwise(lit(Sentinel)).as("t_stat"))
  }

  /** Student-t two-sided p-value of the driver-side `dpeStatistics`
    * path, over the collected group rows. */
  def tTestPValue(t: java.lang.Double, n: Long): Double =
    if (n <= 1 || t == null || t == Sentinel) Sentinel
    else 2.0 * (1.0 - new TDistribution(n - 1.0).cumulativeProbability(math.abs(t)))

  /** A9: Wilcoxon signed-rank W per group, scipy `wilcoxon` semantics
    * (zero_method='wilcox': zero differences dropped; ties mid-ranked;
    * statistic = min(W+, W−)). Output: label, sample_size (pre-drop pair
    * count), n_nonzero, w_stat (sentinel when the test is undefined), plus
    * tie_counts (the |d| multiplicity profile, feeding the p-value's tie
    * correction).
    *
    * Tie groups are pre-aggregated FIRST (groupBy label,|d| with map-side
    * combine), so the rank window sorts only the distinct |d| values per
    * group, not every row: mid-rank of a tie group = rows-before + (c+1)/2,
    * and W± = Σ countPos/Neg × mid-rank. Exact half-integer arithmetic —
    * identical to row-level ranking, at a fraction of the sort. */
  def wilcoxonStat(df: DataFrame, label: String, x: String, y: String): DataFrame = {
    val paired = df.na.drop(Seq(x, y))
      .select(col(label), pairedDiff(col(x), col(y)).as("d"))
    val sizes = paired.groupBy(col(label)).agg(count(lit(1)).as("sample_size"))

    val tieGroups = paired.filter(col("d") =!= 0)
      .groupBy(col(label), abs(col("d")).as("ad"))
      .agg(count(when(col("d") > 0, 1)).as("cp"),
        count(when(col("d") < 0, 1)).as("cm"),
        count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col(label)).orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = tieGroups.withColumn("midrank",
      coalesce(sum(col("c")).over(wCum), lit(0L)) + (col("c") + 1) / lit(2.0))
    val agg = ranked.groupBy(col(label)).agg(
      sum(col("cp") * col("midrank")).as("w_plus"),
      sum(col("cm") * col("midrank")).as("w_minus"),
      sum(col("c")).as("n_nonzero"),
      collect_list(col("c")).as("tie_counts"))

    sizes.join(agg, Seq(label), "left")
      .select(col(label), col("sample_size"),
        coalesce(col("n_nonzero"), lit(0L)).as("n_nonzero"),
        when(col("sample_size") > 1 && col("n_nonzero") > 0,
          least(col("w_plus"), col("w_minus"))).otherwise(lit(Sentinel)).as("w_stat"),
        coalesce(col("tie_counts"), typedLit(Seq.empty[Long])).as("tie_counts"))
  }

  /** Mann-Whitney U (unpaired two-sample rank-sum) per group — beyond the
    * reference's paired tests: compares `value` between the `a` and `b`
    * populations of `sample` within each `label` group.
    *
    * Same scale discipline as [[wilcoxonStat]]: tie groups pre-aggregate
    * FIRST (map-side combinable groupBy on (label, value)), the rank
    * window sorts only distinct values per group, and mid-ranks are exact
    * half-integers (dyadic — double sums stay exact and associative, so
    * results are partition-order-independent). U = min(U1, U2). */
  def mannWhitneyStat(df: DataFrame, label: String, value: String,
      sample: String, a: String, b: String): DataFrame = {
    val base = df.na.drop(Seq(value))
      .filter(col(sample).isin(a, b))
      .select(col(label), dec(col(value)).as("v"),
        (col(sample) === lit(a)).as("is_a"))
    val ties = base.groupBy(col(label), col("v"))
      .agg(count(when(col("is_a"), 1)).as("ca"),
        count(when(!col("is_a"), 1)).as("cb"),
        count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col(label)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = ties.withColumn("midrank",
      coalesce(sum(col("c")).over(wCum), lit(0L)) + (col("c") + 1) / lit(2.0))
    val agg = ranked.groupBy(col(label)).agg(
      sum(col("ca")).as("n1"), sum(col("cb")).as("n2"),
      sum(col("ca") * col("midrank")).as("r1"),
      collect_list(col("c")).as("tie_counts"))
    // double arithmetic BEFORE any product: n1*(n1+1) in LongType would
    // silently wrap past ~3e9 rows per sample
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val u1 = col("r1") - n1d * (n1d + 1) / lit(2.0)
    agg.select(col(label), col("n1"), col("n2"),
      when(col("n1") > 0 && col("n2") > 0,
        least(u1, n1d * n2d - u1)).otherwise(lit(Sentinel))
        .as("u_stat"),
      col("tie_counts"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic per group:
    * `D = max_x |F_a(x) − F_b(x)|` between the empirical CDFs of the `a`
    * and `b` populations of `sample` within each `label` group.
    *
    * Same scale discipline as [[mannWhitneyStat]]: ties pre-aggregate into
    * one row per DISTINCT (label, value) map-side, the ECDF window sorts
    * distinct values only, and the ECDF fractions are exact-int divisions
    * (identical IEEE doubles under any partitioning). Each |diff| rounds
    * to 8 dp BEFORE the max so a last-ulp wobble can't flip which point
    * attains it. Groups missing either sample get the −99999 sentinel
    * (reference convention, `transform.py:357-365`). */
  def ksStat(df: DataFrame, label: String, value: String,
      sample: String, a: String, b: String): DataFrame = {
    val base = df.na.drop(Seq(value))
      .filter(col(sample).isin(a, b))
      .select(col(label), dec(col(value)).as("v"),
        (col(sample) === lit(a)).as("is_a"))
    val ties = base.groupBy(col(label), col("v"))
      .agg(count(when(col("is_a"), 1)).as("ca"),
        count(when(!col("is_a"), 1)).as("cb"))
    val wCum = Window.partitionBy(col(label)).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col(label))
    ties
      .select(col(label),
        sum(col("ca")).over(wCum).as("__fa"),
        sum(col("cb")).over(wCum).as("__fb"),
        sum(col("ca")).over(wTot).as("__n1"),
        sum(col("cb")).over(wTot).as("__n2"))
      .groupBy(col(label))
      .agg(max(col("__n1")).as("n1"), max(col("__n2")).as("n2"),
        max(round(abs(
          when(col("__n1") > 0, col("__fa").cast("double") / col("__n1"))
            .otherwise(lit(0.0)) -
          when(col("__n2") > 0, col("__fb").cast("double") / col("__n2"))
            .otherwise(lit(0.0))), 8)).as("__d"))
      .select(col(label), col("n1"), col("n2"),
        when(col("n1") > 0 && col("n2") > 0, col("__d"))
          .otherwise(lit(Sentinel)).as("ks_stat"))
  }

  /** Chi-square test of independence, cell layer: observed vs expected
    * counts per (rowVal, colVal) with the per-cell χ² contribution.
    * Everything here is per-cell scalar arithmetic over exact integer
    * totals — no floating-point SUM appears in the distributed plan, so
    * the output is bit-deterministic (contributions round to 8 dp); the
    * statistic is the sum of the handful of cell contributions. Three
    * count aggregations + two broadcast-sized joins; nothing wider than
    * the contingency table ever shuffles.
    *
    * Null categories are dropped up front (pandas.crosstab / scipy
    * behavior): groupBy would keep a null key in the marginals, but the
    * equi-join from the full grid back to `obs` can't match null keys, so
    * null rows would report observed=0 while inflating expected counts. */
  def chiSquareCells(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val obs = df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol), col(colCol))
      .agg(count(lit(1)).as("observed"))
    val rowTot = obs.groupBy(col(rowCol)).agg(sum(col("observed")).as("row_total"))
    val colTot = obs.groupBy(col(colCol)).agg(sum(col("observed")).as("col_total"))
    val n = obs.agg(sum(col("observed")).as("n_total"))
    // the FULL row×col grid, not just observed combinations: a
    // structurally-empty cell still contributes (0−e)²/e = e to χ² —
    // dropping it understates the statistic and inflates p
    val grid = rowTot.crossJoin(colTot)
    // double BEFORE the product: row_total*col_total in LongType wraps
    // past ~3e9 marginals
    val eRaw = col("row_total").cast("double") * col("col_total").cast("double") /
      col("n_total").cast("double")
    val diff = coalesce(col("observed"), lit(0L)) - eRaw
    grid.join(obs, Seq(rowCol, colCol), "left").crossJoin(broadcast(n))
      .select(col(rowCol), col(colCol),
        coalesce(col("observed"), lit(0L)).as("observed"),
        round(eRaw, 8).as("expected"),
        round(diff * diff / eRaw, 8).as("contrib"))
  }

  /** Benford first-digit screen (Newcomb 1881 / Benford 1938): the
    * distribution of leading significant digits of a naturally-occurring
    * positive measure against the log law P(d) = log10(1 + 1/d) — the
    * classic fabricated/synthetic-data detector (audit tooling runs
    * exactly this over monetary columns).
    *
    * The leading digit is extracted from the DECIMAL's string form (first
    * [1-9] character) — NOT via floor(log10): a log10 at a power-of-10
    * boundary rounds differently per libm and flips the digit. Expected
    * proportions are 8dp literals inlined identically in both engines.
    * One map-side projection + one 9-group aggregation.
    *
    * CONTRACT: values must carry their first significant digit within
    * `scale` fractional digits — true for monetary/measure columns whose
    * granularity IS the scale (cents at scale 2). Magnitudes below that
    * lose first-digit semantics: at scale 2, positive values < 0.005
    * round to 0.00 and silently leave the screen, and 0.005..0.0099
    * round to 0.01 and report digit 1. Pass a larger `scale` for
    * finer-grained data. (The digit is NOT read from the raw double's
    * string on purpose: engines disagree on double formatting — Java
    * prints the shortest round-tripping form, DuckDB the exact binary
    * expansion — so 0.1-adjacent doubles would flip between '1' and '9'
    * across engines; the DECIMAL round is what makes the screen
    * deterministic.)
    * Output: digit (1-9, observed digits only), observed, n, expected_p,
    * observed_p (8dp), chi_contrib (8dp). */
  def benfordDigits(df: DataFrame, valueCol: String,
      scale: Int = 2): DataFrame = {
    // log10(1+1/d) rounded to 8dp — the same literals go into oracle SQL
    val expected = (1 to 9).map(d =>
      d -> BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    val digit = regexp_extract(
      col(valueCol).cast(s"decimal(18,$scale)").cast("string"), "[1-9]", 0)
    val expectedP = (1 to 9).foldLeft(lit(null).cast("double")) {
      case (acc, d) => when(col("digit") === d.toString, lit(expected(d)))
        .otherwise(acc)
    }
    val counts = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(digit.as("digit"))
      .filter(col("digit") =!= "")
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("observed"))
    val n = counts.agg(sum(col("observed")).as("n"))
    val obsP = col("observed").cast("double") / col("n").cast("double")
    val expN = col("expected_p") * col("n").cast("double")
    counts.crossJoin(broadcast(n))
      .withColumn("expected_p", expectedP)
      .select(col("digit").cast("int").as("digit"), col("observed"), col("n"),
        col("expected_p"),
        round(obsP, 8).as("observed_p"),
        round((col("observed") - expN) * (col("observed") - expN) / expN, 8)
          .as("chi_contrib"))
  }

  /** Pearson correlation matrix over `cols` from ONE aggregation pass:
    * all p first moments and p·(p+1)/2 cross moments accumulate in a
    * single job (exact DECIMAL sums — associative, partition-order-free),
    * and every pairwise correlation is then a scalar formula over that
    * one 1-row frame, exploded to (x_col, y_col, corr) pairs map-side.
    * The p-column generalization of the q_corr_ols two-column moments:
    * at 100 TB the corpus is scanned ONCE however many measures are
    * screened, where naive `df.stat.corr` per pair scans p·(p-1)/2 times.
    * Zero-variance columns yield null correlations (guarded division).
    * `scale` is the DECIMAL scale the measures are cast to (exactness
    * contract: inputs must carry ≤ `scale` fractional digits, as TPC-H
    * monetary/rate columns do at 2).
    *
    * NULL handling is LISTWISE DELETION (complete-case): rows where ANY
    * screened column is null are excluded before the moment pass, so n
    * and every sum come from the same row set. (The alternative —
    * pairwise deletion — lets each pair use its own n but can produce
    * correlations outside [-1, 1] and non-PSD matrices; with per-column
    * null patterns, sum() skipping nulls while count() doesn't would
    * silently mix row sets.)
    * Output: x_col, y_col (column-order pairs, x before y), corr (8dp). */
  def corrMatrix(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    require(cols.size >= 2, s"corrMatrix needs >= 2 columns, got $cols")
    val p = cols.size
    val complete = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    val xs = cols.map(c => col(c).cast(s"decimal(18,$scale)"))
    val firsts = (0 until p).map(i => sum(xs(i)).as(s"__s$i"))
    val crosses = for { i <- 0 until p; j <- i until p }
      yield sum(xs(i) * xs(j)).as(s"__s${i}_$j")
    val aggs = count(lit(1)).as("__n") +: (firsts ++ crosses)
    val row = complete.agg(aggs.head, aggs.tail: _*)
    def d(name: String) = col(name).cast("double")
    val pairs = for { i <- 0 until p; j <- (i + 1) until p } yield {
      val n = d("__n")
      val num = n * d(s"__s${i}_$j") - d(s"__s$i") * d(s"__s$j")
      val denx = n * d(s"__s${i}_$i") - d(s"__s$i") * d(s"__s$i")
      val deny = n * d(s"__s${j}_$j") - d(s"__s$j") * d(s"__s$j")
      struct(lit(cols(i)).as("x_col"), lit(cols(j)).as("y_col"),
        when(denx > 0 && deny > 0,
          round(num / sqrt(denx) / sqrt(deny), 8)).as("corr"))
    }
    row.select(explode(array(pairs: _*)).as("__p"))
      .select(col("__p.x_col").as("x_col"), col("__p.y_col").as("y_col"),
        col("__p.corr").as("corr"))
  }

  /** Mutual information between two categorical columns,
    * I(X;Y) = Σ_ij (n_ij/N)·ln(N·n_ij / (n_i·n_j)) — the
    * information-theoretic association measure over the SAME contingency
    * grid as [[chiSquareCells]] (feature/label dependence screening;
    * unlike χ², empty cells contribute exactly 0, so only observed
    * combinations are scanned). Null categories are dropped, matching the
    * χ² crosstab semantics.
    *
    * Determinism: marginal products go double BEFORE multiplying (long
    * wraps past ~3e9 marginals — the χ² lesson), each ln rounds to 8dp
    * (the libm-ulp pin), is weighted by the EXACT integer n_ij and summed
    * in DECIMAL(38,8) (the [[categoryEntropy]] grid), with one division
    * by N at the end. Output: one row — n (total), mi. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val obs = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("nij"))
    val xT = obs.groupBy(col(xCol)).agg(sum(col("nij")).as("ni"))
    val yT = obs.groupBy(col(yCol)).agg(sum(col("nij")).as("nj"))
    val n = obs.agg(sum(col("nij")).as("n"))
    val lnArg = (col("n").cast("double") * col("nij").cast("double")) /
      (col("ni").cast("double") * col("nj").cast("double"))
    val term = (round(log(lnArg), 8).cast("decimal(10,8)") *
      col("nij").cast("decimal(19,0)")).cast("decimal(38,8)")
    obs.join(xT, Seq(xCol)).join(yT, Seq(yCol)).crossJoin(broadcast(n))
      .select(term.as("term"), col("n"))
      .groupBy(col("n"))
      .agg(sum(col("term")).as("t"))
      .select(col("n"),
        (col("t").cast("double") / col("n").cast("double")).as("mi"))
  }

  /** Wilcoxon two-sided p-value, mirroring scipy's method='auto':
    * exact signed-rank distribution (DP over rank sums) when n ≤ 50 with
    * untied integer ranks, else normal approximation with tie correction
    * and no continuity correction. Needs the tie profile, so it takes the
    * per-group sorted |d| multiplicities.
    *
    * Convention cross-check (StatsSpec): the exact branch — cumulative
    * P(W ≤ w) over the rank-sum lattice, doubled for two sides — straddles
    * the published two-sided critical values w_crit(n, α) of the standard
    * signed-rank tables (p(w_crit) ≤ α < p(w_crit+1)) for every n in
    * 6..12 at α = .05 and 8..12 at α = .01; ANY tie (multiplicity > 1)
    * leaves the integer lattice and switches to the normal branch
    * regardless of n, exactly scipy's auto boundary. */
  def wilcoxonPValue(n: Long, wStat: Double, tieCounts: Seq[Long]): Double = {
    if (n < 1 || wStat == Sentinel) return Sentinel
    val hasTies = tieCounts.exists(_ > 1)
    if (n <= 50 && !hasTies) {
      // exact: #subsets of ranks {1..n} with sum ≤ W, doubled (two-sided)
      val maxSum = (n * (n + 1) / 2).toInt
      val counts = Array.ofDim[Double](maxSum + 1)
      counts(0) = 1.0
      var r = 1
      while (r <= n) {
        var s = maxSum
        while (s >= r) { counts(s) += counts(s - r); s -= 1 }
        r += 1
      }
      val w = math.floor(wStat).toInt min maxSum
      val cum = counts.take(w + 1).sum
      math.min(1.0, 2.0 * cum / math.pow(2.0, n.toDouble))
    } else {
      val mn = n * (n + 1) / 4.0
      val tieAdj = tieCounts.map(t => t.toDouble * t * t - t).sum / 48.0
      val se = math.sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - tieAdj)
      if (se == 0) return Sentinel
      val z = (wStat - mn) / se
      2.0 * new NormalDistribution().cumulativeProbability(-math.abs(z))
    }
  }

  /** Full reference output shape (`transform.py:344-365`): one row per
    * group with sample_size, t/p, W/p, batch_id — the
    * `tests_statistiques_dpe` gold entity. p-values are computed on the
    * collected group rows (bounded by label cardinality, ≤ dozens). */
  def dpeStatistics(df: DataFrame, label: String, x: String, y: String,
      batchId: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    val t = pairedTTestStat(df, label, x, y)
    val w = wilcoxonStat(df, label, x, y) // carries tie_counts for the p-value
    val joined = t.join(w.drop("sample_size"), Seq(label), "inner")

    val rows = joined.collect().map { r =>
      val lbl = r.getAs[String](label)
      val n = r.getAs[Long]("sample_size")
      val nNonzero = r.getAs[Long]("n_nonzero")
      val tStat = r.getAs[java.lang.Double]("t_stat")
      val wStat = r.getAs[Double]("w_stat")
      val tieCounts = Option(r.getAs[scala.collection.Seq[Long]]("tie_counts"))
        .map(_.toSeq).getOrElse(Seq.empty)
      val pT = tTestPValue(tStat, n)
      val pW =
        if (n <= 1 || wStat == Sentinel) Sentinel
        else wilcoxonPValue(nNonzero, wStat, tieCounts)
      (lbl, n, Option(tStat).map(_.toDouble), pT, wStat, pW, batchId)
    }
    rows.toSeq.toDF(label, "sample_size", "paired_t_test_t_statistic",
      "paired_t_test_p_value", "wilcoxon_statistic", "wilcoxon_p_value",
      "batch_id")
  }

  /** Per-group mode (most frequent value, ties to the smallest value):
    * one (group, value) count aggregation with map-side partials, then an
    * argmax folded into a single `max(struct(cnt, negOrd))`-style
    * aggregate — here `min(struct(-cnt, value))`, so no window sort and
    * the shuffle carries one row per distinct (group, value).
    * Output: groupCol, mode_value, mode_count. */
  def groupMode(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(groupCol))
      .agg(min(struct((-col("cnt")).as("nc"), col(valueCol).as("v"))).as("b"))
      .select(col(groupCol), col("b.v").as("mode_value"),
        (-col("b.nc")).as("mode_count"))

  /** Shannon entropy of a category distribution per group,
    * H = −Σ p·ln p. Each ln(c/n) rounds to 8 dp (the engine's libm-ulp
    * pin), is weighted by the EXACT integer count c, summed in exact
    * 1e-8-grid integers, and divided by n once at the end — deterministic
    * under any partitioning. Two count aggregations (category, then
    * group), both with map-side partials.
    * Output: groupCol, n, n_categories, entropy. */
  def categoryEntropy(df: DataFrame, groupCol: String,
      categoryCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol), col(categoryCol))
      .agg(count(lit(1)).as("c"))
    val n = counts.groupBy(col(groupCol))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_categories"))
    // term = −ln(p)·c on the exact 1e-8 grid, accumulated in DECIMAL(38,8):
    // a long grid-sum wraps near n ≈ 4·10⁹ rows in few categories
    // (|ln(1/n)|·1e8·c ≈ 2^63) — same overflow class [[hhi]] guards with
    // decimal Σc². DECIMAL(10,8) holds any |ln p| < ln(2^63) ≈ 43.7 and
    // keeps the product width ≤ 38 under BOTH engines' decimal-multiply
    // rules. Both engines sum the same exact decimals → bit-equal.
    val lnp = round(log(col("c").cast("double") / col("n").cast("double")), 8)
      .cast("decimal(10,8)")
    counts.join(n, Seq(groupCol))
      .select(col(groupCol), col("n"), col("n_categories"),
        (-lnp * col("c").cast("decimal(19,0)")).cast("decimal(38,8)")
          .as("term"))
      .groupBy(col(groupCol), col("n"), col("n_categories"))
      .agg(sum(col("term")).as("t"))
      .select(col(groupCol), col("n"), col("n_categories"),
        (col("t").cast("double") / col("n").cast("double")).as("entropy"))
  }

  /** Herfindahl–Hirschman concentration index per group over a key's
    * share of rows: HHI = Σ_k (c_k/n)² — computed as the EXACT integer
    * Σc² divided once by n² (a per-share float sum would be
    * partition-order-dependent). 1/HHI is the "effective number of
    * contributors" — the skew diagnostic for partitioning keys.
    * Output: groupCol, n, hhi. */
  def hhi(df: DataFrame, groupCol: String, keyCol: String): DataFrame =
    df.groupBy(col(groupCol), col(keyCol))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(groupCol))
      // Σc² in DECIMAL(38): c² as a long wraps past c ≈ 3·10⁹ rows per
      // key and the long SUM past extreme skew; n² likewise computes as
      // double·double (n itself fits a long, its square may not). Both
      // engines then round the same exact integers once → bit-equal.
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("c2"))
      .select(col(groupCol), col("n"),
        (col("c2").cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("hhi"))

  /** Per-group winsorization: clip `valueCol` to its group's exact
    * [lo, hi] percentiles — the outlier-TAMING twin of outlier flagging
    * (regression/feature pipelines keep the row, bounded). One exact
    * percentile aggregation (same `quantile_cont`-parity interpolation as
    * [[madOutlierStats]], same documented multiset trade-off), the tiny
    * per-group cut table broadcasts back, and the clip itself is map-only.
    * Output: df's columns + `<valueCol>_wins`. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, s"winsorize: lo=$lo hi=$hi")
    val base = df.withColumn("__x", col(valueCol).cast("double"))
    val cuts = base.groupBy(col(groupCol))
      .agg(percentile(col("__x"), lit(lo)).as("__lo"),
        percentile(col("__x"), lit(hi)).as("__hi"))
    base.join(broadcast(cuts), Seq(groupCol))
      .withColumn(s"${valueCol}_wins",
        least(greatest(col("__x"), col("__lo")), col("__hi")))
      .drop("__x", "__lo", "__hi")
  }

  /** Per-group weighted median (lower weighted median: the smallest
    * value whose cumulative weight reaches half the total — Edgeworth
    * 1888's weighted-median problem): "the price at which half the
    * VOLUME trades", which an unweighted median mis-states whenever
    * row count and weight diverge.
    *
    * One group-keyed sort (cumulative-weight window + a per-group total
    * window over the same partitioning — one shuffle), then a min over
    * the qualifying suffix: since cumweight is monotone in the sort
    * order, min(x) over rows with 2·cum ≥ total IS the crossing row.
    * Weights stay exact DECIMAL so the threshold compare has no float
    * ambiguity. Zero/negative total weight yields no row for the group
    * (weights are assumed non-negative; an all-zero group has no
    * median). Output: groupCol, total_weight, weighted_median. */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, tieCols: Seq[String]): DataFrame = {
    val ord = (col("__x").asc +: tieCols.map(col(_).asc))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col(groupCol))
    // null value or weight rows are excluded BEFORE the cumulative sort:
    // Spark would sort a null value FIRST (its weight entering the
    // cumulative sum before every real value) while SQL engines sort it
    // LAST — engine-divergent crossings (the gini/corrMatrix null rule)
    df.where(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(col(groupCol) +: col(valueCol).cast("double").as("__x") +:
        col(weightCol).cast("decimal(18,2)").as("__w") +: tieCols.map(col): _*)
      .withColumn("__cum", sum(col("__w")).over(wCum))
      .withColumn("__tot", sum(col("__w")).over(wTot))
      .where(col("__tot") > 0 && col("__cum") * 2 >= col("__tot"))
      .groupBy(col(groupCol))
      .agg(max(col("__tot")).cast("double").as("total_weight"),
        min(col("__x")).as("weighted_median"))
  }

  /** One-way ANOVA F statistic across groups (Fisher 1925): does the
    * group mean differ more between groups than within them — the k>2
    * generalization of the two-sample t-test this engine already runs
    * (`q_paired_ttest`/`q_mannwhitney` are its 2-group/rank-based kin).
    *
    *   SSB = Σ_g S_g²/n_g − S²/N,  SSW = Σ_g SS_g − Σ_g S_g²/n_g,
    *   F = (SSB/(k−1)) / (SSW/(N−k))
    *
    * One aggregation pass for the per-group DECIMAL moments (n, Σx,
    * Σx²), then a k-row reduction. The cross-group sum of S_g²/n_g is
    * an IEEE hazard (group order is engine-dependent), so each group's
    * term rounds to the 8dp grid and sums exactly in DECIMAL — same
    * contract as every multi-term float reduction here. Output (one
    * row): k, n, f_stat (NULL when SSW=0 or degenerate dfs). */
  def anovaOneWay(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("decimal(12,2)")
    // listwise null exclusion: counting a null row that the sums skip
    // would deflate S_g²/n_g and silently skew F (the corrMatrix rule)
    val g = df.where(col(valueCol).isNotNull).groupBy(col(groupCol)).agg(
      count(lit(1)).as("ng"), sum(x).as("sg"), sum(x * x).as("ssg"))
    val term = round(col("sg").cast("double") * col("sg").cast("double") /
      col("ng").cast("double"), 8).cast("decimal(28,8)")
    val m = g.agg(
      count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("sg")).as("s"), sum(col("ssg")).as("ss"),
      sum(term).as("t"))
    val (kd, nd, sd, ssd, td) = (col("k").cast("double"),
      col("n").cast("double"), col("s").cast("double"),
      col("ss").cast("double"), col("t").cast("double"))
    val ssb = td - sd * sd / nd
    val ssw = ssd - td
    m.select(col("k"), col("n"),
      when(col("k") > 1 && col("n") > col("k") && ssw > 0.0,
        round((ssb / (kd - 1.0)) / (ssw / (nd - kd)), 8)).as("f_stat"))
  }

  /** Kaplan–Meier survival estimator (Kaplan & Meier 1958) over
    * right-censored durations — the retention/churn curve done right:
    * users still active at the observation cutoff are CENSORED, not
    * counted as churned (the naive "mean lifetime" over-counts exactly
    * those).
    *
    * Input: one row per subject with `durCol` (integer duration) and
    * `eventCol` (true = the terminal event was observed, false =
    * censored). S(t) = Π_{d ≤ t, deaths_d > 0} (1 − deaths_d/at-risk_d).
    *
    * Shape: subjects aggregate to ONE row per distinct duration
    * (deaths, censored), so the survival recursion runs over a
    * duration-grid-sized table — the windows after that aggregation are
    * single-partition by design and bounded by the duration grid, never
    * by subjects (the q_ks_test convention). at-risk_d = n − (subjects
    * ended strictly before d) via a cumulative window. Determinism: all
    * counts exact; each factor's ln rounds to the 8dp grid, the product
    * is exp of the exact grid sum rounded again (the KS-test exp
    * contract); an all-die step forces S = 0 downstream via a windowed
    * zero flag instead of ln(0).
    * Output: duration, at_risk, deaths, censored, survival. */
  def kaplanMeier(spans: DataFrame, durCol: String,
      eventCol: String): DataFrame = {
    val wc = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = riskTable(spans, durCol, eventCol)
    // grid-ln of each step factor; all-die steps flag zero instead
    val lnf = when(col("deaths") === 0, lit(0.0))
      .otherwise(round(log(lit(1.0) -
        col("deaths").cast("double") / col("at_risk").cast("double")), 8))
    val z = when(col("deaths") === col("at_risk"), 1L).otherwise(0L)
    withRisk
      .withColumn("__lnf",
        when(col("deaths") === col("at_risk"), lit(0.0)).otherwise(lnf)
          .cast("decimal(20,8)"))
      .withColumn("__z", z)
      .withColumn("__lns", sum(col("__lnf")).over(wc))
      .withColumn("__zs", sum(col("__z")).over(wc))
      .select(col("duration"), col("at_risk"), col("deaths"), col("censored"),
        when(col("__zs") > 0, lit(0.0))
          .otherwise(round(exp(col("__lns").cast("double")), 8))
          .as("survival"))
  }

  /** Per-group Gini coefficient over a non-negative measure (Gini 1912,
    * via the rank formulation: G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx) with
    * x₍ᵢ₎ ascending) — the value-concentration screen beside the HHI's
    * share-concentration: "how unequal are order values inside this
    * segment". Ties in x are harmless: permuting equal values leaves
    * Σ i·x₍ᵢ₎ unchanged, so the window's tie order cannot leak in.
    *
    * One rank window per group (the sort-bound step, group-keyed) and
    * one aggregation; products stay on the exact DECIMAL grid (rank ×
    * cent-grid value), the single division is the last step, 8dp.
    * Degenerate groups (Σx = 0) yield NULL via the guard.
    * Output: groupCol, n, gini. */
  def gini(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__x").cast("double").asc)
    // NULL values are excluded BEFORE ranking (listwise, the corrMatrix
    // rule): ranked-but-unsummed nulls would shift every real rank and
    // inflate n — and Spark ranks nulls FIRST where SQL engines rank
    // them LAST, so the skew would also be engine-dependent
    val ranked = df
      .where(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("decimal(12,2)").as("__x"))
      .withColumn("__i", row_number().over(w).cast("long"))
    val m = ranked.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(col("__x")).as("__sx"),
      sum(col("__x") * col("__i").cast("decimal(19,0)")).as("__six"))
    m.select(col(groupCol), col("n"),
      when(col("__sx").cast("double") > 0.0,
        round((lit(2.0) * col("__six").cast("double") -
          (col("n") + 1).cast("double") * col("__sx").cast("double")) /
          (col("n").cast("double") * col("__sx").cast("double")), 8))
        .as("gini"))
  }

  /** Per-group trimmed mean (Tukey's robust location estimate): rows
    * outside the exact [lo, hi] percentile band are EXCLUDED (unlike
    * `winsorize`, which clamps them in) and the surviving values average
    * on the exact DECIMAL grid — the robust mean for monetary metrics
    * where a handful of fat-finger rows move a plain AVG.
    *
    * Two passes like the other exact-percentile operators (cuts, then
    * the filtered aggregate) with the per-group cut rows broadcast; the
    * approximate tier for wider pipelines is the histogram-sketch
    * quantile family. Output: groupCol, n_kept, n_trimmed, trimmed_mean. */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"lo=$lo hi=$hi")
    val base = df.select(col(groupCol),
      col(valueCol).cast("double").as("__x"),
      col(valueCol).cast("decimal(12,2)").as("__xd"))
    val cuts = base.groupBy(col(groupCol))
      .agg(percentile(col("__x"), lit(lo)).as("__lo"),
        percentile(col("__x"), lit(hi)).as("__hi"))
    base.join(broadcast(cuts), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        sum(when(col("__x") >= col("__lo") && col("__x") <= col("__hi"), 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("__x") < col("__lo") || col("__x") > col("__hi"), 1L)
          .otherwise(0L)).as("n_trimmed"),
        sum(when(col("__x") >= col("__lo") && col("__x") <= col("__hi"),
          col("__xd"))).as("__s"))
      .select(col(groupCol), col("n_kept"), col("n_trimmed"),
        when(col("n_kept") > 0,
          round(col("__s").cast("double") / col("n_kept").cast("double"), 8))
          .as("trimmed_mean"))
  }

  /** Per-group two-predictor OLS (y ~ 1 + x1 + x2) via the normal
    * equations solved in closed form (Cramer's rule on the 3×3 moment
    * matrix) — the multi-feature extension of the slope/intercept fit in
    * `corrOls`, still ONE aggregation pass: nine exact DECIMAL moments
    * (n, Σx1, Σx2, Σy, Σx1², Σx1x2, Σx2², Σx1y, Σx2y, Σy²) reduce
    * map-side, and the solve is a scalar double formula over the group
    * rows — no iterative optimizer, no per-group collect, the same
    * "moments in DECIMAL, algebra in double, round 8dp" contract every
    * stats query here pins (a gradient-descent fit could not be oracle-
    * checked; the closed form is bit-reproducible on any engine).
    * Singular design matrices (constant predictor, collinear x1/x2)
    * yield NULL coefficients via the det≠0 guard instead of an ANSI
    * divide-by-zero. Output: groupCol, n, b0, b1, b2, r2. */
  def olsMulti(df: DataFrame, groupCol: String, yCol: String,
      x1Col: String, x2Col: String): DataFrame = {
    val x1 = col(x1Col).cast("decimal(12,2)")
    val x2 = col(x2Col).cast("decimal(12,2)")
    val y = col(yCol).cast("decimal(12,2)")
    val m = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
      sum(x1 * x1).as("s11"), sum(x1 * x2).as("s12"),
      sum(x2 * x2).as("s22"),
      sum(x1 * y).as("s1y"), sum(x2 * y).as("s2y"), sum(y * y).as("syy"))
    val nd = col("n").cast("double")
    val Seq(s1, s2, sy, s11, s12, s22, s1y, s2y, syy) =
      Seq("s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy")
        .map(c => col(c).cast("double"))
    val det = nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val det0 = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = nd * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    val sse = syy - (det0 * sy + det1 * s1y + det2 * s2y) / det
    val sst = syy - sy * sy / nd
    m.select(col(groupCol), col("n"),
      when(det =!= 0.0, round(det0 / det, 8)).as("b0"),
      when(det =!= 0.0, round(det1 / det, 8)).as("b1"),
      when(det =!= 0.0, round(det2 / det, 8)).as("b2"),
      when(det =!= 0.0 && sst > 0.0, round(lit(1.0) - sse / sst, 8)).as("r2"))
  }

  /** One-sided CUSUM drift screen per group (Page 1954, "Continuous
    * inspection schemes"): the sequential changepoint statistic
    * C_i = max(0, C_{i-1} + (x_i − μ)), reported as its in-sequence peak
    * and peak location — the standard "did this metric's level shift,
    * and when" monitor over an ordered measurement stream.
    *
    * The recursive max-fold is NOT a window function, but its closed
    * form is: C_i = cumsum_i − min_{j≤i}(cumsum_j) of the centered
    * series — two window passes over ONE (group)-partitioned sort.
    *
    * Exactness: centering by μ = S/n would be a per-row IEEE division,
    * so the whole series is scaled by n instead — y_i = n·x_i − S in
    * DECIMAL (exact integers on the cent grid), CUSUM runs on y, and
    * the single division by n happens once at the END on the peak
    * (8dp-rounded): bit-identical on any engine, any partitioning.
    *
    * Scale shape: one aggregation for (n, S) joined back (broadcast-
    * sized: one row per group), then two same-partition windows — the
    * one sort-bound step, keyed by the group column (high-cardinality
    * in production; a single global series would need range-repartition
    * + boundary carry like sessionization).
    * Output: groupCol, n, peak_ts-at-orderCol, max_drift (mean units). */
  def cusumDrift(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    val base = df.select(col(groupCol), col(orderCol), col(tieCol),
      col(valueCol).cast("decimal(18,2)").as("__v"))
    val tot = base.groupBy(col(groupCol))
      .agg(sum(col("__v")).as("__s"), count(lit(1)).as("n"))
    val wRun = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPick = Window.partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col(orderCol), col(tieCol))
    base.join(broadcast(tot), Seq(groupCol))
      .withColumn("__y", col("__v") * col("n").cast("decimal(19,0)") - col("__s"))
      .withColumn("__cum", sum(col("__y")).over(wRun))
      // the running min must include the IMPLICIT empty-prefix baseline
      // cum_0 = 0 — without it a series that drifts upward from its very
      // first row reports zero drift (the recursion starts at C_0 = 0)
      .withColumn("__c",
        col("__cum") - least(lit(0).cast("decimal(18,2)"),
          min(col("__cum")).over(wRun)))
      .withColumn("__rn", row_number().over(wPick))
      .where(col("__rn") === 1)
      .select(col(groupCol), col("n"), col(orderCol).as("peak_at"),
        round(col("__c").cast("double") / col("n").cast("double"), 8)
          .as("max_drift"))
  }

  /** Robust per-group outlier statistics via median/MAD (the
    * outlier-resistant twin of z-score flagging — one extreme value
    * cannot move the threshold the way it moves a mean/stddev):
    * med = median(x), mad = median(|x − med|), outlier ⇔ |x − med| > k·mad.
    *
    * Two passes by construction (deviations need the median first); each
    * is one exact-percentile aggregation, and the tiny per-group (med,
    * mad) table broadcasts back for the flag count. Inherits the exact
    * `percentile` memory trade-off documented in SCALING.md.
    * Output: groupCol, n, med, mad (8dp), n_outliers. */
  def madOutlierStats(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 3.0): DataFrame = {
    val base = df.select(col(groupCol), col(valueCol).cast("double").as("x"))
    val med = base.groupBy(col(groupCol))
      .agg(percentile(col("x"), lit(0.5)).as("med"))
    // dev feeds the MAD aggregation AND the flag count — materialize once
    // so the operator stays at the documented two input passes
    val dev = base.join(broadcast(med), Seq(groupCol))
      .withColumn("adev", abs(col("x") - col("med")))
      .localCheckpoint()
    val stats = dev.groupBy(col(groupCol))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"),
        max(col("med")).as("med"), count(lit(1)).as("n"))
    dev.drop("med")
      .join(broadcast(stats), Seq(groupCol))
      .groupBy(col(groupCol), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("adev") > lit(k) * col("mad"), 1L).otherwise(0L))
        .as("n_outliers"))
      .select(col(groupCol), col("n"), round(col("med"), 8).as("med"),
        round(col("mad"), 8).as("mad"), col("n_outliers"))
  }

  /** Paired-sample sign-flip permutation test (Fisher randomization):
    * under H₀ the sign of each paired difference is exchangeable, so
    * the null distribution of T = Σd is sampled by md5-derived ±1
    * flips — the engine's portable-randomness convention (the Poisson-
    * bootstrap draw discipline): replicate b flips d_k iff the first
    * hex digit of md5(seed|b|key) is odd. p̂ = (1 + #{|T_b| ≥ |T|}) /
    * (B+1), the add-one estimate that can never report 0. The
    * assumption-free member of the paired-inference family (A8
    * parametric t, A9 rank Wilcoxon).
    *
    * Exactness: diffs live on the DECIMAL cent grid, every replicate
    * sum is an exact decimal (order-free), and the |T_b| ≥ |T| compares
    * are decimal-exact — no float anywhere until the final ratios.
    * Scale: the explode is a B× row amplification with one md5 per
    * cell, the documented bootstrap-explode tier (B ≤ a few hundred;
    * the one-pass native-aggregate upgrade mirrors PoissonBootSums if a
    * profile demands it). Output one row: n, t_obs (8dp), n_extreme,
    * p_value. */
  def signFlipTest(diffs: DataFrame, keyCol: String, dCol: String,
      b: Int, seed: String = "perm"): DataFrame = {
    require(b >= 1 && b <= 10000, s"signFlipTest: b=$b")
    val base = diffs.where(col(dCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        col(dCol).cast("decimal(18,2)").as("__d"))
    val obs = base.agg(sum(col("__d")).as("__tobs"),
      count(lit(1)).as("n"))
    val hx = substring(md5(concat(lit(s"$seed|"),
      col("__b").cast("string"), lit("|"), col("__k"))), 1, 1)
    val flip = pmod(conv(hx, 16, 10).cast("long"), lit(2)) === 1
    val reps = base
      .select(col("__k"), col("__d"),
        explode(sequence(lit(0), lit(b - 1))).as("__b"))
      .groupBy(col("__b"))
      .agg(sum(when(flip, -col("__d")).otherwise(col("__d"))).as("__tb"))
    // GLOBAL aggregates on both sides so an all-null/empty sample still
    // returns the documented ONE row (n = 0, NULL statistic/p) — a
    // groupBy over the empty replicate frame would return zero rows
    val ext = reps.crossJoin(broadcast(obs))
      .agg(sum(when(abs(col("__tb")) >= abs(col("__tobs")), 1L)
        .otherwise(0L)).as("__ne"))
    obs.crossJoin(broadcast(ext))
      .select(col("n"),
        round(col("__tobs").cast("double"), 8).as("t_obs"),
        coalesce(col("__ne"), lit(0L)).as("n_extreme"),
        when(col("n") > 0,
          round((lit(1.0) + coalesce(col("__ne"), lit(0L))
            .cast("double")) / lit((b + 1).toDouble), 8)).as("p_value"))
  }

  /** Two-group log-rank test (Mantel–Cox; Mantel 1966) — "do the two
    * arms share a survival curve?", the hypothesis-test companion of
    * [[kaplanMeier]]. At each duration with ≥1 death: observed deaths
    * in arm A vs the hypergeometric expectation d·n_A/n and variance
    * d·n_A·n_B·(n−d)/(n²(n−1)); χ² = (ΣO−ΣE)²/ΣV with 1 df.
    *
    * Determinism: at-risk counts are reverse-cumulative INTEGER sums
    * over the bounded duration grid (the kaplanMeier single-partition
    * convention — the grid is durations, never subjects); each per-time
    * E and V term is rounded to the 8dp grid and summed in DECIMAL
    * (order-free), the division happens once at the end (the q_anova
    * grid-sum rule — an IEEE sum over engine-ordered times would not be
    * portable). Times with a single subject at risk contribute no
    * variance and are excluded (n ≤ 1 — the standard convention).
    * Exactly two non-null groups are required (checked via a 2-row
    * bounded collect, the ≤-groups stats convention). Output one row:
    * group_a, group_b, n_times, o_a, e_a, variance, chi2. */
  def logRank(df: DataFrame, durCol: String, eventCol: String,
      groupCol: String): DataFrame = {
    val base = df
      .where(col(durCol).isNotNull && col(eventCol).isNotNull &&
        col(groupCol).isNotNull)
      .select(col(durCol).cast("long").as("dur"),
        col(eventCol).cast("boolean").as("ev"),
        col(groupCol).cast("string").as("g"))
    val gs = base.select(col("g")).distinct().orderBy(col("g"))
      .limit(3).collect().map(_.getString(0))
    require(gs.length == 2,
      s"logRank needs exactly 2 groups, found ${gs.length}")
    val (ga, gb) = (gs(0), gs(1))
    val byDur = base.groupBy(col("dur")).agg(
      sum(when(col("g") === ga && col("ev"), 1L).otherwise(0L)).as("d_a"),
      sum(when(col("g") === gb && col("ev"), 1L).otherwise(0L)).as("d_b"),
      sum(when(col("g") === ga, 1L).otherwise(0L)).as("c_a"),
      sum(when(col("g") === gb, 1L).otherwise(0L)).as("c_b"))
    val wRisk = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val risk = byDur
      .withColumn("n_a", sum(col("c_a")).over(wRisk))
      .withColumn("n_b", sum(col("c_b")).over(wRisk))
    val d = (c: Column) => c.cast("double")
    val n = col("n_a") + col("n_b")
    val dd = col("d_a") + col("d_b")
    val terms = risk
      .where(dd > 0 && n > 1)
      .select(col("d_a"),
        round(d(dd) * d(col("n_a")) / d(n), 8).as("e_t"),
        round(d(dd) * d(col("n_a")) * d(col("n_b")) * d(n - dd) /
          (d(n) * d(n) * d(n - 1)), 8).as("v_t"))
    val agg = terms.agg(
      count(lit(1)).as("n_times"),
      sum(col("d_a")).as("o_a"),
      sum(col("e_t").cast("decimal(38,8)")).as("__e"),
      sum(col("v_t").cast("decimal(38,8)")).as("__v"))
    val oe = col("o_a").cast("double") - col("__e").cast("double")
    agg.select(lit(ga).as("group_a"), lit(gb).as("group_b"),
      col("n_times"), col("o_a"),
      col("__e").cast("double").as("e_a"),
      col("__v").cast("double").as("variance"),
      when(col("__v").cast("double") > 0.0,
        round(oe * oe / col("__v").cast("double"), 8)).as("chi2"))
  }

  /** Log-gamma as a SQL expression string (Lanczos 1964, g = 7, the
    * classic 9-term coefficient set; ~1e-13 relative error for real
    * x ≥ 1). Rendered as TEXT so the engine (via `expr`) and the DuckDB
    * oracle share literally ONE formula: identical expression tree →
    * identical IEEE arithmetic, with LN the only libm call (its ≤1-ulp
    * spread is absorbed by the caller's 8dp term grid, the q_logrank
    * convention). Every literal carries `e0` so BOTH parsers type it
    * DOUBLE (a bare `676.52…` is DECIMAL in Spark and DuckDB, and
    * decimal-vs-double promotion would diverge). `x` must be a
    * DOUBLE-typed expression ≥ 1. */
  def lgammaSql(x: String): String = {
    val coef = Seq(
      "676.5203681218851e0", "-1259.1392167224028e0",
      "771.32342877765313e0", "-176.61502916214059e0",
      "12.507343278686905e0", "-0.13857109526572012e0",
      "9.9843695780195716e-6", "1.5056327351493116e-7")
    val series = coef.zipWithIndex
      .map { case (c, i) => s"(($c) / (($x) - 1.0e0 + ${i + 1}.0e0))" }
      .foldLeft("0.99999999999980993e0")((a, t) => s"($a + $t)")
    // 0.9189385332046727e0 = ln(2*pi)/2
    s"(0.9189385332046727e0 + ((($x) - 0.5e0) * LN(($x) + 6.5e0))" +
      s" - (($x) + 6.5e0) + LN($series))"
  }

  /** ln C(m, j) from three [[lgammaSql]] calls; `m`, `j` are DOUBLE
    * expressions with 0 ≤ j ≤ m. */
  def lnChooseSql(m: String, j: String): String =
    s"(${lgammaSql(s"($m) + 1.0e0")} - ${lgammaSql(s"($j) + 1.0e0")}" +
      s" - ${lgammaSql(s"($m) - ($j) + 1.0e0")})"

  /** ln of the hypergeometric pmf P(K = k) for a 2×2 table with row-1
    * margin `r1`, column-1 margin `c1`, total `n` — all DOUBLE
    * expressions. Shared by [[fisherExact]] and its oracle. */
  def hyperLnpSql(r1: String, c1: String, n: String, k: String): String =
    s"(${lnChooseSql(r1, k)} + " +
      s"${lnChooseSql(s"($n) - ($r1)", s"($c1) - ($k)")} - " +
      s"${lnChooseSql(n, c1)})"

  /** Fisher's exact test (Fisher 1935) on the 2×2 table of two boolean
    * predicates — the small-count independence test the χ² cell screen
    * (q_chisq_cells) cannot answer when expected counts are low.
    * Two-sided p: the sum of all hypergeometric pmf terms ≤ the observed
    * term, each term on the 8dp DECIMAL grid (include/exclude decided by
    * DECIMAL compare of ROUNDED terms, so the only libm calls — LN/EXP
    * inside the shared Lanczos rendering — cannot flip membership except
    * at the grid boundary, the house convention).
    *
    * Scale: the data pass is ONE map-side-combinable count aggregation;
    * the k-grid explode is sized by the smaller 2×2 margin (row count in
    * the worst case, but each term is O(1) map work over a distributed
    * `sequence` explode — no window, no sort, no driver loop). Output
    * one row: a, b, c, d, n_terms, p_two. */
  def fisherExact(df: DataFrame, treatCol: Column, outCol: Column)
      : DataFrame = {
    val cells = df.agg(
      sum(when(treatCol && outCol, 1L).otherwise(0L)).as("a"),
      sum(when(treatCol && !outCol, 1L).otherwise(0L)).as("b"),
      sum(when(!treatCol && outCol, 1L).otherwise(0L)).as("c"),
      sum(when(!treatCol && !outCol, 1L).otherwise(0L)).as("d"))
    val margins = cells.select(col("a"), col("b"), col("c"), col("d"),
      (col("a") + col("b")).as("r1"),
      (col("a") + col("c")).as("c1"),
      (col("a") + col("b") + col("c") + col("d")).as("n"))
    val ks = margins.select(col("a"), col("b"), col("c"), col("d"),
      col("r1"), col("c1"), col("n"),
      explode(sequence(
        greatest(lit(0L), col("r1") + col("c1") - col("n")),
        least(col("r1"), col("c1")))).as("k"))
    val lnp = hyperLnpSql("CAST(r1 AS DOUBLE)", "CAST(c1 AS DOUBLE)",
      "CAST(n AS DOUBLE)", "CAST(k AS DOUBLE)")
    val terms = ks.withColumn("__t",
      round(exp(expr(lnp)), 8).cast("decimal(20,8)"))
    // GLOBAL aggregates on both sides so an empty input still returns
    // the documented ONE row (NULL cells/statistic) — a groupBy over
    // the empty k-grid would return zero rows (the signFlipTest shape)
    val obs = terms.where(col("k") === col("a"))
      .agg(max(col("__t")).as("__tobs"))
    val ext = terms.crossJoin(broadcast(obs))
      .agg(
        sum(when(col("__t") <= col("__tobs"), 1L).otherwise(0L))
          .as("n_terms"),
        round(sum(when(col("__t") <= col("__tobs"), col("__t")))
          .cast("double"), 8).as("__p"))
    cells.crossJoin(broadcast(ext))
      .select(col("a"), col("b"), col("c"), col("d"),
        col("n_terms"),
        // the 8dp-rounded term sum can exceed 1 by accumulated rounding
        // over thousands of k-grid terms — cap at 1.0 with the
        // binomSignTest convention: least() SKIPS nulls (would turn an
        // undefined p on empty input into 1.0), so gate on a defined sum
        when(col("__p").isNotNull, least(lit(1.0), col("__p")))
          .as("p_two"))
  }

  /** McNemar's test (McNemar 1947, the continuity-corrected χ² form) on
    * two paired binary classifiers: given per-row booleans "rule A was
    * right" / "rule B was right", the statistic uses only the discordant
    * cells b (A right, B wrong) and c (A wrong, B right):
    * χ² = (|b−c|−1)²/(b+c), NULL when b+c = 0. Exact integer arithmetic
    * until the single final division; one map-side-combinable
    * aggregation. Output one row: n, b_discordant, c_discordant, chi2. */
  def mcnemar(df: DataFrame, aOk: Column, bOk: Column): DataFrame = {
    val agg = df.agg(count(lit(1)).as("n"),
      sum(when(aOk && !bOk, 1L).otherwise(0L)).as("b_discordant"),
      sum(when(!aOk && bOk, 1L).otherwise(0L)).as("c_discordant"))
    val bd = col("b_discordant")
    val cd = col("c_discordant")
    val num = abs(bd - cd).cast("double") - lit(1.0)
    agg.select(col("n"), bd, cd,
      when(bd + cd > 0,
        round(num * num / (bd + cd).cast("double"), 8)).as("chi2"))
  }

  /** Nelson–Aalen cumulative-hazard estimator (Nelson 1972, Aalen 1978)
    * — the hazard-scale companion of [[kaplanMeier]] over the same
    * (duration, event) spans: H(t) = Σ_{s ≤ t} d_s / n_s. Per-time
    * hazard increments are rounded to the 8dp grid and cumulated in
    * DECIMAL over the bounded duration grid (the kaplanMeier
    * single-partition window convention — the grid is durations, never
    * subjects). Output per duration: duration, at_risk, deaths,
    * censored, cum_hazard. */
  /** One-row exact-moment pass over an 8dp-grid double column — the
    * shared method-of-moments idiom behind [[Eval.ebSmooth]]'s beta
    * prior and [[TimeSeries.saxSymbols]]' z-normalization (single-
    * sourced after the eb_smooth double-rounding fix showed how easily
    * hand-rolled copies of the grid drift): DECIMAL sums of the rounded
    * values and their 16dp-rounded squares (order-free), then the mean
    * and SAMPLE variance as one double formula. Output one row:
    * __m (count), __mu, __vr (NULL when m ≤ 1). */
  private[graft] def gridMoments(df: DataFrame, valCol: String)
      : DataFrame = {
    val mom = df.agg(count(lit(1)).as("__m"),
      sum(col(valCol).cast("decimal(38,8)")).as("__s"),
      sum(round(col(valCol) * col(valCol), 16).cast("decimal(38,16)"))
        .as("__ss"))
    val md = col("__m").cast("double")
    val mu = col("__s").cast("double") / md
    val vr = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / md) /
      (md - lit(1.0))
    mom.select(col("__m"), mu.as("__mu"),
      when(col("__m") > 1, vr).as("__vr"))
  }

  /** Shared survival scaffolding: subjects → one row per distinct
    * duration with exact (deaths, censored) counts and the cumulative
    * at-risk column — the risk table both [[kaplanMeier]] and
    * [[nelsonAalen]] estimate from (single-sourced so a tie/NULL
    * convention change cannot silently diverge the two estimators).
    * Output: duration, deaths, censored, at_risk (+ internal sums). */
  private def riskTable(spans: DataFrame, durCol: String,
      eventCol: String): DataFrame = {
    val perDur = spans.groupBy(col(durCol).cast("long").as("duration"))
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("deaths"),
        sum(when(col(eventCol), 0L).otherwise(1L)).as("censored"))
    val wc = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDur
      .withColumn("__ended", sum(col("deaths") + col("censored")).over(wc))
      .withColumn("__tot", sum(col("deaths") + col("censored"))
        .over(Window.partitionBy()))
      .withColumn("at_risk",
        col("__tot") - col("__ended") + col("deaths") + col("censored"))
  }

  def nelsonAalen(spans: DataFrame, durCol: String,
      eventCol: String): DataFrame = {
    val wc = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = when(col("deaths") === 0, lit(0.0))
      .otherwise(round(
        col("deaths").cast("double") / col("at_risk").cast("double"), 8))
    riskTable(spans, durCol, eventCol)
      .withColumn("__h", h.cast("decimal(20,8)"))
      .withColumn("__hs", sum(col("__h")).over(wc))
      .select(col("duration"), col("at_risk"), col("deaths"),
        col("censored"), col("__hs").cast("double").as("cum_hazard"))
  }

  /** Kendall's τ-b (Kendall 1938; tie correction per Kendall 1945) per
    * group over an ordered series (idx strictly unique within group, so
    * only y-ties correct the denominator): the rank-based trend measure
    * beside Spearman's ρ (q_spearman) and the Mann–Kendall screen —
    * τ-b = (C − D) / sqrt(n0 (n0 − t_y)) with n0 = n(n−1)/2.
    *
    * Pairs are generated by a group-keyed self-join over the BOUNDED
    * series grid (callers aggregate to a calendar spine first — the
    * TimeSeries contract), so cost is Σ_g m_g², never data-scale.
    * Counts are exact integers; the single sqrt/divide runs once at the
    * end (IEEE sqrt is correctly rounded → bit-identical across
    * engines). Output per group: group, n_pairs, concordant, discordant,
    * tau_b — NULL τ when the denominator is 0. */
  def kendallTauB(series: DataFrame, groupCol: String, idxCol: String,
      valCol: String): DataFrame = {
    val base = series.select(col(groupCol).cast("string").as("__g"),
      col(idxCol).cast("long").as("__i"),
      col(valCol).cast("decimal(38,8)").as("__v"))
    val l = base.as("l")
    val r = base.as("r")
    val pairs = l.join(r,
      col("l.__g") === col("r.__g") && col("l.__i") < col("r.__i"))
    val agg = pairs.groupBy(col("l.__g").as(groupCol)).agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("l.__v") < col("r.__v"), 1L).otherwise(0L))
        .as("concordant"),
      sum(when(col("l.__v") > col("r.__v"), 1L).otherwise(0L))
        .as("discordant"),
      sum(when(col("l.__v") === col("r.__v"), 1L).otherwise(0L))
        .as("__ty"))
    val n0 = col("n_pairs").cast("double")
    val den = sqrt(n0 * (n0 - col("__ty").cast("double")))
    agg.select(col(groupCol), col("n_pairs"), col("concordant"),
      col("discordant"),
      when(den > 0.0,
        round((col("concordant") - col("discordant")).cast("double") / den,
          8)).as("tau_b"))
  }

  /** Benjamini–Hochberg step-up FDR correction (Benjamini & Hochberg
    * 1995) over a family of m hypotheses: rank p ascending (key as the
    * deterministic tie-break), raw_i = p_i · m / i, adjusted
    * p_i = min(1, min_{j ≥ i} raw_j), reject at `alpha`. One window over
    * the BOUNDED hypothesis grid (m = number of tests, never rows); the
    * raw values are the same double expression tree on both engines and
    * the suffix-min is order-fixed by the (p, key) total order. NULL
    * p-values are listwise-dropped (they are untestable hypotheses, and
    * Spark/DuckDB NULL sort orders differ). Output per hypothesis:
    * key, rank, p_value, p_adj, reject — ordered by rank. */
  def fdrBh(pvals: DataFrame, keyCol: String, pCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"fdrBh: alpha=$alpha")
    val base = pvals
      .select(col(keyCol).cast("string").as(keyCol),
        col(pCol).cast("double").as("p_value"))
      .where(col("p_value").isNotNull)
    val wOrd = Window.orderBy(col("p_value").asc, col(keyCol).asc)
    val wTail = wOrd.rowsBetween(Window.currentRow,
      Window.unboundedFollowing)
    base
      .withColumn("__m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rank", row_number().over(wOrd).cast("long"))
      .withColumn("__raw",
        col("p_value") * col("__m").cast("double") /
          col("rank").cast("double"))
      .withColumn("p_adj",
        round(least(lit(1.0), min(col("__raw")).over(wTail)), 8))
      .select(col(keyCol), col("rank"), round(col("p_value"), 8)
        .as("p_value"), col("p_adj"),
        (col("p_adj") <= lit(alpha)).as("reject"))
  }

  /** Cochran–Mantel–Haenszel test (Mantel & Haenszel 1959; Cochran
    * 1954) over stratified 2×2 tables, plus the MH pooled odds ratio —
    * "is treatment associated with outcome after controlling for the
    * stratum?", the stratified-association member of the causal tier
    * beside [[Eval.ipwAte]] (weighting) and [[Eval.didEstimate]]
    * (trends). Per stratum: observed a, hypergeometric E = r1·c1/n and
    * V = r1·r2·c1·c2/(n²(n−1)); χ² = (Σa − ΣE)²/ΣV (no continuity
    * correction — the scipy `correction=False` convention);
    * OR_MH = Σ(a·d/n)/Σ(b·c/n).
    *
    * One stratum-keyed aggregation; per-stratum terms are computed in
    * double (products cast BEFORE multiplying — stratum counts at web
    * scale overflow long products, the WoE lesson), rounded to the 8dp
    * grid and summed in DECIMAL over the bounded stratum domain.
    * Single-subject strata (n ≤ 1) contribute nothing (V undefined).
    * Output one row: n_strata, o_a, e_a, variance, chi2, or_mh. */
  def cmh(df: DataFrame, stratumCol: String, treat: Column,
      out: Column): DataFrame = {
    val byS = df.groupBy(col(stratumCol).as("__s")).agg(
      sum(when(treat && out, 1L).otherwise(0L)).as("a"),
      sum(when(treat && !out, 1L).otherwise(0L)).as("b"),
      sum(when(!treat && out, 1L).otherwise(0L)).as("c"),
      sum(when(!treat && !out, 1L).otherwise(0L)).as("d"))
    val dd = (c: Column) => c.cast("double")
    val n = col("a") + col("b") + col("c") + col("d")
    val terms = byS.where(n > 1).select(col("a"),
      round(dd(col("a") + col("b")) * dd(col("a") + col("c")) / dd(n), 8)
        .as("e_t"),
      round(dd(col("a") + col("b")) * dd(col("c") + col("d")) *
        dd(col("a") + col("c")) * dd(col("b") + col("d")) /
        (dd(n) * dd(n) * dd(n - 1)), 8).as("v_t"),
      round(dd(col("a")) * dd(col("d")) / dd(n), 8).as("or_n"),
      round(dd(col("b")) * dd(col("c")) / dd(n), 8).as("or_d"))
    val agg = terms.agg(count(lit(1)).as("n_strata"),
      sum(col("a")).as("o_a"),
      sum(col("e_t").cast("decimal(38,8)")).as("__e"),
      sum(col("v_t").cast("decimal(38,8)")).as("__v"),
      sum(col("or_n").cast("decimal(38,8)")).as("__on"),
      sum(col("or_d").cast("decimal(38,8)")).as("__od"))
    val oe = col("o_a").cast("double") - col("__e").cast("double")
    agg.select(col("n_strata"), col("o_a"),
      col("__e").cast("double").as("e_a"),
      col("__v").cast("double").as("variance"),
      when(col("__v").cast("double") > 0.0,
        round(oe * oe / col("__v").cast("double"), 8)).as("chi2"),
      when(col("__od").cast("double") > 0.0,
        round(col("__on").cast("double") / col("__od").cast("double"), 8))
        .as("or_mh"))
  }

  /** Exact two-sided binomial sign test (Arbuthnott 1710 lineage;
    * the scipy `binomtest(k, n, 0.5)` shape) on paired diffs: zeros
    * dropped, k = #positive among n non-zero, p = Σ of all Binomial(n,
    * ½) pmf terms ≤ the observed term — the assumption-free sibling of
    * the signed-rank test (A9) that uses only signs, never magnitudes.
    *
    * Same machinery as [[fisherExact]]: the j-grid is a distributed
    * `sequence` explode (n+1 terms, map-only — the documented
    * margin-grid tier; a normal-approx twin is the stated upgrade path
    * past ~1e7 pairs), each ln pmf = lnChoose(n,j) + n·ln½ from the
    * shared Lanczos render, terms on the 8dp DECIMAL grid, membership
    * by DECIMAL compare. Output one row: n_nonzero, k_pos, p_two. */
  def binomSignTest(diffs: DataFrame, dCol: String): DataFrame = {
    val base = diffs.where(col(dCol).isNotNull && col(dCol) =!= 0)
    val cells = base.agg(count(lit(1)).as("n"),
      sum(when(col(dCol) > 0, 1L).otherwise(0L)).as("k"))
    val js = cells.select(col("n"), col("k"),
      explode(sequence(lit(0L), col("n"))).as("j"))
    val lnp = Stats.lnChooseSql("CAST(n AS DOUBLE)", "CAST(j AS DOUBLE)") +
      " + CAST(n AS DOUBLE) * (-0.6931471805599453e0)"
    val terms = js.withColumn("__t",
      round(exp(expr(lnp)), 8).cast("decimal(20,8)"))
    // global aggregates preserve the one-row contract on empty/all-zero
    // input (n = 0, NULL k/p) — the signFlipTest/fisherExact shape
    val obs = terms.where(col("j") === col("k"))
      .agg(max(col("__t")).as("__tobs"))
    val ext = terms.crossJoin(broadcast(obs))
      .agg(round(sum(when(col("__t") <= col("__tobs"), col("__t")))
        .cast("double"), 8).as("__p"))
    cells.crossJoin(broadcast(ext))
      .select(col("n").as("n_nonzero"), col("k").as("k_pos"),
        // least() SKIPS nulls (would turn an undefined p into 1.0) —
        // gate the cap on a defined statistic
        when(col("__p").isNotNull, least(lit(1.0), col("__p")))
          .as("p_two"))
  }

  /** Restricted mean survival time (Irwin 1949; Royston & Parmar 2013
    * revival): the area under the [[kaplanMeier]] curve up to horizon
    * `tau` — the "average event-free days in the first τ" summary that
    * stays meaningful when the median is never reached. The survival
    * step function is integrated segment-by-segment: S = 1 on [0, t₁),
    * then S(tᵢ) on [tᵢ, tᵢ₊₁) — each 8dp-survival × integer-gap product
    * rounded to the 8dp grid and summed in DECIMAL over the bounded
    * duration grid (one lead() window on it). Output one row: tau,
    * n_times, rmst. */
  def rmst(spans: DataFrame, durCol: String, eventCol: String,
      tau: Long): DataFrame = {
    require(tau > 0, s"rmst: tau=$tau")
    val km = kaplanMeier(spans, durCol, eventCol)
    val w = Window.orderBy(col("duration"))
    val seg = km
      .withColumn("__nxt",
        coalesce(lead(col("duration"), 1).over(w), lit(tau)))
      .select(col("duration"), col("survival"),
        (least(col("__nxt"), lit(tau)) -
          least(col("duration"), lit(tau))).as("__gap"))
      .withColumn("__area",
        round(col("survival") * col("__gap").cast("double"), 8)
          .cast("decimal(38,8)"))
    // the S=1 head segment [0, t₁) folds into the SAME aggregation —
    // duration is a seg column, so a second kaplanMeier pass (and its
    // windows) for min(duration) would double the whole spans scan
    seg.agg(count(lit(1)).as("n_times"),
        sum(col("__area")).as("__a"),
        least(min(col("duration")), lit(tau)).as("__h0"))
      .select(lit(tau).as("tau"), col("n_times"),
        round(col("__h0").cast("double") +
          col("__a").cast("double"), 8).as("rmst"))
  }

  /** Per-group sign-flip permutation test — [[signFlipTest]] lifted to a
    * family of groups so the p-values feed [[fdrBh]] directly: within
    * each group, B md5-keyed sign flips of the paired diffs, exact
    * integer-cent replicate sums, add-one p = (1 + #extreme)/(B + 1).
    *
    * This is the NATIVE one-pass tier ([[SignFlipSums]]): one md5 per
    * row whose digest bits drive all B flips, one group-keyed
    * aggregation carrying a B-long buffer — where the declarative
    * explode twin ([[signFlipTest]]'s shape, the documented bootstrap-
    * explode tier) amplifies the scan B× and hashes per (row,
    * replicate). Measured 81 s → sub-second on the 25-brand × 600k-row
    * family at sf0.1. The |T_b| ≥ |T_obs| compares run on exact cent
    * longs. B ≤ 128 (one digest); chunked digests are the stated
    * extension. Output per group: group, n, t_obs, p_value. */
  def groupedSignFlip(diffs: DataFrame, groupCol: String, keyCol: String,
      dCol: String, b: Int, seed: String = "perm"): DataFrame = {
    require(b >= 1 && b <= 128, s"groupedSignFlip: b=$b")
    // Listwise-drop NULL keys too (the randomizedResponse convention):
    // SignFlipSums.update skips null keys from every replicate sum, so a
    // NULL-keyed row kept here would enter t_obs and n but none of the
    // B permutation sums — the replicates would be computed over a
    // DIFFERENT sample than the observed statistic and p-values invalid.
    val base = diffs
      .where(col(dCol).isNotNull && col(groupCol).isNotNull &&
        col(keyCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        col(keyCol).cast("string").as("__k"),
        col(dCol).cast("decimal(18,2)").as("__d"))
      .withColumn("__cents", (col("__d") * 100).cast("long"))
    val agg = base.groupBy(col("__g")).agg(
      sum(col("__d")).as("__tobs"), count(lit(1)).as("n"),
      graft.GraftFunctions.column("sign_flip_sums", col("__k"), col("__cents"),
        lit(b), lit(seed)).as("__tb"))
    val tobsCents = (col("__tobs") * 100).cast("long")
    val ne = aggregate(col("__tb"), lit(0L),
      (acc, x) => acc + when(abs(x) >= abs(tobsCents), 1L).otherwise(0L))
    agg.select(col("__g").as(groupCol), col("n"),
      round(col("__tobs").cast("double"), 8).as("t_obs"),
      round((lit(1.0) + ne.cast("double")) / lit((b + 1).toDouble), 8)
        .as("p_value"))
  }
  /** Hill tail-index estimator (Hill 1975): over the top k+1 order
    * statistics of a positive measure, α̂ = 1 / mean(ln(x₍ᵢ₎/x₍ₖ₊₁₎)) —
    * the heavy-tail exponent diagnostic beside the Zipf rank fit
    * (frequencies) and Hurst (long memory); α ≤ 2 means infinite
    * variance, the regime where mean-based monitors mislead.
    *
    * Scale shape: the ONLY data pass is a TakeOrdered top-(k+1) with a
    * deterministic (value DESC, key ASC) tie order — a bounded heap per
    * task, never a global sort; the ln grid and mean run on the k+1
    * collected-size rows. Output one row: k, x_k (the threshold order
    * statistic), hill_alpha (8dp; NULL when fewer than k+1 positive
    * rows or a zero mean ratio). */
  def hillTail(df: DataFrame, valCol: String, keyCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"hillTail: k=$k")
    val top = df
      .where(col(valCol).isNotNull && col(valCol) > 0)
      .select(col(valCol).cast("double").as("__x"),
        col(keyCol).cast("string").as("__k"))
      .orderBy(col("__x").desc, col("__k").asc)
      .limit(k + 1)
    val w = Window.orderBy(col("__x").desc, col("__k").asc)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // ONE TakeOrdered pass feeds everything: the threshold rides a
    // full-frame window over the ≤ k+1 ranked rows (a thr/ext crossJoin
    // pair would rebuild the TakeOrdered scan per use — 3 scans of the
    // raw input), and the single GLOBAL aggregate preserves the one-row
    // contract when fewer than k+1 positive rows exist (NULL
    // threshold/alpha) — the signFlipTest/fisherExact shape
    val ranked = top.withColumn("__rn", row_number().over(w))
      .withColumn("__thr",
        max(when(col("__rn") === k + 1, col("__x"))).over(wAll))
    ranked
      .agg(max(col("__thr")).as("__t"),
        sum(when(col("__rn") <= k, 1L).otherwise(0L)).as("__n"),
        sum(when(col("__rn") <= k,
          round(log(col("__x") / col("__thr")), 8)
            .cast("decimal(38,8)"))).as("__s"))
      .select(lit(k).cast("long").as("k"),
        round(col("__t"), 8).as("x_k"),
        when(col("__n") === k && col("__s").cast("double") > 0.0,
          round(lit(k.toDouble) / col("__s").cast("double"), 8))
          .as("hill_alpha"))
  }
}
