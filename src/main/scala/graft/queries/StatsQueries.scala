package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine._

/** A1-A9: quantiles, IQR-conditional imputation, per-group paired tests.
  *
  * The paired columns are engineered from lineitem so that every difference
  * is an exact DECIMAL (quantity/tax/discount scaled by 100) — the moment
  * sums are then bit-identical across engines and partitionings, and only
  * the final scalar formula runs in floating point (written as the same
  * expression tree on both sides).
  */
object StatsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Pinned expected output of `q_dpe_statistics` at the driver's verify
    * scale (sf0.01). The p-value layer (Student-t CDF, signed-rank normal
    * approximation) is not DuckDB-expressible, but the query is fully
    * deterministic for a given input, so the oracle is this literal row
    * set: the algorithm itself is pinned independently in StatsSpec
    * against published critical tables, and [[dpeStatisticsOracle]] turns
    * these rows into an executable VALUES oracle so the driver's compare
    * gets a real rows+schema+hash match instead of a rows-only check.
    *
    * Source of truth is shared: the oracle SQL is GENERATED from this
    * constant, and StatsSpec re-runs the engine at sf0.01 (when the
    * fixture dir exists) and asserts bit-exact equality with these rows —
    * so testdata drift fails loudly in `sbt test`, never silently in the
    * driver's hash compare. Regenerate by printing
    * `Stats.dpeStatistics(...)` rows at the new fixture (see StatsSpec
    * "dpe pinned oracle" for the exact recipe). Reference shape:
    * transform.py:348-365. Columns: (l_returnflag, sample_size, t_stat,
    * p_t, w_stat, p_w); batch_id is constant 'batch_r1'. */
  private[graft] val dpePinnedSf001: Seq[(String, Long, Double, Double, Double, Double)] =
    Seq(
      ("A", 20028L, -37.6944452882212, 0.0, 57107319.0, 5.6499616436609785e-269),
      ("N", 19926L, -37.46711800181936, 0.0, 57249563.0, 1.8938989299990572e-265),
      ("R", 20046L, -38.12803151928312, 0.0, 56966784.5, 7.028822258132311e-274))

  /** Same pin for the smoke fixture (sf0.001) so the 2-scale local
    * sweep is green too; the oracle picks the row set by the fixture's
    * own lineitem count (6,000 vs 60,000 — a 10× gap, no ambiguity). */
  private[graft] val dpePinnedSf0001: Seq[(String, Long, Double, Double, Double, Double)] =
    Seq(
      ("A", 1962L, -12.711773801640577, 0.0, 540715.5, 7.43394076670115e-32),
      ("N", 2070L, -13.488259433511075, 0.0, 583096.5, 3.6231770125321575e-36),
      ("R", 1968L, -12.198544583265033, 0.0, 537693.0, 5.2583605669808814e-30))

  /** `java.lang.Double.toString` emits the shortest decimal that
    * round-trips to the exact bits. The literal is shipped as a STRING
    * cast: DuckDB parses a bare numeric literal as DECIMAL first and
    * that decimal→double conversion can land one ULP off (observed on
    * -12.711773801640577 → ...575), while VARCHAR→DOUBLE is the
    * correctly-rounded strtod path, so the bit-identical float64 comes
    * back and the driver's `==` compare holds. */
  private def dlit(d: Double): String =
    s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"

  private[graft] def dpeStatisticsOracle: String = {
    def rows(pin: Seq[(String, Long, Double, Double, Double, Double)],
        big: Boolean) = pin.map { case (f, n, tS, pT, wS, pW) =>
      s"  (${big.toString.toUpperCase}, '$f', CAST($n AS BIGINT), " +
        s"${dlit(tS)}, ${dlit(pT)}, ${dlit(wS)}, ${dlit(pW)}, 'batch_r1')"
    }.mkString(",\n")
    // both fixture scales pinned; the right set is selected by the
    // fixture's own row count (driver verifies at sf0.01, the local
    // 2-scale sweep also runs sf0.001)
    s"""WITH sz AS (SELECT COUNT(*) > 30000 AS big FROM lineitem)
       |SELECT l_returnflag, sample_size, paired_t_test_t_statistic,
       |       paired_t_test_p_value, wilcoxon_statistic, wilcoxon_p_value,
       |       batch_id
       |FROM (VALUES
       |${rows(dpePinnedSf001, big = true)},
       |${rows(dpePinnedSf0001, big = false)}
       |) AS t(big, l_returnflag, sample_size, paired_t_test_t_statistic,
       |       paired_t_test_p_value, wilcoxon_statistic, wilcoxon_p_value,
       |       batch_id)
       |JOIN sz USING (big)
       |ORDER BY l_returnflag""".stripMargin
  }

  /** lineitem with synthetic nulls + an engineered outlier column:
    * x1 → no outliers (mean fill path), x2 → heavy outliers (median path). */
  private def imputeInput(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_linenumber") >= 4, lit(null))
        .otherwise(col("l_quantity")).as("x1"),
      when(col("l_linenumber") >= 4, lit(null))
        .otherwise(when(col("l_linenumber") === 1, col("l_quantity") * 100.0)
          .otherwise(col("l_quantity"))).as("x2"))

  def specs: Seq[QuerySpec] = Seq(

    // A1/A4: exact per-group quantiles (linear interpolation — matches
    // pandas `quantile` and DuckDB `quantile_cont`) + decimal-exact mean.
    QuerySpec("q_group_quantiles", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("q1"),
          percentile(col("l_quantity"), lit(0.5)).as("med"),
          percentile(col("l_quantity"), lit(0.75)).as("q3"),
          (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
            count(col("l_quantity"))).as("mean_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS q1,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS med,
        |       quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS q3,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS mean_qty,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Robust outliers: median/MAD flagging (k = 3) — the
    // outlier-resistant twin of z-score filtering; both percentile passes
    // mirror quantile_cont exactly, and the flag compares the UNROUNDED
    // mad on both engines.
    QuerySpec("q_mad_outliers", (s, dir) => {
      Stats.madOutlierStats(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")
    }, Some(
      """WITH b AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS x
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, quantile_cont(x, 0.5) AS med
        |      FROM b GROUP BY l_returnflag),
        |d AS (SELECT b.l_returnflag, x, ABS(x - med) AS adev
        |      FROM b JOIN m USING (l_returnflag)),
        |s AS (SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad,
        |             COUNT(*) AS n
        |      FROM d GROUP BY l_returnflag)
        |SELECT d.l_returnflag, s.n,
        |       ROUND(m.med, 8) AS med, ROUND(s.mad, 8) AS mad,
        |       CAST(SUM(CASE WHEN d.adev > CAST(3.0 AS DOUBLE) * s.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d
        |JOIN s USING (l_returnflag)
        |JOIN m USING (l_returnflag)
        |GROUP BY d.l_returnflag, s.n, m.med, s.mad
        |ORDER BY l_returnflag""".stripMargin)),

    // Per-group winsorization: values clipped to the exact group
    // [p05, p95] — one percentile pass, broadcast cuts, map-only clip.
    // Unrounded clipped doubles compare bit-equal because percentile /
    // quantile_cont interpolate identically (q_impute_iqr precedent).
    QuerySpec("q_winsorize", (s, dir) => {
      Stats.winsorize(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
            "l_returnflag", "l_extendedprice"),
          "l_returnflag", "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice_wins"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |         CAST(l_extendedprice AS DOUBLE) AS x
        |  FROM lineitem),
        |c AS (
        |  SELECT l_returnflag, quantile_cont(x, 0.05) AS lo,
        |         quantile_cont(x, 0.95) AS hi
        |  FROM b GROUP BY l_returnflag)
        |SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag,
        |       LEAST(GREATEST(b.x, c.lo), c.hi) AS l_extendedprice_wins
        |FROM b JOIN c USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A2/A3: IQR-conditional imputation — x1 takes the mean branch,
    // x2 the median branch (outliers beyond Q3 + 1.5·IQR).
    QuerySpec("q_impute_iqr", (s, dir) => {
      val (filled, _) = Impute.fillFloats(imputeInput(s, dir), Seq("x1", "x2"))
      filled.select(col("l_orderkey"), col("l_linenumber"),
          col("x1").as("x1_filled"), col("x2").as("x2_filled"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """WITH s AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CASE WHEN l_linenumber >= 4 THEN NULL ELSE l_quantity END AS x1,
        |         CASE WHEN l_linenumber >= 4 THEN NULL
        |              WHEN l_linenumber = 1 THEN l_quantity * 100.0
        |              ELSE l_quantity END AS x2
        |  FROM lineitem),
        |st AS (
        |  SELECT quantile_cont(x1, 0.25) AS q1_1, quantile_cont(x1, 0.5) AS med_1,
        |         quantile_cont(x1, 0.75) AS q3_1,
        |         CAST(SUM(CAST(x1 AS DECIMAL(18,2))) AS DOUBLE)/COUNT(x1) AS mean_1,
        |         quantile_cont(x2, 0.25) AS q1_2, quantile_cont(x2, 0.5) AS med_2,
        |         quantile_cont(x2, 0.75) AS q3_2,
        |         CAST(SUM(CAST(x2 AS DECIMAL(18,2))) AS DOUBLE)/COUNT(x2) AS mean_2
        |  FROM s),
        |ob AS (
        |  SELECT SUM(CASE WHEN x1 < q1_1 - 1.5*(q3_1-q1_1) OR x1 > q3_1 + 1.5*(q3_1-q1_1)
        |                  THEN 1 ELSE 0 END) AS out1,
        |         SUM(CASE WHEN x2 < q1_2 - 1.5*(q3_2-q1_2) OR x2 > q3_2 + 1.5*(q3_2-q1_2)
        |                  THEN 1 ELSE 0 END) AS out2
        |  FROM s, st)
        |SELECT l_orderkey, l_linenumber,
        |       COALESCE(x1, CASE WHEN out1 > 0 THEN med_1 ELSE mean_1 END) AS x1_filled,
        |       COALESCE(x2, CASE WHEN out2 > 0 THEN med_2 ELSE mean_2 END) AS x2_filled
        |FROM s, st, ob
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A5-A8: per-group paired t statistic from exact decimal moments.
    // Sign-flip permutation test (B = 99) on per-customer first→last
    // order-value changes: the assumption-free paired-inference member
    // beside the parametric t (A8) and rank Wilcoxon (A9). md5 flips,
    // exact decimal replicate sums, add-one p.
    QuerySpec("q_perm_test", (s, dir) => {
      // min_by/max_by over the (date, key) total order: one aggregation
      // with map-side partials — a full-frame window + distinct would
      // sort every order row and shuffle twice for the same values
      val key = struct(col("o_orderdate"), col("o_orderkey"))
      val diffs = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min_by(col("o_totalprice"), key).as("__f"),
          max_by(col("o_totalprice"), key).as("__l"),
          count(lit(1)).as("__c"))
        .where(col("__c") >= 2)
        .select(col("o_custkey"),
          (col("__l").cast("decimal(18,2)") -
            col("__f").cast("decimal(18,2)")).as("d"))
      Stats.signFlipTest(diffs, "o_custkey", "d", b = 99)
    }, Some(
      """WITH o AS (
        |  SELECT o_custkey,
        |         FIRST_VALUE(o_totalprice) OVER w AS f,
        |         LAST_VALUE(o_totalprice) OVER w AS l,
        |         COUNT(*) OVER w AS c
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND UNBOUNDED FOLLOWING)),
        |fl AS (
        |  SELECT DISTINCT o_custkey AS k,
        |         CAST(l AS DECIMAL(18,2)) - CAST(f AS DECIMAL(18,2)) AS d
        |  FROM o WHERE c >= 2),
        |obs AS (SELECT SUM(d) AS tobs, COUNT(*) AS n FROM fl),
        |r AS (
        |  SELECT bb.b AS b,
        |         SUM(CASE WHEN (instr('0123456789abcdef',
        |                  substr(md5('perm|' || CAST(bb.b AS VARCHAR)
        |                    || '|' || CAST(k AS VARCHAR)), 1, 1)) - 1)
        |                  % 2 = 1
        |             THEN -d ELSE d END) AS tb
        |  FROM fl CROSS JOIN (SELECT unnest(range(0, 99)) AS b) bb
        |  GROUP BY bb.b)
        |SELECT obs.n,
        |       ROUND(CAST(obs.tobs AS DOUBLE), 8) AS t_obs,
        |       CAST(SUM(CASE WHEN ABS(tb) >= ABS(obs.tobs)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
        |       ROUND((1.0 + SUM(CASE WHEN ABS(tb) >= ABS(obs.tobs)
        |                             THEN 1 ELSE 0 END)) / 100.0, 8)
        |         AS p_value
        |FROM r CROSS JOIN obs
        |GROUP BY obs.n, obs.tobs""".stripMargin)),

    QuerySpec("q_paired_ttest", (s, dir) => {
      val in = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice").as("x"), (col("l_quantity") * 100.0).as("y"))
      // t rounded to 8 dp: the exact decimal moments exceed double's 53-bit
      // mantissa, and decimal→double conversion rounds differently across
      // engines (correctly-rounded BigDecimal vs int128/10^s double math).
      Stats.pairedTTestStat(in, "l_returnflag", "x", "y")
        .withColumn("t_stat", round(col("t_stat"), 8))
        .orderBy("l_returnflag")
    }, Some(
      """WITH d AS (
        |  SELECT l_returnflag,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) -
        |         CAST(l_quantity * 100.0 AS DECIMAL(18,2)) AS d
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, COUNT(*) AS sample_size,
        |         SUM(d) AS sd, SUM(d*d) AS sdd, MIN(d) AS min_d, MAX(d) AS max_d
        |  FROM d GROUP BY l_returnflag)
        |SELECT l_returnflag, sample_size,
        |       ROUND(CASE WHEN sample_size > 1 THEN
        |         (CAST(sd AS DOUBLE) / CAST(sample_size AS DOUBLE)) /
        |         SQRT((CASE WHEN min_d <> max_d THEN
        |                 (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(sample_size AS DOUBLE))
        |                 / (CAST(sample_size AS DOUBLE) - 1.0)
        |               ELSE NULL END) / CAST(sample_size AS DOUBLE))
        |       ELSE -99999.0 END, 8) AS t_stat
        |FROM a ORDER BY l_returnflag""".stripMargin), headline = true),

    // A9: Wilcoxon signed-rank W — zero diffs dropped, mid-rank ties
    // (scipy `wilcoxon` zero_method='wilcox' semantics).
    QuerySpec("q_wilcoxon", (s, dir) => {
      val in = t(s, dir, "lineitem").select(col("l_returnflag"),
        (col("l_tax") * 100.0).as("x"), (col("l_discount") * 100.0).as("y"))
      Stats.wilcoxonStat(in, "l_returnflag", "x", "y")
        .drop("tie_counts")
        .orderBy("l_returnflag")
    }, Some(
      """WITH d AS (
        |  SELECT l_returnflag AS label,
        |         CAST(l_tax * 100.0 AS DECIMAL(18,2)) -
        |         CAST(l_discount * 100.0 AS DECIMAL(18,2)) AS d
        |  FROM lineitem),
        |sizes AS (SELECT label, COUNT(*) AS sample_size FROM d GROUP BY label),
        |nz AS (SELECT label, d, ABS(d) AS ad FROM d WHERE d <> 0),
        |ranked AS (
        |  SELECT label, d,
        |         RANK() OVER (PARTITION BY label ORDER BY ad) +
        |         (COUNT(*) OVER (PARTITION BY label, ad) - 1) / 2.0 AS r
        |  FROM nz),
        |agg AS (
        |  SELECT label,
        |         SUM(CASE WHEN d > 0 THEN r ELSE 0.0 END) AS w_plus,
        |         SUM(CASE WHEN d < 0 THEN r ELSE 0.0 END) AS w_minus,
        |         COUNT(*) AS n_nonzero
        |  FROM ranked GROUP BY label)
        |SELECT s.label AS l_returnflag, s.sample_size,
        |       COALESCE(a.n_nonzero, 0) AS n_nonzero,
        |       CASE WHEN s.sample_size > 1 AND COALESCE(a.n_nonzero, 0) > 0
        |            THEN LEAST(a.w_plus, a.w_minus) ELSE -99999.0 END AS w_stat
        |FROM sizes s LEFT JOIN agg a USING(label)
        |ORDER BY l_returnflag""".stripMargin), headline = true),

    // Skew-proof two-phase aggregation: salt → partial → merge gives the
    // same exact decimal sums as a direct groupBy (the oracle IS the
    // direct form), proving the heavy-hitter path is value-transparent.
    QuerySpec("q_agg_salted", (s, dir) => {
      Skew.saltedDecimalSum(t(s, dir, "lineitem"),
          keys = Seq("l_returnflag"), valueCol = "l_extendedprice",
          saltCol = col("l_orderkey"), buckets = 32)
        .select(col("l_returnflag"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Mann-Whitney U (unpaired rank-sum) per line status: quantity of
    // returned (R) vs accepted (A) lineitems. Tie-pre-aggregated midranks
    // are exact half-integers, so double sums are associative and the
    // oracle mirror is bit-exact.
    QuerySpec("q_mannwhitney", (s, dir) => {
      Stats.mannWhitneyStat(t(s, dir, "lineitem"), "l_linestatus",
          "l_quantity", "l_returnflag", a = "A", b = "R")
        .select(col("l_linestatus"), col("n1"), col("n2"), col("u_stat"))
        .orderBy("l_linestatus")
    }, Some(
      """WITH base AS (
        |  SELECT l_linestatus AS label, CAST(l_quantity AS DECIMAL(18,2)) AS v,
        |         l_returnflag = 'A' AS is_a
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |ties AS (
        |  SELECT label, v, COUNT(*) FILTER (WHERE is_a) AS ca,
        |         COUNT(*) FILTER (WHERE NOT is_a) AS cb, COUNT(*) AS c
        |  FROM base GROUP BY label, v),
        |ranked AS (
        |  SELECT label, ca, cb, c,
        |         COALESCE(SUM(c) OVER (PARTITION BY label ORDER BY v
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + (c + 1) / 2.0 AS midrank
        |  FROM ties),
        |agg AS (
        |  SELECT label, CAST(SUM(ca) AS BIGINT) AS n1,
        |         CAST(SUM(cb) AS BIGINT) AS n2,
        |         SUM(ca * midrank) AS r1
        |  FROM ranked GROUP BY label)
        |SELECT label AS l_linestatus, n1, n2,
        |       -- double BEFORE any product: same tree as the Spark side
        |       LEAST(r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1) / 2.0,
        |             CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |               - (r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1) / 2.0)) AS u_stat
        |FROM agg ORDER BY l_linestatus""".stripMargin)),

    // Two-sample Kolmogorov-Smirnov D per group: ECDF differences over
    // tie-pre-aggregated distinct values (same scale shape as Mann-Whitney
    // — the window sorts distinct values, not rows); each |Fa−Fb| rounds
    // to 8 dp before the max on both engines.
    QuerySpec("q_ks_test", (s, dir) => {
      Stats.ksStat(t(s, dir, "lineitem"), "l_linestatus",
          "l_extendedprice", "l_returnflag", a = "A", b = "R")
        .orderBy("l_linestatus")
    }, Some(
      """WITH base AS (
        |  SELECT l_linestatus AS label, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |         l_returnflag = 'A' AS is_a
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |ties AS (
        |  SELECT label, v, COUNT(*) FILTER (WHERE is_a) AS ca,
        |         COUNT(*) FILTER (WHERE NOT is_a) AS cb
        |  FROM base GROUP BY label, v),
        |ecdf AS (
        |  SELECT label,
        |         SUM(ca) OVER (PARTITION BY label ORDER BY v
        |                       ROWS UNBOUNDED PRECEDING) AS fa,
        |         SUM(cb) OVER (PARTITION BY label ORDER BY v
        |                       ROWS UNBOUNDED PRECEDING) AS fb,
        |         SUM(ca) OVER (PARTITION BY label) AS n1,
        |         SUM(cb) OVER (PARTITION BY label) AS n2
        |  FROM ties)
        |SELECT label AS l_linestatus,
        |       CAST(MAX(n1) AS BIGINT) AS n1,
        |       CAST(MAX(n2) AS BIGINT) AS n2,
        |       CASE WHEN MAX(n1) > 0 AND MAX(n2) > 0 THEN
        |         MAX(ROUND(ABS(
        |           CASE WHEN n1 > 0 THEN CAST(fa AS DOUBLE) / n1 ELSE 0.0 END -
        |           CASE WHEN n2 > 0 THEN CAST(fb AS DOUBLE) / n2 ELSE 0.0 END), 8))
        |       ELSE -99999.0 END AS ks_stat
        |FROM ecdf GROUP BY label ORDER BY l_linestatus""".stripMargin)),

    // Pearson correlation + simple OLS per group from exact decimal
    // moments (n, Σx, Σy, Σx², Σy², Σxy) — the built-in corr/covar
    // aggregate in doubles is partition-order-dependent; decimal moments
    // are exact and associative, doubles appear only in the final scalar
    // formula, rounded to 8 dp on both engines.
    QuerySpec("q_corr_ols", (s, dir) => {
      val x = col("l_quantity").cast("decimal(12,2)")
      val y = col("l_extendedprice").cast("decimal(12,2)")
      val m = t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      val (nd, sxd, syd) =
        (col("n").cast("double"), col("sx").cast("double"), col("sy").cast("double"))
      val (sxxd, syyd, sxyd) =
        (col("sxx").cast("double"), col("syy").cast("double"), col("sxy").cast("double"))
      val num = nd * sxyd - sxd * syd
      val denx = nd * sxxd - sxd * sxd
      val deny = nd * syyd - syd * syd
      m.select(col("l_returnflag"), col("n"),
          when(denx > 0 && deny > 0,
            round(num / sqrt(denx) / sqrt(deny), 8)).as("corr"),
          when(denx > 0, round(num / denx, 8)).as("slope"),
          when(denx > 0, round((syd - num / denx * sxd) / nd, 8)).as("intercept"))
        .orderBy("l_returnflag")
    }, Some(
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
        |         SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
        |         SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n,
        |         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |         CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
        |         CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
        |  FROM m)
        |SELECT l_returnflag, n,
        |       CASE WHEN nd*sxxd - sxd*sxd > 0 AND nd*syyd - syd*syd > 0
        |            THEN ROUND((nd*sxyd - sxd*syd) / sqrt(nd*sxxd - sxd*sxd)
        |                       / sqrt(nd*syyd - syd*syd), 8) END AS corr,
        |       CASE WHEN nd*sxxd - sxd*sxd > 0
        |            THEN ROUND((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd), 8) END AS slope,
        |       CASE WHEN nd*sxxd - sxd*sxd > 0
        |            THEN ROUND((syd - (nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd) * sxd) / nd, 8) END AS intercept
        |FROM d ORDER BY l_returnflag""".stripMargin)),

    // Weighted median per group: the price at which half the QUANTITY
    // trades (lower weighted median, exact DECIMAL cumulative weights).
    // One group-keyed sort; the crossing row falls out as min(x) over
    // the monotone qualifying suffix.
    QuerySpec("q_weighted_median", (s, dir) => {
      graft.engine.Stats.weightedMedian(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity",
          tieCols = Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_returnflag")
    }, Some(
      """WITH b AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS x,
        |         CAST(l_quantity AS DECIMAL(18,2)) AS w,
        |         l_orderkey, l_linenumber
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |c AS (
        |  SELECT l_returnflag, x,
        |         SUM(w) OVER (PARTITION BY l_returnflag
        |                      ORDER BY x, l_orderkey, l_linenumber
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM b)
        |SELECT l_returnflag, CAST(MAX(tot) AS DOUBLE) AS total_weight,
        |       MIN(x) AS weighted_median
        |FROM c WHERE tot > 0 AND cum * 2 >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // One-way ANOVA F across return-flag groups: the k>2 companion of
    // the paired t-test tier. Per-group DECIMAL moments in one pass;
    // the cross-group Σ S²/n reduction rides the 8dp grid (group order
    // is engine-dependent — an IEEE sum there would not be portable).
    QuerySpec("q_anova", (s, dir) => {
      graft.engine.Stats.anovaOneWay(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice")
    }, Some(
      """WITH g AS (
        |  SELECT l_returnflag, COUNT(*) AS ng,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sg,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * CAST(l_extendedprice AS DECIMAL(12,2))) AS ssg
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |  GROUP BY l_returnflag),
        |m AS (
        |  SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
        |         SUM(sg) AS s, SUM(ssg) AS ss,
        |         SUM(CAST(ROUND(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |                        / CAST(ng AS DOUBLE), 8)
        |                  AS DECIMAL(28,8))) AS t
        |  FROM g),
        |d AS (
        |  SELECT k, n, CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd,
        |         CAST(s AS DOUBLE) AS sd, CAST(ss AS DOUBLE) AS ssd,
        |         CAST(t AS DOUBLE) AS td
        |  FROM m)
        |SELECT k, n,
        |       CASE WHEN k > 1 AND n > k AND ssd - td > 0.0
        |            THEN ROUND(((td - sd * sd / nd) / (kd - 1.0))
        |                       / ((ssd - td) / (nd - kd)), 8)
        |            END AS f_stat
        |FROM d""".stripMargin)),

    // Gini coefficient per group (rank formulation, tie-order-invariant):
    // value-concentration beside q_hhi's market-share concentration. One
    // group-keyed rank window + one aggregation on the DECIMAL grid.
    QuerySpec("q_gini", (s, dir) => {
      graft.engine.Stats.gini(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice")
        .orderBy("l_returnflag")
    }, Some(
      """WITH r AS (
        |  SELECT l_returnflag,
        |         CAST(l_extendedprice AS DECIMAL(12,2)) AS x,
        |         ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                            ORDER BY CAST(l_extendedprice AS DOUBLE))
        |           AS i
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx,
        |         SUM(x * CAST(i AS DECIMAL(19,0))) AS six
        |  FROM r GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       CASE WHEN CAST(sx AS DOUBLE) > 0.0
        |            THEN ROUND((2.0 * CAST(six AS DOUBLE)
        |                        - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
        |                       / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 8)
        |            END AS gini
        |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Trimmed mean per group (5%..95% band, exact percentile cuts):
    // the robust-location complement of q_winsorize — outliers are
    // EXCLUDED, not clamped; survivors average on the DECIMAL grid.
    // Two passes with broadcast cut rows, like every exact-percentile
    // operator here.
    QuerySpec("q_trimmed_mean", (s, dir) => {
      graft.engine.Stats.trimmedMean(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", lo = 0.05, hi = 0.95)
        .orderBy("l_returnflag")
    }, Some(
      """WITH c AS (
        |  SELECT l_returnflag,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag,
        |       CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) >= c.lo
        |                      AND CAST(l_extendedprice AS DOUBLE) <= c.hi
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) < c.lo
        |                       OR CAST(l_extendedprice AS DOUBLE) > c.hi
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_trimmed,
        |       CASE WHEN SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) >= c.lo
        |                           AND CAST(l_extendedprice AS DOUBLE) <= c.hi
        |                          THEN 1 ELSE 0 END) > 0
        |            THEN ROUND(CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) >= c.lo
        |                                      AND CAST(l_extendedprice AS DOUBLE) <= c.hi
        |                                     THEN CAST(l_extendedprice AS DECIMAL(12,2)) END)
        |                            AS DOUBLE)
        |                       / CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) >= c.lo
        |                                        AND CAST(l_extendedprice AS DOUBLE) <= c.hi
        |                                       THEN 1 ELSE 0 END) AS DOUBLE), 8)
        |            END AS trimmed_mean
        |FROM lineitem l JOIN c ON l.l_returnflag = c.l_returnflag
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin)),

    // Two-predictor OLS per group (extendedprice ~ quantity + discount),
    // the multi-feature tier above q_corr_ols: nine exact DECIMAL
    // moments in ONE aggregation pass, then Cramer's rule on the 3×3
    // normal equations as a pinned scalar double formula — closed-form
    // regression that stays oracle-checkable (an iterative fit would
    // not). det≠0 guards singular designs.
    QuerySpec("q_ols_multi", (s, dir) => {
      graft.engine.Stats.olsMulti(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", "l_quantity", "l_discount")
        .orderBy("l_returnflag")
    }, Some(
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS s1,
        |         SUM(CAST(l_discount AS DECIMAL(12,2))) AS s2,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
        |         SUM(CAST(l_quantity AS DECIMAL(12,2))
        |             * CAST(l_quantity AS DECIMAL(12,2))) AS s11,
        |         SUM(CAST(l_quantity AS DECIMAL(12,2))
        |             * CAST(l_discount AS DECIMAL(12,2))) AS s12,
        |         SUM(CAST(l_discount AS DECIMAL(12,2))
        |             * CAST(l_discount AS DECIMAL(12,2))) AS s22,
        |         SUM(CAST(l_quantity AS DECIMAL(12,2))
        |             * CAST(l_extendedprice AS DECIMAL(12,2))) AS s1y,
        |         SUM(CAST(l_discount AS DECIMAL(12,2))
        |             * CAST(l_extendedprice AS DECIMAL(12,2))) AS s2y,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
        |         CAST(sy AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS s11,
        |         CAST(s12 AS DOUBLE) AS s12, CAST(s22 AS DOUBLE) AS s22,
        |         CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
        |         CAST(syy AS DOUBLE) AS syy
        |  FROM m),
        |k AS (
        |  SELECT l_returnflag, n, sy, s1y, s2y, syy, nd,
        |         nd * (s11*s22 - s12*s12) - s1 * (s1*s22 - s12*s2)
        |           + s2 * (s1*s12 - s11*s2) AS det,
        |         sy * (s11*s22 - s12*s12) - s1 * (s1y*s22 - s12*s2y)
        |           + s2 * (s1y*s12 - s11*s2y) AS det0,
        |         nd * (s1y*s22 - s12*s2y) - sy * (s1*s22 - s12*s2)
        |           + s2 * (s1*s2y - s1y*s2) AS det1,
        |         nd * (s11*s2y - s1y*s12) - s1 * (s1*s2y - s1y*s2)
        |           + sy * (s1*s12 - s11*s2) AS det2
        |  FROM d)
        |SELECT l_returnflag, n,
        |       CASE WHEN det <> 0.0 THEN ROUND(det0 / det, 8) END AS b0,
        |       CASE WHEN det <> 0.0 THEN ROUND(det1 / det, 8) END AS b1,
        |       CASE WHEN det <> 0.0 THEN ROUND(det2 / det, 8) END AS b2,
        |       CASE WHEN det <> 0.0 AND syy - sy * sy / nd > 0.0
        |            THEN ROUND(1.0 - (syy - (det0 * sy + det1 * s1y
        |                                     + det2 * s2y) / det)
        |                             / (syy - sy * sy / nd), 8) END AS r2
        |FROM k ORDER BY l_returnflag""".stripMargin)),

    // Chi-square contingency cells (returnflag × linestatus): observed,
    // expected, and per-cell contribution from exact integer totals —
    // no float SUM in the plan, so bit-deterministic; χ² is their sum
    // (q_cramers_v).
    QuerySpec("q_chisq_cells", (s, dir) => {
      Stats.chiSquareCells(t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      """WITH obs AS (
        |  SELECT l_returnflag, l_linestatus, COUNT(*) AS observed
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |rt AS (SELECT l_returnflag, CAST(SUM(observed) AS BIGINT) AS row_total
        |       FROM obs GROUP BY l_returnflag),
        |ct AS (SELECT l_linestatus, CAST(SUM(observed) AS BIGINT) AS col_total
        |       FROM obs GROUP BY l_linestatus),
        |n AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_total FROM obs),
        |-- full row x col grid: structurally-empty cells still contribute
        |grid AS (SELECT * FROM rt CROSS JOIN ct),
        |cells AS (
        |  SELECT g.l_returnflag, g.l_linestatus,
        |         COALESCE(o.observed, 0) AS observed,
        |         CAST(g.row_total AS DOUBLE) * CAST(g.col_total AS DOUBLE)
        |           / CAST(n_total AS DOUBLE) AS e
        |  FROM grid g LEFT JOIN obs o USING (l_returnflag, l_linestatus)
        |  CROSS JOIN n)
        |SELECT l_returnflag, l_linestatus, observed,
        |       ROUND(e, 8) AS expected,
        |       ROUND((observed - e) * (observed - e) / e, 8) AS contrib
        |FROM cells
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Effect size for the chi-square screen: Cramér's V = sqrt(χ²/(N·
    // (min(r,c)−1))) — the association STRENGTH a significance test
    // alone can't give (at 100 TB everything is "significant"; V says
    // whether it matters). χ² sums the 8dp-grid cell contributions in
    // exact DECIMAL — a double sum over engine-ordered cells would not
    // be portable (the q_anova rule).
    QuerySpec("q_cramers_v", (s, dir) => {
      val cells = Stats.chiSquareCells(t(s, dir, "lineitem"),
        "l_returnflag", "l_linestatus")
      cells.agg(
          sum(col("contrib").cast("decimal(20,8)")).as("__chi2"),
          sum(col("observed")).as("n"),
          countDistinct(col("l_returnflag")).as("__r"),
          countDistinct(col("l_linestatus")).as("__c"))
        .select(
          col("__chi2").cast("double").as("chi2"),
          ((col("__r") - 1) * (col("__c") - 1)).as("dof"),
          col("n"),
          round(sqrt(col("__chi2").cast("double") / col("n").cast("double") /
            (least(col("__r"), col("__c")) - 1).cast("double")), 8)
            .as("cramers_v"))
    }, Some(
      """WITH obs AS (
        |  SELECT l_returnflag, l_linestatus, COUNT(*) AS observed
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |rt AS (SELECT l_returnflag, CAST(SUM(observed) AS BIGINT) AS row_total
        |       FROM obs GROUP BY l_returnflag),
        |ct AS (SELECT l_linestatus, CAST(SUM(observed) AS BIGINT) AS col_total
        |       FROM obs GROUP BY l_linestatus),
        |nt AS (SELECT CAST(SUM(observed) AS BIGINT) AS n_total FROM obs),
        |grid AS (SELECT * FROM rt CROSS JOIN ct),
        |cells AS (
        |  SELECT g.l_returnflag, g.l_linestatus,
        |         COALESCE(o.observed, 0) AS observed,
        |         CAST(g.row_total AS DOUBLE) * CAST(g.col_total AS DOUBLE)
        |           / CAST(n_total AS DOUBLE) AS e
        |  FROM grid g LEFT JOIN obs o USING (l_returnflag, l_linestatus)
        |  CROSS JOIN nt),
        |m AS (
        |  SELECT SUM(CAST(ROUND((observed - e) * (observed - e) / e, 8)
        |                  AS DECIMAL(20,8))) AS chi2d,
        |         CAST(SUM(observed) AS BIGINT) AS n,
        |         COUNT(DISTINCT l_returnflag) AS r,
        |         COUNT(DISTINCT l_linestatus) AS c
        |  FROM cells)
        |SELECT CAST(chi2d AS DOUBLE) AS chi2,
        |       (r - 1) * (c - 1) AS dof, n,
        |       ROUND(sqrt(CAST(chi2d AS DOUBLE) / CAST(n AS DOUBLE)
        |                  / CAST(LEAST(r, c) - 1 AS DOUBLE)), 8) AS cramers_v
        |FROM m""".stripMargin)),

    // Benford first-digit screen over a monetary column — the audit-tier
    // fabricated-data detector. Leading digit via the DECIMAL's string
    // form (floor(log10) flips digits at power-of-10 boundaries per
    // libm); expected log-law proportions are 8dp literals inlined
    // identically in both engines (CAST AS DOUBLE in SQL — DuckDB parses
    // bare float literals as DECIMAL).
    QuerySpec("q_benford", (s, dir) => {
      Stats.benfordDigits(t(s, dir, "lineitem"), "l_extendedprice")
        .orderBy("digit")
    }, Some {
      val exp = (1 to 9).map(d => d -> BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
      val caseExp = (1 to 9)
        .map(d => s"WHEN digit = '$d' THEN CAST(${exp(d)} AS DOUBLE)")
        .mkString(" ")
      s"""WITH digits AS (
         |  SELECT regexp_extract(
         |           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
         |           '[1-9]') AS digit
         |  FROM lineitem
         |  WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
         |c AS (SELECT digit, COUNT(*) AS observed FROM digits
         |      WHERE digit <> '' GROUP BY digit),
         |nn AS (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM c),
         |e AS (SELECT digit, observed, nn.n,
         |             CASE $caseExp END AS expected_p
         |      FROM c CROSS JOIN nn)
         |SELECT CAST(digit AS INT) AS digit, observed, n, expected_p,
         |       ROUND(CAST(observed AS DOUBLE) / CAST(n AS DOUBLE), 8)
         |         AS observed_p,
         |       ROUND((observed - expected_p * n) * (observed - expected_p * n)
         |             / (expected_p * n), 8) AS chi_contrib
         |FROM e ORDER BY digit""".stripMargin
    }),

    // Full Pearson correlation matrix from ONE aggregation pass: every
    // first and cross moment accumulates in a single DECIMAL job, then
    // each pair's correlation is a scalar formula exploded map-side —
    // p measures screened at one corpus scan (df.stat.corr per pair
    // would scan p·(p-1)/2 times).
    QuerySpec("q_corr_matrix", (s, dir) => {
      Stats.corrMatrix(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("x_col", "y_col")
    }, Some {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val firsts = cols.indices.map(i =>
        s"SUM(CAST(${cols(i)} AS DECIMAL(18,2))) AS s$i")
      val crosses = for { i <- cols.indices; j <- i until cols.size } yield
        s"SUM(CAST(${cols(i)} AS DECIMAL(18,2)) * " +
          s"CAST(${cols(j)} AS DECIMAL(18,2))) AS s${i}_$j"
      val branches = for { i <- cols.indices; j <- (i + 1) until cols.size }
        yield {
          val num = s"(CAST(n AS DOUBLE) * CAST(s${i}_$j AS DOUBLE) - " +
            s"CAST(s$i AS DOUBLE) * CAST(s$j AS DOUBLE))"
          val denx = s"(CAST(n AS DOUBLE) * CAST(s${i}_$i AS DOUBLE) - " +
            s"CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE))"
          val deny = s"(CAST(n AS DOUBLE) * CAST(s${j}_$j AS DOUBLE) - " +
            s"CAST(s$j AS DOUBLE) * CAST(s$j AS DOUBLE))"
          s"SELECT '${cols(i)}' AS x_col, '${cols(j)}' AS y_col, " +
            s"CASE WHEN $denx > 0 AND $deny > 0 " +
            s"THEN ROUND($num / sqrt($denx) / sqrt($deny), 8) END AS corr " +
            "FROM m"
        }
      // listwise deletion mirrored: all moments from the complete-case
      // row set (lineitem measures are non-null, so this is an identity
      // here — the point is semantic parity with corrMatrix)
      s"WITH m AS (SELECT COUNT(*) AS n, " +
        (firsts ++ crosses).mkString(", ") + " FROM lineitem WHERE " +
        cols.map(c => s"$c IS NOT NULL").mkString(" AND ") + ")\n" +
        branches.mkString("\nUNION ALL\n") + "\nORDER BY x_col, y_col"
    }),

    // Mutual information over the same contingency grid as χ² — the
    // information-theoretic dependence screen. 8dp-ln terms weighted by
    // exact counts, summed on the DECIMAL(38,8) grid, one division by N;
    // marginal products in double BEFORE multiplying (the χ² long-wrap
    // lesson). Empty cells contribute exactly 0, so only observed
    // combinations are scanned.
    QuerySpec("q_mutual_info", (s, dir) => {
      Stats.mutualInfo(t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")
    }, Some(
      """WITH obs AS (
        |  SELECT l_returnflag AS x, l_linestatus AS y, COUNT(*) AS nij
        |  FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        |  GROUP BY 1, 2),
        |xt AS (SELECT x, CAST(SUM(nij) AS BIGINT) AS ni FROM obs GROUP BY x),
        |yt AS (SELECT y, CAST(SUM(nij) AS BIGINT) AS nj FROM obs GROUP BY y),
        |nn AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM obs),
        |t AS (
        |  SELECT nn.n,
        |         CAST(CAST(ROUND(ln((CAST(nn.n AS DOUBLE) * CAST(nij AS DOUBLE))
        |                            / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE))),
        |                         8) AS DECIMAL(10,8))
        |              * CAST(nij AS DECIMAL(19,0)) AS DECIMAL(38,8)) AS term
        |  FROM obs JOIN xt USING (x) JOIN yt USING (y) CROSS JOIN nn)
        |SELECT n, CAST(SUM(term) AS DOUBLE) / CAST(n AS DOUBLE) AS mi
        |FROM t GROUP BY n""".stripMargin)),

    // Salted equi-join for the pathological single-hot-key case (both
    // sides too large to broadcast): fact salted by a row-unique column,
    // dim replicated per salt — value-transparent, so the oracle is the
    // plain join. Aggregated output keeps the compare small.
    QuerySpec("q_join_salted", (s, dir) => {
      val fact = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("orderkey"),
          col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val dim = t(s, dir, "orders")
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      // salt must be ROW-unique (orderkey+linenumber), never the join key
      // itself — salting by the key would leave every hot-key row on one
      // partition and pay the dim replication for nothing
      Skew.saltedJoin(fact, dim, Seq("orderkey"),
          factSaltCol = struct(col("l_orderkey"), col("l_linenumber")),
          buckets = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Column profiling report: one aggregation job for all columns
    // (exact distinct counts; approx=true swaps HLL for wide tables).
    QuerySpec("q_profile_orders", (s, dir) => {
      graft.engine.Profile.profile(t(s, dir, "orders"),
          Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"))
        .orderBy("column_name")
    }, Some(
      Seq(("o_custkey", true), ("o_orderpriority", false),
          ("o_orderstatus", false), ("o_totalprice", true)).map {
        case (c, num) =>
          val (mn, mx, ms, xs) =
            if (num) (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)",
              "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
            else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
              s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)")
          s"""SELECT '$c' AS column_name, COUNT($c) AS n_nonnull,
             |COUNT(DISTINCT $c) AS n_distinct, $mn AS min_num, $mx AS max_num,
             |$ms AS min_str, $xs AS max_str FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))),

    // The SQL-expressible core of the gold statistics entity: everything
    // in q_dpe_statistics EXCEPT the p-values — n, t statistic (exact
    // decimal moments), nonzero-pair count, Wilcoxon W — so the whole
    // aggregation/ranking machinery hash-matches DuckDB and only the
    // special-function CDF layer stays spec-gated (StatsSpec).
    QuerySpec("q_dpe_stats_core", (s, dir) => {
      val in = t(s, dir, "lineitem").select(col("l_returnflag"),
        (col("l_tax") * 100.0).as("x"), (col("l_discount") * 100.0).as("y"))
      val tt = Stats.pairedTTestStat(in, "l_returnflag", "x", "y")
        .withColumn("t_stat", round(col("t_stat"), 8))
      val ww = Stats.wilcoxonStat(in, "l_returnflag", "x", "y")
        .drop("tie_counts", "sample_size")
      tt.join(ww, Seq("l_returnflag"))
        .withColumn("batch_id", lit("batch_r2"))
        .orderBy("l_returnflag")
    }, Some(
      """WITH d AS (
        |  SELECT l_returnflag AS label,
        |         CAST(l_tax * 100.0 AS DECIMAL(18,2)) -
        |         CAST(l_discount * 100.0 AS DECIMAL(18,2)) AS d
        |  FROM lineitem),
        |a AS (
        |  SELECT label, COUNT(*) AS sample_size, SUM(d) AS sd, SUM(d*d) AS sdd,
        |         MIN(d) AS min_d, MAX(d) AS max_d
        |  FROM d GROUP BY label),
        |nz AS (SELECT label, d, ABS(d) AS ad FROM d WHERE d <> 0),
        |ranked AS (
        |  SELECT label, d,
        |         RANK() OVER (PARTITION BY label ORDER BY ad) +
        |         (COUNT(*) OVER (PARTITION BY label, ad) - 1) / 2.0 AS r
        |  FROM nz),
        |agg AS (
        |  SELECT label,
        |         SUM(CASE WHEN d > 0 THEN r ELSE 0.0 END) AS w_plus,
        |         SUM(CASE WHEN d < 0 THEN r ELSE 0.0 END) AS w_minus,
        |         COUNT(*) AS n_nonzero
        |  FROM ranked GROUP BY label)
        |SELECT a.label AS l_returnflag, a.sample_size,
        |       ROUND(CASE WHEN a.sample_size > 1 THEN
        |         (CAST(sd AS DOUBLE) / CAST(a.sample_size AS DOUBLE)) /
        |         SQRT((CASE WHEN min_d <> max_d THEN
        |                 (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(a.sample_size AS DOUBLE))
        |                 / (CAST(a.sample_size AS DOUBLE) - 1.0)
        |               ELSE NULL END) / CAST(a.sample_size AS DOUBLE))
        |       ELSE -99999.0 END, 8) AS t_stat,
        |       COALESCE(g.n_nonzero, 0) AS n_nonzero,
        |       CASE WHEN a.sample_size > 1 AND COALESCE(g.n_nonzero, 0) > 0
        |            THEN LEAST(g.w_plus, g.w_minus) ELSE -99999.0 END AS w_stat,
        |       'batch_r2' AS batch_id
        |FROM a LEFT JOIN agg g USING(label)
        |ORDER BY l_returnflag""".stripMargin)),

    // A5-A9 full gold shape (`tests_statistiques_dpe`): t/W + p-values +
    // batch_id. The p-values (Student-t CDF, signed-rank exact/normal
    // approx) are not DuckDB-expressible, but the query is deterministic
    // for the driver's verify fixture, so the oracle is a literal VALUES
    // set generated from [[dpePinnedSf001]] — the SQL-expressible layer
    // is independently hash-matched as q_dpe_stats_core and the p-value
    // ALGORITHM is pinned by StatsSpec against published critical tables;
    // this pin closes the loop so the registry is 253/253 executable.
    QuerySpec("q_dpe_statistics", (s, dir) => {
      val in = t(s, dir, "lineitem").select(col("l_returnflag"),
        (col("l_tax") * 100.0).as("x"), (col("l_discount") * 100.0).as("y"))
      Stats.dpeStatistics(in, "l_returnflag", "x", "y", batchId = "batch_r1")
        .orderBy("l_returnflag")
    }, Some(dpeStatisticsOracle))
  )
}
