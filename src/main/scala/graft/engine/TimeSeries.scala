package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series diagnostics over ordered per-group series: multi-lag
  * autocorrelation, Bollinger bands, rolling correlation, and seasonal
  * profiles — the monitoring layer over the calendar-spine series the
  * trend screens ([[RankStats]]) already pre-aggregate.
  *
  * Scale discipline: every window partitions by the series key and runs
  * over CALENDAR-bounded daily rows (callers aggregate to the time grid
  * first), window state is exact DECIMAL sums, and only the final scalar
  * formulas run in floating point (identical expression trees on both
  * engines — the q_corr_ols convention).
  */
object TimeSeries {

  /** Autocorrelation function at lags 1..`maxLag` per group, all from
    * ONE window pass: `maxLag` lag() columns materialize side by side
    * over the same (group, order) sort, the (lag, x, y) pairs explode
    * map-side, and one aggregation computes the DECIMAL moment set per
    * (group, lag) — Pearson over the lag pairs (the q_autocorr formula,
    * generalized). Output: group, lag, n, acf (8dp, NULL on degenerate
    * variance). */
  def acfGrid(series: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag=$maxLag")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    val y = col(valueCol).cast("decimal(18,2)")
    // null observations drop BEFORE the lag windows (the series is its
    // observed points): a null y would count in n while vanishing from
    // the sums, corrupting the moments instead of excluding the pair
    val clean = series.where(col(valueCol).isNotNull)
    val lagged = clean.select(
      (col(groupCol).as("g") +: y.as("y") +:
        (1 to maxLag).map(k => lag(y, k).over(w).as(s"x$k"))): _*)
    val pairs = lagged.select(col("g"), col("y"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k).as("lag"), col(s"x$k").as("x"))): _*)).as("p"))
      .select(col("g"), col("p.lag").as("lag"), col("p.x").as("x"),
        col("y"))
      .where(col("x").isNotNull)
    val m = pairs.groupBy(col("g"), col("lag")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val (nd, sxd, syd) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"))
    val num = nd * col("sxy").cast("double") - sxd * syd
    val denx = nd * col("sxx").cast("double") - sxd * sxd
    val deny = nd * col("syy").cast("double") - syd * syd
    m.select(col("g").as(groupCol), col("lag"), col("n"),
      when(denx > 0 && deny > 0,
        round(num / sqrt(denx) / sqrt(deny), 8)).as("acf"))
  }

  /** Bollinger bands: trailing `window`-row mean ± `k`·(sample stddev)
    * per group, with a breach flag where the value leaves the band.
    * Mean and stddev derive from exact DECIMAL window sums
    * (Σx, Σx², n); the band comparison runs on the UNROUNDED doubles —
    * the identical IEEE expression both engines evaluate — and only the
    * displayed band edges round to 8dp. Rows before a full window
    * report NULL bands (no partial-window guesses). Output: group,
    * order, v, mean, lower, upper, breach. */
  def bollinger(series: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, window: Int, k: Double = 2.0): DataFrame = {
    require(window >= 2, s"window=$window")
    val w = Window.partitionBy(col("g")).orderBy(col("o"))
      .rowsBetween(-(window - 1), 0)
    val x = col(valueCol).cast("decimal(18,2)")
    // null rows drop entirely (they would count toward the full-window
    // n while the sums skip them, shifting the bands)
    val withSums = series.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"),
        col(orderCol).as("o"), x.as("v"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("ss", sum(col("v") * col("v")).over(w))
    val nd = col("n").cast("double")
    val mean = col("s").cast("double") / nd
    val variance = (nd * col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double")) /
      (nd * (nd - 1.0))
    val sd = sqrt(variance)
    val full = col("n") === window
    withSums.select(col("g").as(groupCol), col("o").as(orderCol),
      // double output (exact for grid values) — keeps the dumped dtype
      // aligned with the oracle's DECIMAL-sum-to-double conversion
      col("v").cast("double").as("v"),
      when(full, round(mean, 8)).as("mean"),
      when(full, round(mean - lit(k) * sd, 8)).as("lower"),
      when(full, round(mean + lit(k) * sd, 8)).as("upper"),
      when(full, col("v").cast("double") > mean + lit(k) * sd ||
        col("v").cast("double") < mean - lit(k) * sd).as("breach"))
  }

  /** Rolling Pearson correlation between two series over a trailing
    * `window`-row frame per group: five DECIMAL window sums feed the
    * same moment formula as [[acfGrid]]. Output: group, order, n,
    * corr (8dp; NULL before a full window or on zero variance). */
  def rollingCorr(series: DataFrame, groupCol: String, orderCol: String,
      xCol: String, yCol: String, window: Int): DataFrame = {
    require(window >= 2, s"window=$window")
    val w = Window.partitionBy(col("g")).orderBy(col("o"))
      .rowsBetween(-(window - 1), 0)
    val x = col(xCol).cast("decimal(18,2)")
    val y = col(yCol).cast("decimal(18,2)")
    // listwise null exclusion (the bollinger rule, on both series)
    val withSums = series
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("g"),
        col(orderCol).as("o"), x.as("x"), y.as("y"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
    val nd = col("n").cast("double")
    val num = nd * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val denx = nd * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val deny = nd * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    withSums.select(col("g").as(groupCol), col("o").as(orderCol),
      col("n"),
      when(col("n") === window && denx > 0 && deny > 0,
        round(num / sqrt(denx) / sqrt(deny), 8)).as("corr"))
  }

  /** Exponentially time-decayed top-k: items ranked by
    * Σ value · 2^(−days_ago), the trending-items scoring with a
    * ONE-DAY half-life on the day grid. The decay is EXACT integer
    * arithmetic: weights are 2^(maxExp − days_ago) units (zero beyond
    * `maxExp` days — 2^-50 is far below any ranking-relevant mass), so
    * the weighted sums are exact DECIMAL integers and the final score
    * divides by 2^maxExp once, in double. One scalar max-day row
    * broadcasts; one aggregation; TakeOrdered top-k. Output: item,
    * decayed (8dp), by (decayed DESC, item). */
  def decayedTopK(df: DataFrame, itemCol: String, dayCol: Column,
      valueCents: Column, topK: Int = 20, maxExp: Int = 50): DataFrame = {
    require(maxExp >= 1 && maxExp <= 60, s"maxExp=$maxExp")
    val base = df.select(col(itemCol).as("item"), dayCol.as("day"),
      valueCents.cast("decimal(18,0)").as("cents"))
    val maxDay = base.agg(max(col("day")).as("max_day"))
    base.crossJoin(broadcast(maxDay))
      .withColumn("__ago", (col("max_day") - col("day")).cast("int"))
      .select(col("item"),
        when(col("__ago") >= 0 && col("__ago") <= maxExp,
          col("cents") *
            expr(s"shiftleft(1L, $maxExp - __ago)").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)")).as("w"))
      .groupBy(col("item"))
      .agg(sum(col("w")).as("s"))
      .select(col("item"),
        round(col("s").cast("double") / math.pow(2.0, maxExp), 8)
          .as("decayed"))
      .orderBy(col("decayed").desc, col("item"))
      .limit(topK)
  }

  /** Seasonal profile: mean value per (group, season bucket) as an
    * INDEX against the group's overall mean (1.0 = no seasonality).
    * Means are exact-DECIMAL-sum / count doubles; the index is their
    * ratio — one grouped aggregation plus a group-total join. Output:
    * group, season, n, season_mean, season_index (8dp). */
  def seasonalProfile(df: DataFrame, groupCol: String, seasonCol: Column,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("decimal(18,2)")
    val per = df.where(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("g"), seasonCol.as("season"))
      .agg(count(lit(1)).as("n"), sum(x).as("s"))
    val tot = per.groupBy(col("g"))
      .agg(sum(col("n")).as("tn"), sum(col("s")).as("ts"))
    val seasonMean = col("s").cast("double") / col("n").cast("double")
    val totalMean = col("ts").cast("double") / col("tn").cast("double")
    per.join(broadcast(tot), "g")
      .select(col("g").as(groupCol), col("season"), col("n"),
        round(seasonMean, 8).as("season_mean"),
        when(totalMean > 0.0, round(seasonMean / totalMean, 8))
          .as("season_index"))
  }

  /** Last-touch attribution: each conversion event credits the most
    * recent preceding touch event (by the total order ts, id) within
    * `windowDays` days — the standard marketing-attribution join,
    * expressed as ONE running-last window over the user's own ordered
    * stream (the asofJoinBackward shape: union-free because touches
    * and conversions share the event table). Touch payload travels as
    * one struct (never per-column last() — the multi-column stitch
    * hazard). Output per touch type (or '(none)'): n_conversions,
    * total_value (exact DECIMAL cents → double). */
  def lastTouchAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String, valueCol: String,
      touchTypes: Seq[String], conversionType: String,
      windowDays: Int): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol).isInCollection(touchTypes),
      struct(col(tsCol).as("ts"), col(idCol).as("id"),
        col(typeCol).as("typ")))
    // a NULL ts cannot participate in "most recent preceding" (and the
    // two engines would order it differently: Spark NULLS FIRST vs
    // DuckDB NULLS LAST) — listwise-drop it before the running window
    val attributed = events
      .where(col(tsCol).isNotNull)
      .withColumn("__last_touch", last(touch, ignoreNulls = true).over(w))
      .where(col(typeCol) === conversionType)
      .select(col(valueCol).cast("decimal(18,2)").as("v"),
        when(col("__last_touch").isNotNull &&
            col("__last_touch.ts") >=
              col(tsCol) - expr(s"INTERVAL $windowDays DAYS"),
          col("__last_touch.typ")).otherwise(lit("(none)"))
          .as("touch_type"))
    attributed.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("v")).cast("double"), 8).as("total_value"))
  }

  /** Seasonal anomaly screen: per (group, season) cell mean/SD from
    * exact DECIMAL sums, and the count of observations outside
    * mean ± k·SD — the "unusual for a Tuesday" detector (a global
    * z-score would miss in-season outliers and flag normal weekend
    * peaks). Two passes over the data (cell moments, then the flag
    * count), both map-side combinable; the threshold compare runs on
    * the shared unrounded doubles. Output: group, season, n, mean, sd,
    * n_anomalies. */
  def seasonalAnomalies(df: DataFrame, groupCol: String,
      seasonCol: Column, valueCol: String, k: Double = 3.0): DataFrame = {
    val x = col(valueCol).cast("decimal(18,2)")
    val base = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), seasonCol.as("season"), x.as("v"))
    val cells = base.groupBy(col("g"), col("season"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"))
    val nd = col("n").cast("double")
    val mean = col("s").cast("double") / nd
    val sd = sqrt((nd * col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double")) /
      (nd * (nd - 1.0)))
    val withStats = cells.select(col("g"), col("season"), col("n"),
      when(col("n") > 1, mean).as("mean"),
      when(col("n") > 1, sd).as("sd"))
    base.join(withStats, Seq("g", "season"))
      .groupBy(col("g"), col("season"), col("n"), col("mean"), col("sd"))
      .agg(sum(when(col("sd").isNotNull && col("sd") > 0.0 &&
        abs(col("v").cast("double") - col("mean")) >
          lit(k) * col("sd"), 1L).otherwise(0L)).as("n_anomalies"))
      .select(col("g").as(groupCol), col("season"), col("n"),
        round(col("mean"), 8).as("mean"), round(col("sd"), 8).as("sd"),
        col("n_anomalies"))
  }

  /** Burstiness of inter-event gaps (Goh & Barabási 2008): per group,
    * the coefficient of variation of inter-arrival times and the
    * bounded burstiness score B = (σ−μ)/(σ+μ) ∈ [−1, 1] (−1 periodic,
    * 0 Poisson, → 1 bursty) — the temporal texture of an event stream.
    * Gaps form per (sequence key) with one lag window (exact integer
    * epoch-micros differences), then aggregate per group with DECIMAL
    * moment sums (gap² ≤ 1e24 — DECIMAL(38,0)). Output: group,
    * n_gaps, mean_gap_s (8dp), cv (8dp), burstiness (8dp; NULL when
    * degenerate). */
  def burstiness(events: DataFrame, seqCols: Seq[String],
      groupCol: String, tsCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(seqCols.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    // listwise-null on the ORDER key: a NULL ts has no place in a gap
    // sequence, and engines disagree on where it sorts (Spark ASC =
    // NULLS FIRST, DuckDB = NULLS LAST), which would silently change the
    // neighbor structure — drop it before the window on both sides
    val gaps = events
      .where(col(tsCol).isNotNull)
      .withColumn("__us", unix_micros(col(tsCol).cast("timestamp")))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .where(col("__gap").isNotNull)
      .select(col(groupCol).as("g"), col("__gap").as("gap"))
    val m = gaps.groupBy(col("g")).agg(
      count(lit(1)).as("n_gaps"),
      sum(col("gap").cast("decimal(38,0)")).as("s"),
      sum(col("gap").cast("decimal(19,0)") *
        col("gap").cast("decimal(19,0)")).as("ss"))
    val nd = col("n_gaps").cast("double")
    val mean = col("s").cast("double") / nd
    // gap² sums exceed 2^53 (epoch-micros squares), so the double
    // moment difference carries rounding noise of EITHER sign for
    // near-constant gaps — sqrt stays INSIDE the variance>0 guard on
    // both engines (an eager SQRT(negative) would NaN here and ERROR
    // in DuckDB), and both guards test the same variance expression
    val variance = (nd * col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double")) /
      (nd * (nd - 1.0))
    val sd = sqrt(variance)
    m.select(col("g").as(groupCol), col("n_gaps"),
      round(mean / 1000000.0, 8).as("mean_gap_s"),
      when(col("n_gaps") > 1 && mean > 0.0 && variance > 0.0,
        round(sd / mean, 8)).as("cv"),
      when(col("n_gaps") > 1 && variance > 0.0 && mean > 0.0,
        round((sd - mean) / (sd + mean), 8)).as("burstiness"))
  }

  /** Sessionization: the gaps-and-islands window formulation — a
    * session break is a gap > gapMs from the previous event of the same
    * user (a gap of exactly gapMs stays in the session); session id =
    * running count of breaks, and every session closes at the end of the
    * input. Input: user_id, ts, event_id (the tiebreak), value.
    * Output: user_id, session_start, session_end, n_events, total_value. */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts"))
    val newSession = when(
      lag(us, 1).over(order).isNull ||
        us - lag(us, 1).over(order) > gapMs * 1000L, 1L).otherwise(0L)
    events
      .withColumn("__brk", newSession)
      .withColumn("__sid", sum(col("__brk")).over(running))
      .groupBy(col("user_id"), col("__sid"))
      .agg(
        min(col("ts")).cast("timestamp_ntz").as("session_start"),
        max(col("ts")).cast("timestamp_ntz").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .drop("__sid")
  }

  /** Local-maximum peak detection over an ordered per-group series:
    * points strictly above both neighbors AND above `factor`× the
    * group mean (the prominence floor that keeps noise wiggles out) —
    * the alerting primitive over daily volumes. One lag/lead window +
    * a broadcast per-group mean; neighbor compares are exact DECIMAL,
    * the prominence compare is the shared double expression. Output:
    * group, order, v, peak rows only. */
  def peaks(series: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, factor: Double = 1.2): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("o"))
    val base = series.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(orderCol).as("o"),
        col(valueCol).cast("decimal(18,2)").as("v"))
    val means = base.groupBy(col("g"))
      .agg((sum(col("v")).cast("double") / count(lit(1))).as("gmean"))
    base
      .withColumn("prev", lag(col("v"), 1).over(w))
      .withColumn("next", lead(col("v"), 1).over(w))
      .join(broadcast(means), "g")
      .where(col("prev").isNotNull && col("next").isNotNull &&
        col("v") > col("prev") && col("v") > col("next") &&
        col("v").cast("double") > lit(factor) * col("gmean"))
      .select(col("g").as(groupCol), col("o").as(orderCol),
        col("v").cast("double").as("v"))
  }

  /** Calendar-gap detection: days in [min, max] of the observed day
    * range with NO data for a group — the "silent feed" screen a
    * freshness monitor runs. The spine is one scalar (min, max) row
    * exploded to the day grid and crossed with the distinct groups
    * (grid × groups rows, calendar-bounded), anti-joined against the
    * observed (group, day) pairs. Output: group, day — missing pairs
    * only. */
  def missingDays(df: DataFrame, groupCol: String, dayCol: Column)
      : DataFrame = {
    val base = df.select(col(groupCol).as("g"), dayCol.as("day"))
      .where(col("g").isNotNull && col("day").isNotNull)
    val range = base.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val spine = range
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val groups = base.select(col("g")).distinct()
    groups.crossJoin(spine)
      .join(base.distinct(), Seq("g", "day"), "left_anti")
      .select(col("g").as(groupCol), col("day"))
  }
  /** Page–Hinkley drift statistic (Page 1954; the PH member of the
    * changepoint pair beside [[graft.engine.Stats]]' CUSUM): per group
    * over an ordered series, m_t = Σ_{s≤t} (x_s − x̄_s − δ) with x̄_s
    * the RUNNING mean, and the drift signal is the peak excursion
    * g_t = m_t − min_{s≤t} m_s — "has the level drifted up by more than
    * δ per step, and when did the evidence peak".
    *
    * Two group-partitioned windows over the CALENDAR-bounded series
    * (the TimeSeries contract): per-step terms rounded to the 8dp grid
    * and cumulated in DECIMAL (order fixed by the idx sort), the
    * running min and the final argmax are exact DECIMAL compares —
    * ties on the peak resolve to the EARLIEST idx (min_by on the
    * (−g, idx) struct). Output per group: group, ph_stat, peak_at. */
  def pageHinkley(df: DataFrame, groupCol: String, idxCol: String,
      valCol: String, delta: Double): DataFrame = {
    require(delta >= 0.0, s"pageHinkley: delta=$delta")
    val base = df
      .where(col(idxCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idxCol).cast("long").as("__i"),
        col(valCol).cast("decimal(18,2)").as("__x"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = base
      .withColumn("__cx", sum(col("__x")).over(w))
      .withColumn("__t", count(lit(1)).over(w))
      .withColumn("__term",
        round(col("__x").cast("double") -
          col("__cx").cast("double") / col("__t").cast("double") -
          lit(delta), 8).cast("decimal(38,8)"))
      // the window sum types as decimal(38,8); a (38,8)−(38,8) subtract
      // needs precision 39, which Spark silently resolves by DROPPING
      // the scale to 7dp (DuckDB keeps 8 and would overflow loudly) —
      // re-bound the operands so the difference stays on the exact 8dp
      // grid on both engines
      .withColumn("__m", sum(col("__term")).over(w).cast("decimal(28,8)"))
      .withColumn("__mn", min(col("__m")).over(w))
      .withColumn("__gt", col("__m") - col("__mn"))
    scored.groupBy(col("__g").as(groupCol))
      .agg(max(col("__gt")).cast("double").as("ph_stat"),
        min_by(col("__i"), struct((-col("__gt")).as("g"),
          col("__i").as("i"))).as("peak_at"))
  }

  /** SAX symbolization (Lin, Keogh, Lonardi & Chiu 2003): piecewise
    * aggregate approximation of a daily series into `chunkDays`-wide
    * chunks, z-normalization of the chunk means, then discretization at
    * the standard-normal quartile breakpoints (±0.6745, 0) into a
    * 4-symbol alphabet a–d — the index-friendly time-series sketch
    * behind motif/anomaly search.
    *
    * One chunk-keyed aggregation over the calendar spine (exact DECIMAL
    * sums), one pass of global moments over the BOUNDED chunk grid
    * (8dp-rounded chunk means summed in DECIMAL, broadcast back via the
    * one-row crossJoin convention), and a literal-breakpoint CASE —
    * everything map-side combinable except the one narrow chunk
    * shuffle. A zero-variance series yields NULL symbols (no z-scale
    * exists) rather than an arbitrary letter. Output per chunk:
    * chunk, n_days, paa, symbol. */
  def saxSymbols(daily: DataFrame, idxCol: String, valCol: String,
      chunkDays: Int): DataFrame = {
    require(chunkDays >= 1, s"saxSymbols: chunkDays=$chunkDays")
    val chunks = daily
      .select(
        expr(s"CAST(FLOOR(CAST($idxCol AS DOUBLE) / $chunkDays.0e0) " +
          "AS BIGINT)").as("chunk"),
        col(valCol).cast("decimal(18,2)").as("__v"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_days"), sum(col("__v")).as("__sv"))
      .withColumn("paa",
        round(col("__sv").cast("double") / col("n_days").cast("double"),
          8))
    val prior = graft.engine.Stats.gridMoments(chunks, "paa")
      .select(col("__mu"),
        when(col("__vr").isNotNull && col("__vr") > 0.0,
          sqrt(col("__vr"))).as("__sd"))
    val z = (col("paa") - col("__mu")) / col("__sd")
    chunks.crossJoin(broadcast(prior))
      .select(col("chunk"), col("n_days"), col("paa"),
        when(col("__sd").isNotNull,
          when(z < -0.6745, lit("a"))
            .when(z < 0.0, lit("b"))
            .when(z < 0.6745, lit("c"))
            .otherwise(lit("d"))).as("symbol"))
  }
  /** Hurst exponent by rescaled-range analysis (Hurst 1951; Mandelbrot
    * & Wallis 1969): for each block size s, the mean ln(R/S) over
    * complete s-day blocks — R the range of cumulative deviations from
    * the block mean, S the block standard deviation — then H = the
    * log-log OLS slope across sizes. H ≈ 0.5 is a random walk,
    * > 0.5 persistent trend, < 0.5 mean reversion — the long-memory
    * screen beside the ACF grid.
    *
    * Scale discipline: block stats are one (size × block)-keyed
    * aggregation joined back (blocks are calendar-bounded); the cumdev
    * window partitions by (size, block); per-block ln(R/S) terms ride
    * the 8dp grid into DECIMAL means; the final OLS runs over the
    * literal size grid. Incomplete tail blocks are excluded (the
    * standard convention — a short block biases R/S down). Output per
    * size: size, n_blocks, ln_rs_mean, hurst (the shared slope, 8dp). */
  def hurstRs(daily: DataFrame, idxCol: String, valCol: String,
      sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(sizes.size >= 2 && sizes.forall(_ >= 2),
      s"hurstRs: sizes=$sizes")
    // NULL rows drop BEFORE the complete-block check: a NULL value
    // would pass count(n) == s while vanishing from the sums, silently
    // shifting the block variance and cumdev (the acfGrid rule)
    val base = daily
      .where(col(idxCol).isNotNull && col(valCol).isNotNull)
      .select(col(idxCol).cast("long").as("__i"),
        col(valCol).cast("decimal(18,2)").as("__x"))
    val sized = base.select(col("__i"), col("__x"),
      explode(array(sizes.map(lit): _*)).as("__s"))
      .withColumn("__blk", expr("__i div __s"))
    val stats = sized.groupBy(col("__s"), col("__blk"))
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"),
        sum((col("__x") * col("__x")).cast("decimal(38,4)")).as("__sxx"))
      .where(col("__n") === col("__s")) // complete blocks only
    val wb = Window.partitionBy(col("__s"), col("__blk"))
      .orderBy(col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // cumdev in exact n-scaled cents (the cusum trick):
    // n·Σ_{j≤i}x − i·Σx = n·(true cumdev_i) — tight decimal widths so
    // the product/difference never hits Spark's precision-38 scale-drop
    // (the pageHinkley lesson; block sums are ≤ 64 daily cent values)
    val dev = sized.join(stats, Seq("__s", "__blk"))
      .withColumn("__cum",
        sum(col("__x")).over(wb).cast("decimal(24,2)") *
          col("__n").cast("decimal(8,0)") -
          count(lit(1)).over(wb).cast("decimal(8,0)") *
            col("__sx").cast("decimal(24,2)"))
    val perBlock = dev.groupBy(col("__s"), col("__blk"),
        col("__n"), col("__sx"), col("__sxx"))
      .agg((max(col("__cum")) - min(col("__cum"))).as("__rn"))
    val nd = col("__n").cast("double")
    val rr = col("__rn").cast("double") / nd // un-scale R by n
    val vr = (col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double") / nd) / nd
    val lnRs = perBlock
      .where(vr > 0.0)
      .select(col("__s"),
        round(log(rr / sqrt(vr)), 8).cast("decimal(38,8)").as("__lrs"))
    val perSize = lnRs.groupBy(col("__s"))
      .agg(count(lit(1)).as("n_blocks"),
        round(sum(col("__lrs")).cast("double") /
          count(lit(1)).cast("double"), 8).as("ln_rs_mean"))
      .withColumn("__lns", round(log(col("__s").cast("double")), 8))
    val mom = perSize.agg(count(lit(1)).as("__m"),
      sum(col("__lns").cast("decimal(38,8)")).as("__sa"),
      sum(col("ln_rs_mean").cast("decimal(38,8)")).as("__sb"),
      sum(round(col("__lns") * col("__lns"), 16).cast("decimal(38,16)"))
        .as("__saa"),
      sum(round(col("__lns") * col("ln_rs_mean"), 16)
        .cast("decimal(38,16)")).as("__sab"))
    val md = col("__m").cast("double")
    val sa = col("__sa").cast("double")
    val sb = col("__sb").cast("double")
    val den = col("__saa").cast("double") - sa * sa / md
    val slope = mom.select(
      when(col("__m") > 1 && den > 0.0,
        round((col("__sab").cast("double") - sa * sb / md) / den, 8))
        .as("hurst"))
    perSize.crossJoin(broadcast(slope))
      .select(col("__s").as("size"), col("n_blocks"),
        col("ln_rs_mean"), col("hurst"))
  }
}
