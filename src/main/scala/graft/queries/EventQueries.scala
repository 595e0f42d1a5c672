package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine.{Tables, TimeSeries}
import graft.llm.Multimodal

/** Event-log and multimodal-metadata queries: tumbling windows and
  * sessions over `events`, JSON scalar extraction, and binary-payload
  * metadata over `documents`. */
object EventQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  def specs: Seq[QuerySpec] = Seq(

    // Per-user EWMA (alpha = 0.5) over the event-time-ordered value
    // series, seeded by the first value. The sequential fold is affine in
    // its seed (out = a + f·seed with f = 0.5^len), so it evaluates as a
    // TWO-LEVEL chunked fold: a row_number window (sort-based, spillable
    // — the per-user-partitioned window pattern of sessionization/CUSUM)
    // slices each series into 1024-event chunks; each (user, chunk)
    // group folds its ≤1024 values into the pair (a = fold from seed 0 —
    // seed x₁ for chunk 0 —, f = 0.5^len, both exact per step); the
    // per-user combine then folds the CHUNK summaries in chunk order
    // (acc = a_c + f_c·acc). Per-task aggregation state is bounded at
    // 1024 values (level 1) / n/1024 summaries (level 2) — a 10⁸-event
    // hot key holds ~100k small structs (~2 MB), never the multi-GB
    // full series a single collect_list would buffer. Both engines
    // evaluate the identical chunked association (0.5 scaling is exact;
    // add/mul order pinned), so the doubles stay bit-identical.
    QuerySpec("q_ewma", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val chunks = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("chunk", expr("CAST((rn - 1) div 1024 AS BIGINT)"))
        .groupBy("user_id", "chunk")
        .agg(sort_array(collect_list(struct(col("rn"), col("value"))))
            .as("__evs"),
          count(lit(1)).as("n"))
        .withColumn("__vals",
          transform(col("__evs"), x => x.getField("value")))
        .select(col("user_id"), col("chunk"), col("n"),
          when(col("chunk") === 0,
            aggregate(
              slice(col("__vals"), lit(2),
                greatest(size(col("__vals")) - 1, lit(0))),
              element_at(col("__vals"), 1),
              (acc, x) => x * lit(0.5) + acc * lit(0.5)))
          .otherwise(
            aggregate(col("__vals"), lit(0.0d),
              (acc, x) => x * lit(0.5) + acc * lit(0.5))).as("a"),
          aggregate(col("__vals"), lit(1.0d),
            (acc, _) => acc * lit(0.5)).as("f"))
      chunks.groupBy("user_id")
        .agg(sum(col("n")).as("n_events"),
          sort_array(collect_list(
            struct(col("chunk"), col("a"), col("f")))).as("__cs"))
        .select(col("user_id"), col("n_events"),
          round(aggregate(
            slice(col("__cs"), lit(2),
              greatest(size(col("__cs")) - 1, lit(0))),
            element_at(col("__cs"), 1).getField("a"),
            (acc, x) => x.getField("a") + x.getField("f") * acc), 8)
            .as("ewma"))
        .orderBy("user_id")
    }, Some(
      """WITH r AS (
        |  SELECT user_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events),
        |ch AS (
        |  SELECT user_id, (rn - 1) // 1024 AS chunk, COUNT(*) AS n,
        |         list(value ORDER BY rn) AS vals
        |  FROM r GROUP BY user_id, (rn - 1) // 1024),
        |cf AS (
        |  SELECT user_id, chunk, n,
        |         CASE WHEN chunk = 0
        |              THEN list_reduce(vals, (acc, x) -> x * 0.5 + acc * 0.5)
        |              ELSE list_reduce(
        |                     list_prepend(CAST(0.0 AS DOUBLE), vals),
        |                     (acc, x) -> x * 0.5 + acc * 0.5)
        |         END AS a,
        |         list_reduce(list_prepend(CAST(1.0 AS DOUBLE), vals),
        |                     (acc, x) -> acc * 0.5) AS f
        |  FROM ch),
        |u AS (
        |  SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
        |         list({'chunk': chunk, 'a': a, 'f': f} ORDER BY chunk) AS cs
        |  FROM cf GROUP BY user_id)
        |SELECT user_id, n_events,
        |       ROUND(list_reduce(cs,
        |               (acc, x) -> {'chunk': x.chunk,
        |                            'a': x.a + x.f * acc.a,
        |                            'f': x.f}).a, 8) AS ewma
        |FROM u ORDER BY user_id""".stripMargin)),

    // Tumbling 1-hour window aggregation.
    QuerySpec("q_window_hourly", (s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        // naive (NTZ) micros = DuckDB's timestamp representation exactly
        .withColumn("hour", col("hour").cast("timestamp_ntz"))
        .orderBy("hour", "event_type")
    }, Some(
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY hour, event_type""".stripMargin), headline = true),

    // Sliding 1-hour/30-minute windows: every event lands in exactly
    // len/slide = 2 windows; the oracle mirrors Spark's epoch-aligned
    // window grid by exploding each event to its two window starts in
    // exact integer microsecond arithmetic.
    QuerySpec("q_window_sliding", (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("window.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("win_start", "event_type")
    }, Some(
      """WITH base AS (
        |  SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |w AS (
        |  SELECT unnest([us - (us % 1800000000),
        |                 us - (us % 1800000000) - 1800000000]) AS win_us,
        |         event_type, value
        |  FROM base)
        |SELECT make_timestamp(win_us) AS win_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY win_us, event_type
        |ORDER BY win_start, event_type""".stripMargin)),

    // Sessionization (gaps-and-islands windows): 30-minute gap sessions
    // per user over the event log.
    QuerySpec("q_sessions_batch", (s, dir) => {
      TimeSeries.sessionizeBatch(events(s, dir),
          gapMs = 30 * 60 * 1000L)
        .orderBy("user_id", "session_start")
    }, Some(
      """WITH base AS (
        |  -- epoch microseconds: the exact values Spark sees (ns div 1000)
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |e AS (
        |  SELECT user_id, event_id, us, value,
        |         CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sid AS (
        |  SELECT user_id, us, value,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS s
        |  FROM e)
        |SELECT user_id,
        |       make_timestamp(MIN(us)) AS session_start,
        |       make_timestamp(MAX(us)) AS session_end,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM sid GROUP BY user_id, s
        |ORDER BY user_id, session_start""".stripMargin), headline = true),

    // Hourly resample + forward fill per user (pandas resample().ffill()
    // shape): per-key spine from the key's own activity span, keep-last
    // bucket representative, one running last(ignoreNulls) fill window.
    QuerySpec("q_resample_ffill", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .where(col("event_type") === "purchase")
      graft.engine.Resample.resampleFfill(ev, Seq("user_id"), "us",
          "event_id", "value", stepUs = 3600000000L)
        .select(col("user_id"),
          timestamp_micros(col("bucket_us")).cast("timestamp_ntz").as("hour"),
          col("value_ffill"))
        .orderBy("user_id", "hour")
    }, Some(
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value
        |  FROM events WHERE event_type = 'purchase'),
        |pts AS (
        |  SELECT user_id, us - us % 3600000000 AS hr, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, us - us % 3600000000
        |                            ORDER BY us DESC, event_id DESC) AS rn
        |  FROM base),
        |p AS (SELECT user_id, hr, value FROM pts WHERE rn = 1),
        |b AS (SELECT user_id, MIN(us - us % 3600000000) AS lo,
        |             MAX(us - us % 3600000000) AS hi
        |      FROM base GROUP BY user_id),
        |spine AS (
        |  SELECT user_id, unnest(range(lo, hi + 3600000000, 3600000000)) AS hr
        |  FROM b),
        |j AS (SELECT s.user_id, s.hr, p.value
        |      FROM spine s LEFT JOIN p USING (user_id, hr))
        |SELECT user_id, make_timestamp(hr) AS hour,
        |       LAST_VALUE(value IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY hr
        |               ROWS UNBOUNDED PRECEDING) AS value_ffill
        |FROM j ORDER BY user_id, hour""".stripMargin)),

    // Ordered funnel (view → click-after-view → purchase-after-click):
    // per-stage MIN-timestamp aggregation, each stage a narrow join on
    // user_id against the previous stage's 1-row-per-user frame — never a
    // per-user event sort or a sequence UDF.
    QuerySpec("q_funnel", (s, dir) => {
      val ev = events(s, dir).withColumn("us", unix_micros(col("ts")))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val c = ev.where(col("event_type") === "click")
        .join(v, "user_id").where(col("us") > col("t1"))
        .groupBy("user_id").agg(min(col("us")).as("t2"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("us") > col("t2"))
        .groupBy("user_id").agg(min(col("us")).as("t3"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
        .orderBy("user_id")
    }, Some(
      """WITH base AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS t1 FROM base
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT b.user_id, MIN(us) AS t2 FROM base b JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us > t1 GROUP BY b.user_id),
        |p AS (SELECT b.user_id, MIN(us) AS t3 FROM base b JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us > t2 GROUP BY b.user_id)
        |SELECT user_id, t1, t2, t3
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin)),

    // First-order Markov transition matrix over event-type sequences
    // (per-user lead() pairs — the q_event_trigrams machinery at order
    // 1, normalized to probabilities): the behavioral fingerprint whose
    // drift q_js_drift monitors at the token level. Exact pair counts,
    // one division at the end.
    QuerySpec("q_markov_trans", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("from_type"))
        .agg(sum(col("n")).as("__tot"))
      pairs.join(totals, Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("__tot").cast("double"), 8)
            .as("p"))
        .orderBy("from_type", "to_type")
    }, Some(
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |p AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL
        |  GROUP BY from_type, to_type),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
        |      FROM p GROUP BY from_type)
        |SELECT p.from_type, p.to_type, p.n,
        |       ROUND(CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 8) AS p
        |FROM p JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin)),

    // Time-bounded funnel: the q_funnel path with a CONVERSION WINDOW —
    // each stage must fire within 1 hour of the previous one, the
    // attribution rule real funnels use (an unbounded funnel credits a
    // purchase weeks after the click). Same earliest-qualifying-event
    // shape, one extra integer bound per stage.
    QuerySpec("q_funnel_window", (s, dir) => {
      val win = 3600000000L
      val ev = events(s, dir).withColumn("us", unix_micros(col("ts")))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val c = ev.where(col("event_type") === "click")
        .join(v, "user_id")
        .where(col("us") > col("t1") && col("us") <= col("t1") + win)
        .groupBy("user_id").agg(min(col("us")).as("t2"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, "user_id")
        .where(col("us") > col("t2") && col("us") <= col("t2") + win)
        .groupBy("user_id").agg(min(col("us")).as("t3"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
        .orderBy("user_id")
    }, Some(
      """WITH base AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS t1 FROM base
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT b.user_id, MIN(us) AS t2 FROM base b JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND us > t1
        |        AND us <= t1 + 3600000000 GROUP BY b.user_id),
        |p AS (SELECT b.user_id, MIN(us) AS t3 FROM base b JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND us > t2
        |        AND us <= t2 + 3600000000 GROUP BY b.user_id)
        |SELECT user_id, t1, t2, t3
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin)),

    // Lag-1 autocorrelation of each event type's value series (pairs
    // formed WITHIN a user's own sequence): the time-series memory
    // diagnostic — near 0 for i.i.d. readings, near 1 for sticky
    // metrics. One lag() window over the (user, type) partition, then
    // the exact DECIMAL moment formula of q_corr_ols over the pairs.
    QuerySpec("q_autocorr", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value").cast("decimal(18,2)").as("y"))
        .withColumn("x", lag(col("y"), 1).over(w))
        .filter(col("x").isNotNull)
      val m = pairs.groupBy(col("event_type")).agg(
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
      m.select(col("event_type"), col("n"),
          when(denx > 0 && deny > 0,
            round(num / sqrt(denx) / sqrt(deny), 8)).as("autocorr"))
        .orderBy("event_type")
    }, Some(
      """WITH p AS (
        |  SELECT event_type,
        |         LAG(CAST(value AS DECIMAL(18,2)), 1)
        |           OVER (PARTITION BY user_id, event_type
        |                 ORDER BY ts, event_id) AS x,
        |         CAST(value AS DECIMAL(18,2)) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        |  FROM p WHERE x IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n,
        |       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |             AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |            THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                       / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                       / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
        |                       8)
        |            END AS autocorr
        |FROM m ORDER BY event_type""".stripMargin)),

    // Time-weighted average value per user (the TWAP shape): each reading
    // holds until the user's next event, so it weighs by its interval —
    // the irregular-sampling mean a plain AVG gets wrong. One lead()
    // window over the user partition, then exact DECIMAL interval-weighted
    // sums; the only float step is the final division, 8dp-rounded.
    QuerySpec("q_twap", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .select(col("user_id"), (col("next_us") - col("us")).as("dt"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy("user_id")
        .agg(sum(col("v") * col("dt").cast("decimal(19,0)")).as("wv"),
          sum(col("dt")).as("span_us"))
        .select(col("user_id"), col("span_us"),
          when(col("span_us") > 0,
            round(col("wv").cast("double") / col("span_us").cast("double"), 8))
            .as("twap"))
        .orderBy("user_id")
    }, Some(
      """WITH s AS (
        |  SELECT user_id,
        |         epoch_us(ts) AS us,
        |         LEAD(epoch_us(ts), 1)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |g AS (
        |  SELECT user_id,
        |         SUM(v * CAST(next_us - us AS DECIMAL(19,0))) AS wv,
        |         CAST(SUM(next_us - us) AS BIGINT) AS span_us
        |  FROM s WHERE next_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, span_us,
        |       CASE WHEN span_us > 0
        |            THEN ROUND(CAST(wv AS DOUBLE) / CAST(span_us AS DOUBLE), 8)
        |            END AS twap
        |FROM g ORDER BY user_id""".stripMargin)),

    // Longest consecutive-day activity streak per user (gaps-and-islands
    // over DISTINCT activity days): the engagement metric behind "N-day
    // streak" features. Day indices are exact integer epoch-day floor
    // divisions; one user-keyed sort, islands by prefix sum.
    QuerySpec("q_streaks", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val days = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val brk = when(lag(col("day"), 1).over(w).isNull ||
        col("day") - lag(col("day"), 1).over(w) > 1, 1L).otherwise(0L)
      days
        .withColumn("__isl", sum(brk).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("__isl"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    }, Some(
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |b AS (
        |  SELECT user_id, day,
        |         CASE WHEN LAG(day) OVER (PARTITION BY user_id ORDER BY day)
        |                   IS NULL
        |                OR day - LAG(day) OVER (PARTITION BY user_id
        |                                        ORDER BY day) > 1
        |              THEN 1 ELSE 0 END AS brk
        |  FROM days),
        |i AS (
        |  SELECT user_id, day,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY day
        |                        ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM b),
        |st AS (SELECT user_id, isl, COUNT(*) AS len
        |       FROM i GROUP BY user_id, isl)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |       CAST(MAX(len) AS BIGINT) AS longest_streak,
        |       COUNT(*) AS n_streaks
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // RFM segmentation (recency/frequency/monetary quintile scores over
    // purchase events): scores come from broadcast exact-percentile
    // cuts + map-side comparisons — NOT a global ntile window, which
    // would single-partition-sort all users at scale. Score 5 = best
    // (most recent / most frequent / highest spend).
    QuerySpec("q_rfm", (s, dir) => {
      val p = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("value").cast("decimal(18,2)").as("v"))
      val base = p.groupBy("user_id")
        .agg(max(col("us")).as("last_us"), count(lit(1)).as("frequency"),
          sum(col("v")).as("__mon"))
      val gmax = p.agg(max(col("us")).as("__gmax"))
      val withRec = base.crossJoin(broadcast(gmax))
        .withColumn("recency_days",
          expr("(__gmax - last_us) div 86400000000"))
        .withColumn("monetary", col("__mon").cast("double"))
      val cuts = withRec.agg(
        percentile(col("recency_days"), lit(0.2)).as("r20"),
        percentile(col("recency_days"), lit(0.4)).as("r40"),
        percentile(col("recency_days"), lit(0.6)).as("r60"),
        percentile(col("recency_days"), lit(0.8)).as("r80"),
        percentile(col("frequency"), lit(0.2)).as("f20"),
        percentile(col("frequency"), lit(0.4)).as("f40"),
        percentile(col("frequency"), lit(0.6)).as("f60"),
        percentile(col("frequency"), lit(0.8)).as("f80"),
        percentile(col("monetary"), lit(0.2)).as("m20"),
        percentile(col("monetary"), lit(0.4)).as("m40"),
        percentile(col("monetary"), lit(0.6)).as("m60"),
        percentile(col("monetary"), lit(0.8)).as("m80"))
      def up(c: String, q: Seq[String]) =
        q.map(t => when(col(c).cast("double") > col(t), 1L).otherwise(0L))
          .reduce(_ + _) + 1L
      def down(c: String, q: Seq[String]) =
        q.map(t => when(col(c).cast("double") <= col(t), 1L).otherwise(0L))
          .reduce(_ + _) + 1L
      withRec.crossJoin(broadcast(cuts))
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary"),
          down("recency_days", Seq("r20", "r40", "r60", "r80")).as("r_score"),
          up("frequency", Seq("f20", "f40", "f60", "f80")).as("f_score"),
          up("monetary", Seq("m20", "m40", "m60", "m80")).as("m_score"))
        .orderBy("user_id")
    }, Some(
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT user_id, MAX(us) AS last_us, COUNT(*) AS frequency,
        |         SUM(v) AS mon
        |  FROM p GROUP BY user_id),
        |g AS (SELECT MAX(us) AS gmax FROM p),
        |wr AS (
        |  SELECT user_id, (gmax - last_us) // 86400000000 AS recency_days,
        |         frequency, CAST(mon AS DOUBLE) AS monetary
        |  FROM b CROSS JOIN g),
        |c AS (
        |  SELECT quantile_cont(CAST(recency_days AS DOUBLE), 0.2) AS r20,
        |         quantile_cont(CAST(recency_days AS DOUBLE), 0.4) AS r40,
        |         quantile_cont(CAST(recency_days AS DOUBLE), 0.6) AS r60,
        |         quantile_cont(CAST(recency_days AS DOUBLE), 0.8) AS r80,
        |         quantile_cont(CAST(frequency AS DOUBLE), 0.2) AS f20,
        |         quantile_cont(CAST(frequency AS DOUBLE), 0.4) AS f40,
        |         quantile_cont(CAST(frequency AS DOUBLE), 0.6) AS f60,
        |         quantile_cont(CAST(frequency AS DOUBLE), 0.8) AS f80,
        |         quantile_cont(monetary, 0.2) AS m20,
        |         quantile_cont(monetary, 0.4) AS m40,
        |         quantile_cont(monetary, 0.6) AS m60,
        |         quantile_cont(monetary, 0.8) AS m80
        |  FROM wr)
        |SELECT user_id, recency_days, frequency, monetary,
        |       CAST(CASE WHEN CAST(recency_days AS DOUBLE) <= r20 THEN 1 ELSE 0 END
        |            + CASE WHEN CAST(recency_days AS DOUBLE) <= r40 THEN 1 ELSE 0 END
        |            + CASE WHEN CAST(recency_days AS DOUBLE) <= r60 THEN 1 ELSE 0 END
        |            + CASE WHEN CAST(recency_days AS DOUBLE) <= r80 THEN 1 ELSE 0 END
        |            + 1 AS BIGINT) AS r_score,
        |       CAST(CASE WHEN CAST(frequency AS DOUBLE) > f20 THEN 1 ELSE 0 END
        |            + CASE WHEN CAST(frequency AS DOUBLE) > f40 THEN 1 ELSE 0 END
        |            + CASE WHEN CAST(frequency AS DOUBLE) > f60 THEN 1 ELSE 0 END
        |            + CASE WHEN CAST(frequency AS DOUBLE) > f80 THEN 1 ELSE 0 END
        |            + 1 AS BIGINT) AS f_score,
        |       CAST(CASE WHEN monetary > m20 THEN 1 ELSE 0 END
        |            + CASE WHEN monetary > m40 THEN 1 ELSE 0 END
        |            + CASE WHEN monetary > m60 THEN 1 ELSE 0 END
        |            + CASE WHEN monetary > m80 THEN 1 ELSE 0 END
        |            + 1 AS BIGINT) AS m_score
        |FROM wr CROSS JOIN c
        |ORDER BY user_id""".stripMargin)),

    // Linear-interpolation resample (pandas resample().interpolate()):
    // empty hourly buckets take the straight line between surrounding
    // observed points instead of the staircase hold of q_resample_ffill.
    // Same spine shape; the fill is two running windows over one sort.
    QuerySpec("q_resample_interp", (s, dir) => {
      val ev = events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .where(col("event_type") === "purchase")
      graft.engine.Resample.resampleInterp(ev, Seq("user_id"), "us",
          "event_id", "value", stepUs = 3600000000L)
        .select(col("user_id"),
          timestamp_micros(col("bucket_us")).cast("timestamp_ntz").as("hour"),
          col("value_interp"))
        .orderBy("user_id", "hour")
    }, Some(
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value
        |  FROM events WHERE event_type = 'purchase'),
        |pts AS (
        |  SELECT user_id, us - us % 3600000000 AS hr, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, us - us % 3600000000
        |                            ORDER BY us DESC, event_id DESC) AS rn
        |  FROM base),
        |p AS (SELECT user_id, hr, value FROM pts WHERE rn = 1),
        |b AS (SELECT user_id, MIN(us - us % 3600000000) AS lo,
        |             MAX(us - us % 3600000000) AS hi
        |      FROM base GROUP BY user_id),
        |spine AS (
        |  SELECT user_id, unnest(range(lo, hi + 3600000000, 3600000000)) AS hr
        |  FROM b),
        |j AS (SELECT s.user_id, s.hr, p.value
        |      FROM spine s LEFT JOIN p USING (user_id, hr)),
        |w AS (
        |  SELECT user_id, hr, value,
        |         LAST_VALUE(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |                    IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY hr
        |                 ROWS UNBOUNDED PRECEDING) AS pv,
        |         LAST_VALUE(CASE WHEN value IS NOT NULL THEN hr END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY hr
        |                 ROWS UNBOUNDED PRECEDING) AS pb,
        |         FIRST_VALUE(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |                     IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY hr
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |         FIRST_VALUE(CASE WHEN value IS NOT NULL THEN hr END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY hr
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        |  FROM j),
        |g AS (
        |  SELECT user_id, hr, value,
        |         (hr - pb) // 3600000000 AS h,
        |         (nb - pb) // 3600000000 AS bigh, pv, nv
        |  FROM w)
        |SELECT user_id, make_timestamp(hr) AS hour,
        |       CASE WHEN value IS NOT NULL THEN value
        |            ELSE CAST((2 * CAST(pv * (bigh - h) + nv * h AS HUGEINT)
        |                         * 100000000
        |                       + 100 * bigh) // (200 * bigh) AS DOUBLE)
        |                 / 100000000.0
        |            END AS value_interp
        |FROM g ORDER BY user_id, hour""".stripMargin)),

    // Interval-union coverage per event type (gaps-and-islands with a
    // running-max boundary): actual busy wall-clock vs the double-
    // counting duration SUM — the merge dual of q_peak's concurrency
    // sweep over the same synthesized [ts, ts + value·1s) intervals.
    //
    // Oracle windows carry event_id as a total-order tiebreaker: with
    // exact duplicate (s_us, e_us) rows (replicated fixtures), brk is
    // computed in one window pass and cumsum'd in ANOTHER — without a
    // unique key the tie order between the two sorts is undefined, so a
    // brk=0 duplicate can precede its brk=1 twin in the second pass and
    // be absorbed into the PREVIOUS island, inflating its extent. The
    // engine is immune (both exprs share one Window spec = one physical
    // sort), root-caused on the round-5 generated fixture.
    QuerySpec("q_interval_merge", (s, dir) => {
      val iv = events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            round(col("value") * 1e6).cast("long")).as("e_us"))
      graft.engine.Intervals.mergeCoverage(iv, "event_type", "s_us", "e_us")
        .orderBy("event_type")
    }, Some(
      """WITH iv AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS s_us,
        |         epoch_us(ts) + CAST(ROUND(value * 1000000) AS BIGINT) AS e_us
        |  FROM events),
        |pm AS (
        |  SELECT event_type, event_id, s_us, e_us,
        |         MAX(e_us) OVER (PARTITION BY event_type
        |                         ORDER BY s_us, e_us, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING
        |                              AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |br AS (
        |  SELECT event_type, event_id, s_us, e_us,
        |         CASE WHEN prev_max IS NULL OR s_us > prev_max
        |              THEN 1 ELSE 0 END AS brk
        |  FROM pm),
        |isl AS (
        |  SELECT event_type, s_us, e_us,
        |         SUM(brk) OVER (PARTITION BY event_type
        |                        ORDER BY s_us, e_us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS island
        |  FROM br),
        |gi AS (
        |  SELECT event_type, island, COUNT(*) AS n,
        |         MIN(s_us) AS i_s, MAX(e_us) AS i_e
        |  FROM isl GROUP BY event_type, island)
        |SELECT event_type,
        |       CAST(SUM(n) AS BIGINT) AS n_intervals,
        |       COUNT(*) AS n_islands,
        |       CAST(SUM(i_e - i_s) AS BIGINT) AS covered,
        |       CAST(MAX(i_e - i_s) AS BIGINT) AS longest
        |FROM gi GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Kaplan-Meier retention curve over right-censored user lifetimes:
    // users last active inside the final 7 days are CENSORED, not
    // churned — the estimator the naive mean-lifetime gets wrong. The
    // corpus reduces to one row per distinct lifetime-day first, so the
    // survival recursion's windows run over the bounded duration grid
    // (the q_ks_test single-partition convention), never over users.
    // Difference-in-differences over event values: arm = md5 hash split
    // (the A/B convention), period = last-14-days cut; one aggregation
    // computes all four cells, the estimate is one 8dp expression.
    QuerySpec("q_did", (s, dir) => {
      val cut = events(s, dir)
        .agg((max(unix_micros(col("ts"))) - lit(1209600000000L)).as("cut"))
      val base = graft.llm.Sampling.assignSplit(
        events(s, dir).crossJoin(cut)
          .select(col("user_id"), col("value"),
            (unix_micros(col("ts")) >= col("cut")).as("post")),
        "user_id", Seq("c" -> 0.5, "t" -> 0.5), seed = "did",
        outCol = "arm")
      graft.engine.Eval.didEstimate(
        base.withColumn("treated", col("arm") === "t"),
        "treated", "post", "value")
    }, Some(
      """WITH c AS (
        |  SELECT MAX(epoch_us(ts)) - 1209600000000 AS cut FROM events),
        |b AS (
        |  -- COALESCE(..., TRUE): a NULL key hashes NULL and the
        |  -- engine's assignSplit when-chain falls through to the LAST
        |  -- split ('t') — the oracle must agree, not drop the row
        |  SELECT CAST(value AS DECIMAL(18,2)) AS y,
        |         COALESCE(substr(md5('did|' || CAST(user_id AS VARCHAR)),
        |                         1, 8) >= '80000000', TRUE) AS t,
        |         epoch_us(ts) >= c.cut AS p
        |  FROM events CROSS JOIN c
        |  WHERE value IS NOT NULL AND ts IS NOT NULL),
        |a AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c_pre,
        |    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_c_post,
        |    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_t_pre,
        |    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_t_post,
        |    SUM(CASE WHEN NOT t AND NOT p THEN y END) AS s_c_pre,
        |    SUM(CASE WHEN NOT t AND p THEN y END) AS s_c_post,
        |    SUM(CASE WHEN t AND NOT p THEN y END) AS s_t_pre,
        |    SUM(CASE WHEN t AND p THEN y END) AS s_t_post
        |  FROM b)
        |SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
        |       ROUND(CAST(s_c_pre AS DOUBLE) / NULLIF(n_c_pre, 0), 8) AS mean_c_pre,
        |       ROUND(CAST(s_c_post AS DOUBLE) / NULLIF(n_c_post, 0), 8) AS mean_c_post,
        |       ROUND(CAST(s_t_pre AS DOUBLE) / NULLIF(n_t_pre, 0), 8) AS mean_t_pre,
        |       ROUND(CAST(s_t_post AS DOUBLE) / NULLIF(n_t_post, 0), 8) AS mean_t_post,
        |       ROUND((CAST(s_t_post AS DOUBLE) / NULLIF(n_t_post, 0)
        |              - CAST(s_t_pre AS DOUBLE) / NULLIF(n_t_pre, 0))
        |             - (CAST(s_c_post AS DOUBLE) / NULLIF(n_c_post, 0)
        |                - CAST(s_c_pre AS DOUBLE) / NULLIF(n_c_pre, 0)), 8) AS did
        |FROM a""".stripMargin)),

    // 1-NN covariate matching ATT: users matched treated→nearest-control
    // on their PRE-period mean value, effect read off POST-period means
    // — the selection-on-observables screen beside q_did. As-of windows
    // on the covariate axis (never treated×control); the oracle windows
    // over the control's unique id and joins back (DuckDB's last_value
    // over a CASE'd STRUCT stitches fields — the q_attribution lesson).
    QuerySpec("q_nn_match", (s, dir) => {
      val cut = events(s, dir)
        .agg((max(unix_micros(col("ts"))) - lit(1209600000000L)).as("cut"))
      val per = events(s, dir).crossJoin(cut)
        .where(col("value").isNotNull)
        .withColumn("post", unix_micros(col("ts")) >= col("cut"))
        .groupBy("user_id")
        .agg(
          sum(when(!col("post"), col("value").cast("decimal(18,2)")))
            .as("sp"),
          sum(when(!col("post"), 1L).otherwise(0L)).as("np"),
          sum(when(col("post"), col("value").cast("decimal(18,2)")))
            .as("so"),
          sum(when(col("post"), 1L).otherwise(0L)).as("no"))
        .where(col("np") > 0 && col("no") > 0)
        .select(col("user_id"),
          round(col("sp").cast("double") / col("np").cast("double"), 8)
            .as("x_pre"),
          round(col("so").cast("double") / col("no").cast("double"), 8)
            .as("y_post"))
      val armed = graft.llm.Sampling.assignSplit(per, "user_id",
        Seq("c" -> 0.5, "t" -> 0.5), seed = "match", outCol = "arm")
      graft.engine.Eval.nnMatchAtt(
        armed.withColumn("treated", col("arm") === "t"),
        "treated", "x_pre", "y_post", "user_id")
    }, Some(
      """WITH c AS (
        |  SELECT MAX(epoch_us(ts)) - 1209600000000 AS cut FROM events),
        |per AS (
        |  SELECT user_id,
        |         SUM(CASE WHEN epoch_us(ts) < (SELECT cut FROM c)
        |                  THEN CAST(value AS DECIMAL(18,2)) END) AS sp,
        |         SUM(CASE WHEN epoch_us(ts) < (SELECT cut FROM c)
        |                  THEN 1 ELSE 0 END) AS np,
        |         SUM(CASE WHEN epoch_us(ts) >= (SELECT cut FROM c)
        |                  THEN CAST(value AS DECIMAL(18,2)) END) AS so,
        |         SUM(CASE WHEN epoch_us(ts) >= (SELECT cut FROM c)
        |                  THEN 1 ELSE 0 END) AS no
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY user_id),
        |f AS (
        |  SELECT user_id,
        |         ROUND(CAST(sp AS DOUBLE) / np, 8) AS x,
        |         ROUND(CAST(so AS DOUBLE) / no, 8) AS y,
        |         COALESCE(substr(md5('match|' || CAST(user_id AS VARCHAR)),
        |                         1, 8) >= '80000000', TRUE) AS t
        |  FROM per WHERE np > 0 AND no > 0),
        |w AS (
        |  SELECT user_id, x, y, t,
        |         last_value(CASE WHEN NOT t THEN user_id END IGNORE NULLS)
        |           OVER (ORDER BY x, t, user_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS bid,
        |         last_value(CASE WHEN NOT t THEN user_id END IGNORE NULLS)
        |           OVER (ORDER BY x DESC, t, user_id DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS fid
        |  FROM f),
        |m AS (
        |  SELECT w.user_id, w.x, w.y,
        |         b.x AS bx, b.y AS bgy, fw.x AS fx, fw.y AS fgy,
        |         CASE WHEN w.fid IS NULL AND w.bid IS NULL THEN NULL
        |              WHEN w.fid IS NULL THEN b.y
        |              WHEN w.bid IS NULL THEN fw.y
        |              WHEN (w.x - b.x) <= (fw.x - w.x) THEN b.y
        |              ELSE fw.y END AS cy
        |  FROM w
        |  LEFT JOIN f b ON b.user_id = w.bid
        |  LEFT JOIN f fw ON fw.user_id = w.fid
        |  WHERE w.t)
        |SELECT COUNT(*) AS n_treated,
        |       CAST(SUM(CASE WHEN cy IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_matched,
        |       CASE WHEN SUM(CASE WHEN cy IS NOT NULL THEN 1 ELSE 0 END) > 0
        |            THEN ROUND(CAST(SUM(CAST(ROUND(y - cy, 8)
        |                                     AS DECIMAL(38,8))) AS DOUBLE)
        |                 / SUM(CASE WHEN cy IS NOT NULL THEN 1 ELSE 0 END),
        |                 8) END AS att
        |FROM m""".stripMargin)),

    // Two-arm log-rank test over the same lifetime spans as
    // q_kaplan_meier: arms assigned by the engine's md5 hash split (the
    // A/B convention), per-time hypergeometric O−E/V terms on the 8dp
    // grid summed in DECIMAL, χ² once at the end.
    QuerySpec("q_logrank", (s, dir) => {
      val spans = events(s, dir)
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx"))
      val cut = spans.agg((max(col("mx")) - lit(604800000000L)).as("cut"))
      val sp = graft.llm.Sampling.assignSplit(
        spans.crossJoin(cut)
          .select(col("user_id"),
            expr("(mx - mn) div 86400000000").as("dur"),
            (col("mx") <= col("cut")).as("ev")),
        "user_id", Seq("a" -> 0.5, "b" -> 0.5), seed = "ab",
        outCol = "arm")
      graft.engine.Stats.logRank(sp, "dur", "ev", "arm")
    }, Some(
      """WITH s AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
        |  FROM events GROUP BY user_id),
        |c AS (SELECT MAX(mx) - 604800000000 AS cut FROM s),
        |sp AS (
        |  SELECT (mx - mn) // 86400000000 AS dur, mx <= c.cut AS ev,
        |         CASE WHEN substr(md5('ab|' || CAST(user_id AS VARCHAR)),
        |                          1, 8) < '80000000'
        |              THEN 'a' ELSE 'b' END AS arm
        |  FROM s CROSS JOIN c),
        |bd AS (
        |  SELECT dur,
        |         CAST(SUM(CASE WHEN arm = 'a' AND ev THEN 1 ELSE 0 END)
        |              AS BIGINT) AS d_a,
        |         CAST(SUM(CASE WHEN arm = 'b' AND ev THEN 1 ELSE 0 END)
        |              AS BIGINT) AS d_b,
        |         CAST(SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS c_a,
        |         CAST(SUM(CASE WHEN arm = 'b' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS c_b
        |  FROM sp GROUP BY dur),
        |r AS (
        |  SELECT dur, d_a, d_b,
        |         SUM(c_a) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
        |                        AND UNBOUNDED FOLLOWING) AS n_a,
        |         SUM(c_b) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
        |                        AND UNBOUNDED FOLLOWING) AS n_b
        |  FROM bd),
        |t AS (
        |  SELECT d_a,
        |         ROUND(CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
        |               / CAST(n_a + n_b AS DOUBLE), 8) AS e_t,
        |         ROUND(CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE)
        |               * CAST(n_b AS DOUBLE)
        |               * CAST(n_a + n_b - d_a - d_b AS DOUBLE)
        |               / (CAST(n_a + n_b AS DOUBLE)
        |                  * CAST(n_a + n_b AS DOUBLE)
        |                  * CAST(n_a + n_b - 1 AS DOUBLE)), 8) AS v_t
        |  FROM r WHERE d_a + d_b > 0 AND n_a + n_b > 1),
        |a AS (
        |  SELECT COUNT(*) AS n_times, CAST(SUM(d_a) AS BIGINT) AS o_a,
        |         CAST(SUM(CAST(e_t AS DECIMAL(38,8))) AS DOUBLE) AS e_a,
        |         CAST(SUM(CAST(v_t AS DECIMAL(38,8))) AS DOUBLE)
        |           AS variance
        |  FROM t)
        |SELECT 'a' AS group_a, 'b' AS group_b, n_times, o_a, e_a,
        |       variance,
        |       CASE WHEN variance > 0.0
        |            THEN ROUND((CAST(o_a AS DOUBLE) - e_a)
        |                       * (CAST(o_a AS DOUBLE) - e_a)
        |                       / variance, 8) END AS chi2
        |FROM a""".stripMargin)),

    QuerySpec("q_kaplan_meier", (s, dir) => {
      val spans = events(s, dir)
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("mn"),
          max(unix_micros(col("ts"))).as("mx"))
      val cut = spans.agg((max(col("mx")) - lit(604800000000L)).as("cut"))
      val sp = spans.crossJoin(cut)
        .select(expr("(mx - mn) div 86400000000").as("dur"),
          (col("mx") <= col("cut")).as("ev"))
      graft.engine.Stats.kaplanMeier(sp, "dur", "ev")
        .orderBy("duration")
    }, Some(
      """WITH s AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx
        |  FROM events GROUP BY user_id),
        |c AS (SELECT MAX(mx) - 604800000000 AS cut FROM s),
        |sp AS (
        |  SELECT (mx - mn) // 86400000000 AS duration,
        |         mx <= c.cut AS ev
        |  FROM s CROSS JOIN c),
        |pd AS (
        |  SELECT duration,
        |         CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS deaths,
        |         CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS censored
        |  FROM sp GROUP BY duration),
        |wr AS (
        |  SELECT duration, deaths, censored,
        |         SUM(deaths + censored)
        |           OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) AS ended,
        |         SUM(deaths + censored) OVER () AS tot
        |  FROM pd),
        |ar AS (
        |  SELECT duration, deaths, censored,
        |         CAST(tot - ended + deaths + censored AS BIGINT) AS at_risk
        |  FROM wr),
        |lf AS (
        |  SELECT duration, at_risk, deaths, censored,
        |         CAST(CASE WHEN deaths = 0 OR deaths = at_risk
        |                   THEN CAST(0.0 AS DOUBLE)
        |                   ELSE ROUND(ln(1.0 - CAST(deaths AS DOUBLE)
        |                                       / CAST(at_risk AS DOUBLE)), 8)
        |              END AS DECIMAL(20,8)) AS lnf,
        |         CASE WHEN deaths = at_risk THEN 1 ELSE 0 END AS z
        |  FROM ar),
        |fin AS (
        |  SELECT duration, at_risk, deaths, censored,
        |         SUM(lnf) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) AS lns,
        |         SUM(z) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) AS zs
        |  FROM lf)
        |SELECT duration, at_risk, deaths, censored,
        |       CASE WHEN zs > 0 THEN CAST(0.0 AS DOUBLE)
        |            ELSE ROUND(exp(CAST(lns AS DOUBLE)), 8) END AS survival
        |FROM fin ORDER BY duration""".stripMargin)),

    // One-sided CUSUM changepoint screen per event type (Page 1954):
    // peak drift of the centered cumulative sum and WHERE it peaks — the
    // "did this metric's level shift, and when" monitor. The recursive
    // CUSUM fold collapses to cumsum − running-min (two windows, one
    // type-partitioned sort); the series is scaled by n so everything
    // stays on the exact DECIMAL cent grid until one final division.
    QuerySpec("q_cusum", (s, dir) => {
      graft.engine.Stats.cusumDrift(events(s, dir),
          "event_type", "ts", "event_id", "value")
        .withColumn("peak_at", col("peak_at").cast("timestamp_ntz"))
        .orderBy("event_type")
    }, Some(
      """WITH b AS (
        |  SELECT event_type, ts, event_id,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |t AS (SELECT event_type, SUM(v) AS s, COUNT(*) AS n
        |      FROM b GROUP BY event_type),
        |c AS (
        |  SELECT b.event_type, b.ts, b.event_id, t.n,
        |         SUM(b.v * CAST(t.n AS DECIMAL(19,0)) - t.s)
        |           OVER (PARTITION BY b.event_type ORDER BY b.ts, b.event_id
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b JOIN t USING (event_type)),
        |d AS (
        |  SELECT event_type, ts, event_id, n,
        |         cum - LEAST(CAST(0 AS DECIMAL(18,2)),
        |                     MIN(cum) OVER (PARTITION BY event_type
        |                                    ORDER BY ts, event_id
        |                                    ROWS UNBOUNDED PRECEDING)) AS c
        |  FROM c),
        |p AS (
        |  SELECT event_type, n, ts AS peak_at, c,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY c DESC, ts, event_id) AS rn
        |  FROM d)
        |SELECT event_type, n, peak_at,
        |       ROUND(CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 8) AS max_drift
        |FROM p WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // Top-20 event-type trigrams: sequential pattern counting (the "what
    // paths do users take" primitive behind funnel DISCOVERY, where
    // q_funnel checks one known path). Per-user sequences via lead() over
    // a high-cardinality user partition — no per-user collect; counts
    // pre-reduce map-side; top-k is TakeOrdered with a trigram tie-break.
    QuerySpec("q_event_trigrams", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("trigram"))
        .limit(20)
    }, Some(
      """WITH seq AS (
        |  SELECT event_type || '>' || LEAD(event_type, 1) OVER w
        |           || '>' || LEAD(event_type, 2) OVER w AS trigram
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT trigram, COUNT(*) AS cnt FROM seq
        |WHERE trigram IS NOT NULL
        |GROUP BY trigram ORDER BY cnt DESC, trigram LIMIT 20""".stripMargin)),

    // Cohort retention: users grouped by their first-activity week, counted
    // per week offset — two aggregations and one join, all on user_id/week
    // keys (epoch-aligned integer weeks; timestamps are positive so int
    // division is floor division on both engines).
    QuerySpec("q_cohort_retention", (s, dir) => {
      val wk = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("wk"))
        .distinct()
      val cohort = wk.groupBy("user_id").agg(min(col("wk")).as("cohort_week"))
      wk.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (col("wk") - col("cohort_week")).as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }, Some(
      """WITH w AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
        |  FROM events),
        |f AS (SELECT user_id, MIN(wk) AS cohort_week FROM w GROUP BY user_id)
        |SELECT cohort_week, wk - cohort_week AS week_offset,
        |       COUNT(*) AS n_users
        |FROM w JOIN f USING (user_id)
        |GROUP BY cohort_week, wk - cohort_week
        |ORDER BY cohort_week, week_offset""".stripMargin)),

    // Backward as-of join: every click attached to the user's latest view
    // at-or-before it. Implemented as union + running last(ignoreNulls)
    // window — one shuffle, linear, no per-key candidate blowup (see
    // engine.TimeJoins scale notes); the oracle mirrors the exact same
    // union+window formulation so tie semantics match bit-for-bit.
    QuerySpec("q_asof_join", (s, dir) => {
      val ev = events(s, dir).withColumn("us", unix_micros(col("ts")))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "us")
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("us"),
          col("event_id").as("view_id"), col("value"))
      graft.engine.TimeJoins.asofJoinBackward(
          clicks, views, Seq("user_id"), "us", Seq("view_id", "value"))
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
          col("matched_view_id"), col("matched_value"))
        .orderBy("event_id")
    }, Some(
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value
        |  FROM events),
        |u AS (
        |  SELECT user_id, us, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
        |         event_id AS m_id, value AS m_value
        |  FROM base WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, us, 1 AS side, event_id,
        |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        |  FROM base WHERE event_type = 'click'),
        |m AS (
        |  -- the payload rides in ONE struct (atomic match, even with null
        |  -- payload fields) - mirrors the Spark struct-window formulation
        |  SELECT user_id, us, side, event_id,
        |         LAST_VALUE(CASE WHEN side = 0
        |                         THEN struct_pack(vid := m_id, val := m_value) END
        |                    IGNORE NULLS) OVER w AS s
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY us, side, m_id NULLS FIRST, m_value NULLS FIRST
        |               ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, make_timestamp(us) AS ts,
        |       s.vid AS matched_view_id, s.val AS matched_value
        |FROM m WHERE side = 1 ORDER BY event_id""".stripMargin)),

    // Bounded range self-join: ordered pairs of same-user events within 5
    // minutes. Spark side buckets time by the window width so candidates
    // come from an equi-join on (user, bucket) — the oracle states the
    // plain inequality join (DuckDB's IEJoin evaluates it directly).
    QuerySpec("q_range_pairs", (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      graft.engine.TimeJoins.rangeSelfJoin(
          ev, Seq("user_id"), "us", "event_id", withinUs = 300000000L)
        .orderBy("event_id_1", "event_id_2")
    }, Some(
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, a.event_id AS event_id_1, b.event_id AS event_id_2,
        |       b.us - a.us AS gap_us
        |FROM base a JOIN base b ON a.user_id = b.user_id
        | AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
        | AND b.us - a.us <= 300000000
        |ORDER BY event_id_1, event_id_2""".stripMargin)),

    // JSON scalar extraction from the props payload column (the reference's
    // API-JSON flatten surface, S3/S8).
    QuerySpec("q_json_extract", (s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)),

    // Multimodal batched decode: binary payload → mapPartitions feature
    // extraction (one decoder init per partition). The opaque-kind decode
    // is the documented deterministic stub (the container ships no lossy
    // codecs — real decodes are the separately oracle-checked
    // q_image_meta / q_image_phash / q_audio_meta / q_video_meta), but the
    // stub's arithmetic (rolling-hash checksum, byte length, first-byte
    // feature) IS SQL-expressible over this ASCII corpus, so the oracle
    // recomputes it and the whole attach→mapPartitions→schema pipeline is
    // hash-checked end-to-end, not rows-only.
    QuerySpec("q_media_features", (s, dir) => {
      import s.implicits._
      val recs = Multimodal.attachPayload(
        t(s, dir, "documents"), "doc_id", "text", "text")
        .as[Multimodal.MediaRecord]
      Multimodal.extractFeatures(recs).toDF()
        .select(col("id").as("doc_id"), col("kind"), col("n_bytes"),
          col("checksum"), col("feature")(0).as("f0"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, 'text' AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(list_filter(string_split(text, ''), c -> c <> ''),
        |                          c -> CAST(ascii(c) AS BIGINT))),
        |         (acc, x) -> (acc * 31 + x) % 1000000007) AS checksum,
        |       CAST(ascii(substr(text, 1, 1)) AS DOUBLE) / 255.0 AS f0
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL image decode (javax.imageio, JDK-builtin): PNG bytes generated
    // deterministically per doc_id (solid fill, dims/color pure functions
    // of the id), decoded back via ImageIO into dimensions + channel
    // means. The oracle recomputes those facts arithmetically — the decode
    // path is wrong unless the round-trip is bit-exact. Audio/video stay
    // on the documented stub (q_media_features).
    QuerySpec("q_image_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image/png",
          Multimodal.syntheticPng(id)))
      Multimodal.imageFeatures(recs).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |       CAST(8 + doc_id % 5 AS INT) AS width,
        |       CAST(8 + doc_id % 3 AS INT) AS height,
        |       CAST(37 * doc_id % 256 AS DOUBLE) AS mean_r,
        |       CAST(59 * doc_id % 256 AS DOUBLE) AS mean_g,
        |       CAST(83 * doc_id % 256 AS DOUBLE) AS mean_b
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL pixel-level decode: luminance histogram (integer BT.601 luma,
    // 16 equal bins, zeros emitted) over the deterministic 16×16
    // gradient PNGs, decoded back through javax.imageio. The oracle
    // recomputes every pixel from the generator formula (gray ⇒ luma IS
    // the gray value, the 77+150+29=256 identity) and re-buckets — any
    // pixel the decode gets wrong moves a count.
    QuerySpec("q_image_decode", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image/png",
          Multimodal.syntheticGradientPng(id)))
      Multimodal.imageHistogram(recs, bins = 16).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("bin"), col("n_px"))
        .orderBy("doc_id", "bin")
    }, Some(
      s"""WITH $imagePixelCte,
         |cnt AS (
         |  SELECT doc_id, v // 16 AS bin, COUNT(*) AS c
         |  FROM px GROUP BY doc_id, v // 16),
         |grid AS (
         |  SELECT doc_id, bin FROM documents
         |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bin))
         |SELECT g.doc_id, CAST(16 AS INT) AS width,
         |       CAST(16 AS INT) AS height, CAST(g.bin AS INT) AS bin,
         |       CAST(COALESCE(c.c, 0) AS BIGINT) AS n_px
         |FROM grid g LEFT JOIN cnt c
         |  ON g.doc_id = c.doc_id AND g.bin = c.bin
         |ORDER BY g.doc_id, g.bin""".stripMargin)),

    // REAL baseline-DCT JPEG decode (javax.imageio's native libjpeg
    // path: Huffman DC-delta decode, dequantization, IDCT, YCbCr→RGB):
    // per doc_id a 16×16 gray-valued-RGB JPEG of four solid 8×8
    // quadrants (value (37·id+53·q) mod 256) encoded at quality 1.0 —
    // block-uniform images have DC-only spectra and an all-ones quant
    // table, and gray pixels make the color conversion exact (Y
    // coefficients sum to unity, chroma constant 128), so the lossy
    // codec round-trips BIT-EXACTLY (probed: all 256 values + 500
    // quadrant images), which is what makes a lossy format oracle-able
    // at all. Decoded through the same imageHistogram kernel as
    // q_image_decode; the oracle recomputes each quadrant's 64-pixel
    // contribution arithmetically — any decoded pixel off by one moves
    // a bin count.
    QuerySpec("q_jpeg_decode", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image/jpeg",
          Multimodal.syntheticQuadJpeg(id)))
      Multimodal.imageHistogram(recs, bins = 16).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("bin"), col("n_px"))
        .orderBy("doc_id", "bin")
    }, Some(
      """WITH quad AS (
        |  SELECT doc_id, (37 * doc_id + 53 * q) % 256 AS v
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS q)),
        |cnt AS (
        |  SELECT doc_id, v // 16 AS bin, 64 * COUNT(*) AS c
        |  FROM quad GROUP BY doc_id, v // 16),
        |grid AS (
        |  SELECT doc_id, bin FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bin))
        |SELECT g.doc_id, CAST(16 AS INT) AS width,
        |       CAST(16 AS INT) AS height, CAST(g.bin AS INT) AS bin,
        |       CAST(COALESCE(c.c, 0) AS BIGINT) AS n_px
        |FROM grid g LEFT JOIN cnt c
        |  ON g.doc_id = c.doc_id AND g.bin = c.bin
        |ORDER BY g.doc_id, g.bin""".stripMargin)),

    // Image PERCEPTUAL hash (aHash) through the REAL decode path: a
    // deterministic 16×16 gradient PNG per doc_id is encoded, decoded
    // back via javax.imageio, block-averaged to an 8×8 bit grid
    // (64·blockSum > totalSum — exact integers), and emitted as 4×16-bit
    // words. The oracle recomputes every bit arithmetically from the
    // generator formula — any pixel the decode gets wrong flips bits.
    QuerySpec("q_image_phash", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image/png",
          Multimodal.syntheticGradientPng(id)))
      Multimodal.imagePhash(recs).toDF()
        .select(col("id").as("doc_id"), col("w0"), col("w1"), col("w2"),
          col("w3"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH $imagePhashCte
         |SELECT doc_id, w0, w1, w2, w3 FROM fp ORDER BY doc_id""".stripMargin)),

    // Near-duplicate IMAGES: pHash fingerprints → the same banded Hamming
    // blocking as SimHash text dedup (maxHamming = 3 ⇒ the four 16-bit
    // words ARE the bands) → exact bit_count(xor) verification. The
    // generator plants near-pairs (7 consecutive ids share a pattern at
    // small intensity offsets) plus incidental cross-pattern collisions —
    // both kinds must match the oracle's arithmetic replay exactly.
    QuerySpec("q_image_neardup", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "image/png",
          Multimodal.syntheticGradientPng(id)))
      val fp = Multimodal.imagePhash(recs).toDF()
        .withColumnRenamed("id", "doc_id")
      graft.llm.Dedup.wordBandNearDups(fp, "doc_id", maxHamming = 3)
        .orderBy("id1", "id2")
    }, Some(
      s"""WITH $imagePhashCte,
         |bands AS (
         |  SELECT doc_id, band,
         |         CASE band WHEN 0 THEN w0 WHEN 1 THEN w1
         |                   WHEN 2 THEN w2 ELSE w3 END AS word
         |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.word = b.word AND a.doc_id < b.doc_id)
         |SELECT * FROM (
         |  SELECT id1, id2,
         |         CAST(bit_count(xor(f1.w0, f2.w0)) + bit_count(xor(f1.w1, f2.w1)) +
         |              bit_count(xor(f1.w2, f2.w2)) + bit_count(xor(f1.w3, f2.w3))
         |              AS BIGINT) AS hamming
         |  FROM cand
         |  JOIN fp f1 ON cand.id1 = f1.doc_id
         |  JOIN fp f2 ON cand.id2 = f2.doc_id)
         |WHERE hamming <= 3 ORDER BY id1, id2""".stripMargin)),

    // Multimodal plumbing metadata: opaque binary payload + typed metadata.
    // (The mapPartitions decode-stub path is exercised in MultimodalSpec;
    // byte-level features aren't SQL-expressible over blobs.)
    QuerySpec("q_binary_meta", (s, dir) => {
      Multimodal.attachPayload(t(s, dir, "documents"), "doc_id", "text", "text")
        .select(col("id").as("doc_id"), col("kind"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("checksum_md5"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, 'text' AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS checksum_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL audio decode (RIFF/WAV PCM — pure byte arithmetic, no codec):
    // WAV bytes generated deterministically per doc_id, decoded back by
    // walking the RIFF chunk list into rate/channels/bits + exact-integer
    // sample stats. The oracle recomputes every fact arithmetically
    // (mean |amplitude| via a generate_series unnest of the sample
    // formula) — the byte-level parse is wrong unless the round-trip is
    // bit-exact. Video stays on the documented stub (q_media_features).
    QuerySpec("q_audio_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "audio/wav",
          Multimodal.syntheticWav(id)))
      Multimodal.audioFeatures(recs).toDF()
        .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_samples"), col("mean_abs"), col("peak"))
        .orderBy("doc_id")
    }, Some(
      """WITH s AS (
        |  SELECT doc_id,
        |         CAST(8000 + (doc_id % 4) * 2000 AS INT) AS sample_rate,
        |         CAST(16 + doc_id % 17 AS BIGINT) AS n
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, sample_rate, n,
        |         unnest(generate_series(0, n - 1)) AS i
        |  FROM s
        |), samp AS (
        |  SELECT doc_id, sample_rate, n,
        |         abs(((doc_id * 31 + i * 97) % 65536) - 32768) AS a
        |  FROM u
        |)
        |SELECT doc_id, sample_rate, CAST(1 AS INT) AS channels,
        |       CAST(16 AS INT) AS bits, n AS n_samples,
        |       CAST(sum(a) AS DOUBLE) / n AS mean_abs,
        |       CAST(max(a) AS INT) AS peak
        |FROM samp GROUP BY doc_id, sample_rate, n
        |ORDER BY doc_id""".stripMargin)),

    // REAL WAV spectral features — 4 band energies from a 16-point
    // fixed-point DFT over the DECODED PCM samples (the last pure-JDK
    // audio slice; only lossy codecs remain stubbed). The twiddle table
    // is 16 exact Q20 integers computed once in Scala and interpolated
    // into BOTH sides, so no cross-engine trig exists; re/im are exact
    // long sums and the final square-and-add is a fixed 3-op IEEE tree
    // — bit-identical without any rounding grid (the q_audio_meta
    // mean_abs convention). The oracle replays the synthetic sample
    // formula (generator = oracle, the q_image_meta pattern) while the
    // engine path decodes the actual RIFF bytes.
    QuerySpec("q_wav_spectrum", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "audio/wav",
          Multimodal.syntheticWav(id)))
      Multimodal.wavSpectrum(recs, bands = 4).toDF()
        .select(col("id").as("doc_id"), col("band"), col("energy"))
        .orderBy("doc_id", "band")
    }, Some {
      val ctab = Multimodal.cosTableQ20.zipWithIndex
        .map { case (c, j) => s"($j, $c)" }.mkString(", ")
      s"""WITH u AS (
         |  SELECT doc_id, unnest(range(0, 16)) AS i FROM documents
         |), x AS (
         |  SELECT doc_id, i,
         |         ((doc_id * 31 + i * 97) % 65536) - 32768 AS x
         |  FROM u
         |), ct AS (SELECT * FROM (VALUES $ctab) AS t(j, c)
         |), b AS (SELECT unnest(range(1, 5)) AS band
         |), term AS (
         |  SELECT x.doc_id, b.band,
         |         x.x * cc.c AS rc, -(x.x * cs.c) AS ic
         |  FROM x CROSS JOIN b
         |  JOIN ct cc ON cc.j = (b.band * x.i) % 16
         |  JOIN ct cs ON cs.j = (b.band * x.i + 12) % 16
         |), agg AS (
         |  SELECT doc_id, band,
         |         CAST(SUM(rc) AS BIGINT) AS re,
         |         CAST(SUM(ic) AS BIGINT) AS im
         |  FROM term GROUP BY doc_id, band)
         |SELECT doc_id, CAST(band AS INT) AS band,
         |       (CAST(re AS DOUBLE) / 1048576.0)
         |         * (CAST(re AS DOUBLE) / 1048576.0)
         |       + (CAST(im AS DOUBLE) / 1048576.0)
         |         * (CAST(im AS DOUBLE) / 1048576.0) AS energy
         |FROM agg ORDER BY doc_id, band""".stripMargin
    }),

    // REAL video CONTAINER parse (MP4/ISO-BMFF box walk — pure byte
    // arithmetic like the WAV RIFF walk; only frame decoding needs a
    // codec and stays on the stub): ftyp brand + moov/mvhd
    // timescale/duration, generated deterministically per doc_id and
    // recomputed arithmetically by the oracle.
    QuerySpec("q_video_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "video/mp4",
          Multimodal.syntheticMp4(id)))
      Multimodal.videoMeta(recs).toDF()
        .select(col("id").as("doc_id"), col("brand"), col("timescale"),
          col("duration"), col("duration_ms"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, 'isom' AS brand,
        |       CAST(1000 + (doc_id % 5) * 500 AS BIGINT) AS timescale,
        |       CAST(2000 + (doc_id % 977) * 3 AS BIGINT) AS duration,
        |       (CAST(2000 + (doc_id % 977) * 3 AS BIGINT) * 1000)
        |         // CAST(1000 + (doc_id % 5) * 500 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL lossy-audio HEADER walk (MP3/MPEG-1 Layer III — frame headers
    // are pure byte arithmetic like the RIFF/ISO-BMFF walks; only the
    // spectral frame decode needs a codec and stays on the stub): CBR
    // MP3 bytes generated deterministically per doc_id (with ID3v2/ID3v1
    // wrappers on id subsets to exercise the skip paths), walked back
    // into bitrate/rate/frame-count/duration. The oracle recomputes
    // every fact arithmetically — the byte walk is wrong unless each
    // frame length lands exactly on the next header.
    QuerySpec("q_mp3_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "audio/mpeg",
          Multimodal.syntheticMp3(id)))
      Multimodal.mp3Meta(recs).toDF()
        .select(col("id").as("doc_id"), col("version"), col("layer"),
          col("bitrate_kbps"), col("sample_rate"), col("frames"),
          col("duration_ms"), col("vbr"))
        .orderBy("doc_id")
    }, Some(
      """WITH f AS (
        |  SELECT doc_id,
        |         list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |                      CAST(1 + doc_id % 14 AS INT)) AS bitrate_kbps,
        |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |              ELSE 32000 END AS sample_rate,
        |         4 + doc_id % 7 AS frames
        |  FROM documents)
        |SELECT doc_id, 'MPEG1' AS version, CAST(3 AS INT) AS layer,
        |       CAST(bitrate_kbps AS INT) AS bitrate_kbps,
        |       CAST(sample_rate AS INT) AS sample_rate,
        |       CAST(frames AS BIGINT) AS frames,
        |       CAST(frames AS BIGINT) * 1152 * 1000 // sample_rate AS duration_ms,
        |       FALSE AS vbr
        |FROM f ORDER BY doc_id""".stripMargin)),

    // VBR twin of q_mp3_meta: the first frame is a Xing (even ids) or
    // VBRI (odd ids) metadata frame, audio frames change bitrate every
    // frame, and the walk must (a) skip the metadata frame, (b) land
    // exactly on every variable-length header, (c) cross-check the
    // walked frame count against the header's frame-count field, and
    // (d) report the exact floored AVERAGE bitrate — every fact
    // recomputed arithmetically by the oracle (per-frame lengths via
    // generate_series).
    QuerySpec("q_mp3_vbr", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "audio/mpeg",
          Multimodal.syntheticMp3Vbr(id)))
      Multimodal.mp3Meta(recs).toDF()
        .select(col("id").as("doc_id"), col("version"), col("layer"),
          col("bitrate_kbps"), col("sample_rate"), col("frames"),
          col("duration_ms"), col("vbr"))
        .orderBy("doc_id")
    }, Some(
      """WITH p AS (
        |  SELECT doc_id,
        |         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |              ELSE 32000 END AS rate,
        |         4 + doc_id % 7 AS frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, rate, frames,
        |         unnest(generate_series(0, CAST(frames - 1 AS BIGINT))) AS g
        |  FROM p),
        |fl AS (
        |  SELECT doc_id, rate, frames,
        |         144 * 1000 * list_extract(
        |             [32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |             CAST(1 + (doc_id + g) % 14 AS INT)) // rate
        |           + (doc_id + g) % 2 AS flen
        |  FROM f),
        |a AS (SELECT doc_id, MIN(rate) AS rate, MIN(frames) AS frames,
        |             SUM(flen) AS audio_bytes
        |      FROM fl GROUP BY doc_id)
        |SELECT doc_id, 'MPEG1' AS version, CAST(3 AS INT) AS layer,
        |       CAST(audio_bytes * 8 * rate // (frames * 1152 * 1000) AS INT)
        |         AS bitrate_kbps,
        |       CAST(rate AS INT) AS sample_rate,
        |       CAST(frames AS BIGINT) AS frames,
        |       CAST(frames AS BIGINT) * 1152 * 1000 // rate AS duration_ms,
        |       TRUE AS vbr
        |FROM a ORDER BY doc_id""".stripMargin)),

    // REAL lossless-audio HEADER parse (FLAC STREAMINFO — magic +
    // metadata-block walk + packed 64-bit field group, pure byte
    // arithmetic like the RIFF/ISO-BMFF/MPEG walks; subframe decode
    // stays on the documented stub): rate/channels/bits/total-samples
    // generated per doc_id and recomputed arithmetically by the oracle.
    QuerySpec("q_flac_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "audio/flac",
          Multimodal.syntheticFlac(id)))
      Multimodal.flacMeta(recs).toDF()
        .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
          col("bits"), col("total_samples"), col("duration_ms"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |       CAST(8000 + (doc_id % 4) * 2000 AS INT) AS sample_rate,
        |       CAST(1 + doc_id % 2 AS INT) AS channels,
        |       CAST(16 AS INT) AS bits,
        |       CAST(1000 + doc_id % 97 AS BIGINT) AS total_samples,
        |       CAST(1000 + doc_id % 97 AS BIGINT) * 1000
        |         // CAST(8000 + (doc_id % 4) * 2000 AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL web-archive container walk (WARC/1.1 — the Common-Crawl
    // container: CRLF-delimited ASCII headers + Content-Length payload
    // skips, pure byte arithmetic): request+response pairs generated per
    // doc_id, walked back into record count + the response record's
    // URI/host/length; every fact recomputed arithmetically.
    QuerySpec("q_warc_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "application/warc",
          Multimodal.syntheticWarc(id)))
      Multimodal.warcMeta(recs).toDF()
        .select(col("id").as("doc_id"), col("version"), col("n_records"),
          col("target_uri"), col("host"), col("response_len"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, '1.1' AS version, CAST(2 AS BIGINT) AS n_records,
        |       'https://h' || CAST(doc_id % 7 AS VARCHAR)
        |         || '.example/p/' || CAST(doc_id AS VARCHAR)
        |         AS target_uri,
        |       'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
        |       CAST(20 + doc_id % 11 AS BIGINT) AS response_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL tape-archive container walk (POSIX ustar — 512-byte header
    // blocks, octal size fields, verified checksums, ceil(size/512)
    // data skips, two-zero-block trailer): the bulk container data-lake
    // dumps ship in; every fact recomputed arithmetically by the oracle.
    QuerySpec("q_tar_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "application/x-tar",
          Multimodal.syntheticTar(id)))
      Multimodal.tarMeta(recs).toDF()
        .select(col("id").as("doc_id"), col("n_entries"),
          col("total_size"), col("first_name"), col("max_size"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, CAST(2 AS BIGINT) AS n_entries,
        |       CAST(110 + doc_id % 7 + doc_id % 13 AS BIGINT)
        |         AS total_size,
        |       'a_' || CAST(doc_id AS VARCHAR) || '.txt' AS first_name,
        |       CAST(100 + doc_id % 13 AS BIGINT) AS max_size
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL ZIP container walk (PKWARE local-header chain → central
    // directory stop): STORED members with per-entry CRC32 recompute,
    // data-descriptor/compressed members fail closed — completes the
    // data-lake container family (tar, gzip, warc, zip).
    QuerySpec("q_zip_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "application/zip",
          Multimodal.syntheticZip(id)))
      Multimodal.zipMeta(recs).toDF()
        .select(col("id").as("doc_id"), col("n_entries"),
          col("total_size"), col("first_name"), col("crc_ok"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, CAST(2 AS BIGINT) AS n_entries,
        |       CAST(110 + doc_id % 7 + doc_id % 13 AS BIGINT)
        |         AS total_size,
        |       'a_' || CAST(doc_id AS VARCHAR) || '.txt' AS first_name,
        |       TRUE AS crc_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL gzip member decode (RFC 1952/1951 via the JDK's zlib): header
    // field walk + FULL DEFLATE inflate with the trailer CRC32/ISIZE
    // verified against the recomputed output, 64 MiB bomb cap — the
    // first multimodal tier with no stub anywhere in the decode.
    QuerySpec("q_gzip_meta", (s, dir) => {
      import s.implicits._
      val recs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(id => Multimodal.MediaRecord(id, "application/gzip",
          Multimodal.syntheticGzip(id)))
      Multimodal.gzipMeta(recs).toDF()
        .select(col("id").as("doc_id"), col("fname"), col("mtime"),
          col("os"), col("uncompressed_len"), col("crc_ok"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, 'f' || CAST(doc_id AS VARCHAR) || '.txt' AS fname,
        |       CAST(1700000000 + doc_id % 1000 AS BIGINT) AS mtime,
        |       CAST(3 AS INT) AS os,
        |       CAST(50 + doc_id % 31 AS BIGINT) AS uncompressed_len,
        |       TRUE AS crc_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Peak concurrency per event type (sweep-line +1/−1 prefix sum over
    // half-open [start, start+value·1s) intervals): the capacity question
    // — "how many were in flight at once, and when did the peak first
    // happen". Deltas are NETTED per boundary instant before the running
    // sum, so no intra-instant ordering exists to disagree on; the window
    // partitions by event_type (per-group timeline sort, never global).
    QuerySpec("q_concurrency", (s, dir) => {
      val iv = events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) +
            round(col("value") * 1e6).cast("long")).as("e_us"))
      graft.engine.Intervals.maxConcurrency(iv, "event_type", "s_us", "e_us")
        .select(col("event_type"), col("peak"),
          col("peak_at").as("peak_at_us"))
        .orderBy("event_type")
    }, Some(
      """WITH iv AS (
        |  SELECT event_type, epoch_us(ts) AS s_us,
        |         epoch_us(ts) + CAST(ROUND(value * 1000000) AS BIGINT) AS e_us
        |  FROM events),
        |deltas AS (
        |  SELECT event_type, s_us AS t, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL
        |  SELECT event_type, e_us AS t, CAST(-1 AS BIGINT) AS d FROM iv),
        |net AS (SELECT event_type, t, SUM(d) AS net FROM deltas GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, t,
        |         SUM(net) OVER (PARTITION BY event_type ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM net),
        |mx AS (SELECT event_type, MAX(c) AS peak FROM cum GROUP BY 1)
        |SELECT c.event_type, CAST(m.peak AS BIGINT) AS peak,
        |       MIN(c.t) AS peak_at_us
        |FROM cum c JOIN mx m ON c.event_type = m.event_type AND c.c = m.peak
        |GROUP BY c.event_type, m.peak
        |ORDER BY c.event_type""".stripMargin))
  )

  /** Shared oracle CTEs recomputing the 16×16 gradient image's PIXELS
    * from the generator formula (no decode) — the prefix of both the
    * aHash chain ([[imagePhashCte]]) and the q_image_decode histogram
    * oracle. Mirrors [[graft.llm.Multimodal.syntheticGradientPng]]. */
  private[queries] val imagePixelCte: String =
    """coef AS (
      |  SELECT doc_id, doc_id // 7 AS g, doc_id % 7 AS o,
      |         1 + (7 * (doc_id // 7)) % 11 AS a,
      |         1 + (5 * (doc_id // 7)) % 13 AS b,
      |         (3 * (doc_id // 7)) % 5 AS c
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, x, y,
      |         (a * x + b * y + c * x * y + 37 * g + o) % 256 AS v
      |  FROM coef
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS x)
      |  CROSS JOIN (SELECT unnest(range(0, 16)) AS y))""".stripMargin

  /** Oracle CTE chain recomputing the gradient image's aHash
    * arithmetically on top of [[imagePixelCte]]: exact-integer
    * block/total sums → bit = 64·blockSum > totalSum → 4×16-bit words.
    * Mirrors [[graft.llm.Multimodal.imagePhash]]. */
  private[queries] val imagePhashCte: String =
    s"""$imagePixelCte,
      |tot AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS total
      |        FROM px GROUP BY doc_id),
      |blk AS (
      |  SELECT doc_id, (y // 2) * 8 + (x // 2) AS j,
      |         CAST(SUM(v) AS BIGINT) AS bs
      |  FROM px GROUP BY doc_id, (y // 2) * 8 + (x // 2)),
      |fp AS (
      |  SELECT b.doc_id AS doc_id,
      |         CAST(SUM(CASE WHEN j // 16 = 0 AND 64 * bs > total THEN CAST(POW(2, j % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS w0,
      |         CAST(SUM(CASE WHEN j // 16 = 1 AND 64 * bs > total THEN CAST(POW(2, j % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS w1,
      |         CAST(SUM(CASE WHEN j // 16 = 2 AND 64 * bs > total THEN CAST(POW(2, j % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS w2,
      |         CAST(SUM(CASE WHEN j // 16 = 3 AND 64 * bs > total THEN CAST(POW(2, j % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS w3
      |  FROM blk b JOIN tot t ON b.doc_id = t.doc_id
      |  GROUP BY b.doc_id)""".stripMargin
}
