package graft

import graft.engine.{Bootstrap, TimeSeries}
import org.apache.spark.sql.functions._

/** Analytic pins for the time-series tier and the Poisson bootstrap. */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  test("acfGrid: alternating series has acf(1) = -1, acf(2) = 1") {
    val s = (1L to 8L).map(i => ("g", i,
      BigDecimal(if (i % 2 == 0) 1 else -1))).toDF("lbl", "t", "v")
    val r = TimeSeries.acfGrid(s, "lbl", "t", "v", maxLag = 2).collect()
      .map(x => x.getAs[Int]("lag") -> x.getAs[Double]("acf")).toMap
    assert(r(1) === -1.0)
    assert(r(2) === 1.0)
  }

  test("acfGrid: lag pairs stay within their own group") {
    // two groups, each too short for lag 2 pairs beyond 1
    val s = Seq(("a", 1L, BigDecimal(1)), ("a", 2L, BigDecimal(2)),
      ("b", 1L, BigDecimal(5)), ("b", 2L, BigDecimal(6)))
      .toDF("lbl", "t", "v")
    val r = TimeSeries.acfGrid(s, "lbl", "t", "v", maxLag = 2)
    // lag-1 yields exactly 1 pair per group (constant-variance → NULL
    // acf but the n column proves the pairing); lag-2 yields none
    val n = r.collect().map(x => (x.getAs[String]("lbl"),
      x.getAs[Int]("lag")) -> x.getAs[Long]("n")).toMap
    assert(n === Map(("a", 1) -> 1L, ("b", 1) -> 1L))
  }

  test("bollinger: constant series pins bands to the mean, no breach") {
    val s = (1L to 5L).map(i => ("g", i, BigDecimal(10))).toDF("lbl", "t", "v")
    val r = TimeSeries.bollinger(s, "lbl", "t", "v", window = 3)
      .orderBy("t").collect()
    assert(r.take(2).forall(_.isNullAt(3))) // no full window yet
    val full = r.drop(2)
    assert(full.forall(x => x.getAs[Double]("mean") === 10.0 &&
      x.getAs[Double]("lower") === 10.0 &&
      x.getAs[Double]("upper") === 10.0 &&
      !x.getAs[Boolean]("breach")))
  }

  test("bollinger: an outlier spike breaches the upper band") {
    val s = (Seq(1L -> 10, 2L -> 11, 3L -> 10, 4L -> 11, 5L -> 10,
      6L -> 11, 7L -> 10, 8L -> 50))
      .map { case (t, v) => ("g", t, BigDecimal(v)) }.toDF("lbl", "t", "v")
    val r = TimeSeries.bollinger(s, "lbl", "t", "v", window = 7)
      .orderBy("t").collect()
    assert(!r(6).getAs[Boolean]("breach"))
    assert(r(7).getAs[Boolean]("breach"))
  }

  test("rollingCorr: exact linear relation gives corr 1 on full windows") {
    val s = (1L to 6L).map(i => ("g", i, BigDecimal(i), BigDecimal(2 * i)))
      .toDF("lbl", "t", "x", "y")
    val r = TimeSeries.rollingCorr(s, "lbl", "t", "x", "y", window = 3)
      .orderBy("t").collect()
    assert(r.take(2).forall(_.isNullAt(3)))
    assert(r.drop(2).forall(_.getAs[Double]("corr") === 1.0))
  }

  test("seasonalProfile: balanced two-season split gives 0.5 / 1.5 index") {
    val df = (Seq.fill(4)(("e", 0, 10.0)) ++ Seq.fill(4)(("e", 1, 30.0)))
      .toDF("typ", "season_src", "value")
    val r = TimeSeries.seasonalProfile(df, "typ", col("season_src"),
        "value").collect()
      .map(x => x.getAs[Int]("season") ->
        x.getAs[Double]("season_index")).toMap
    assert(r(0) === 0.5)
    assert(r(1) === 1.5)
  }

  test("decayedTopK: one-day half-life halves yesterday's weight exactly") {
    // item 1: 100 cents today; item 2: 100 cents yesterday + 100 two
    // days ago → 50 + 25 = 75; item 3: beyond the 50-day horizon → 0
    val df = Seq((1L, 10L, 100L), (2L, 9L, 100L), (2L, 8L, 100L),
      (3L, -100L, 100L))
      .toDF("item", "day", "cents")
    val r = TimeSeries.decayedTopK(df, "item", col("day"), col("cents"),
      topK = 5).collect()
      .map(x => x.getAs[Long]("item") -> x.getAs[Double]("decayed")).toMap
    assert(r(1L) === 100.0)
    assert(r(2L) === 75.0)
    assert(r(3L) === 0.0)
  }

  test("missingDays: gaps inside the observed range, per group") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 5L), ("b", 3L))
      .toDF("g", "day")
    val r = TimeSeries.missingDays(df, "g", col("day")).collect()
      .map(x => (x.getAs[String]("g"), x.getAs[Long]("day"))).toSet
    // range 1..5: a misses {3,4}; b misses {1,2,4,5}
    assert(r === Set(("a", 3L), ("a", 4L),
      ("b", 1L), ("b", 2L), ("b", 4L), ("b", 5L)))
  }

  test("lastTouchAttribution: window cutoff and (none) fallback") {
    import java.sql.Timestamp
    def ts(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val e = Seq(
      (1L, ts(1), 7L, "click", 0.0),   // touch, 9 days before purchase
      (2L, ts(10), 7L, "purchase", 5.0), // beyond 7d → (none)
      (3L, ts(11), 7L, "view", 0.0),
      (4L, ts(12), 7L, "purchase", 7.0), // within 7d of the view
      (5L, ts(13), 8L, "purchase", 9.0)) // user with no touches at all
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = TimeSeries.lastTouchAttribution(e, "user_id", "ts",
        "event_id", "event_type", "value", Seq("click", "view"),
        "purchase", windowDays = 7)
      .collect().map(x => x.getAs[String]("touch_type") ->
        (x.getAs[Long]("n_conversions"), x.getAs[Double]("total_value")))
      .toMap
    assert(r("(none)") === ((2L, 14.0)))
    assert(r("view") === ((1L, 7.0)))
    assert(!r.contains("click"))
  }

  test("sessionizeBatch: only a gap longer than gapMs starts a session") {
    import java.sql.Timestamp
    import java.time.LocalDateTime
    val min = 60000L
    def ts(ms: Long) = new Timestamp(ms)
    def at(ms: Long) = LocalDateTime.of(1970, 1, 1, 0, 0).plusNanos(ms * 1000000L)
    val e = Seq(
      (1L, ts(1 * min), 10L, 1.0), (2L, ts(3 * min), 10L, 2.0),
      (3L, ts(40 * min), 10L, 4.0), // 37-min gap → new session
      (4L, ts(5 * min), 11L, 1.5),
      (5L, ts(100 * min), 12L, 0.5),
      (6L, ts(130 * min), 12L, 0.25), // gap of exactly gapMs → same session
      (7L, ts(160 * min + 1), 12L, 2.5)) // gapMs + 1 ms → new session
      .toDF("event_id", "ts", "user_id", "value")
    val r = TimeSeries.sessionizeBatch(e, gapMs = 30 * min)
      .orderBy("user_id", "session_start")
      .collect().map(x => (x.getAs[Long]("user_id"),
        x.getAs[LocalDateTime]("session_start"),
        x.getAs[LocalDateTime]("session_end"),
        x.getAs[Long]("n_events"), x.getAs[Double]("total_value"))).toSeq
    assert(r === Seq(
      (10L, at(1 * min), at(3 * min), 2L, 3.0),
      (10L, at(40 * min), at(40 * min), 1L, 4.0),
      (11L, at(5 * min), at(5 * min), 1L, 1.5),
      (12L, at(100 * min), at(130 * min), 2L, 0.75),
      (12L, at(160 * min + 1), at(160 * min + 1), 1L, 2.5)))
  }

  test("bootstrap meanCi: constant values collapse the CI onto the mean") {
    val df = (1 to 40).map(i => ("g", i.toLong, 7.0)).toDF("lbl", "id", "v")
    val r = Bootstrap.meanCi(df, "lbl", "v", col("id"), b = 20).head()
    assert(r.getAs[Double]("mean") === 7.0)
    assert(r.getAs[Double]("ci_lo") === 7.0)
    assert(r.getAs[Double]("ci_hi") === 7.0)
  }

  test("bootstrap: native PoissonBootSums equals the declarative explode") {
    val df = (1 to 300).map(i => (s"g${i % 3}", i.toLong,
      (i % 17).toDouble + 0.25)).toDF("lbl", "id", "v")
    val a = Bootstrap.meanCi(df, "lbl", "v", col("id"), b = 30)
      .orderBy("lbl").collect().map(_.toString)
    val b = Bootstrap.meanCiDeclarative(df, "lbl", "v", col("id"), b = 30)
      .orderBy("lbl").collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
  }

  test("bootstrap meanCi: CI brackets the sample mean on spread data") {
    val df = (1 to 200).map(i => ("g", i.toLong, (i % 10).toDouble))
      .toDF("lbl", "id", "v")
    val r = Bootstrap.meanCi(df, "lbl", "v", col("id"), b = 50).head()
    val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
    val mean = r.getAs[Double]("mean")
    assert(lo < mean && mean < hi)
    assert(hi - lo < 2.0) // sane width for sd≈2.87, n=200
  }

test("hurstRs: a straight-line trend reports H near 1; per-size " +
    "ln(R/S) grows with the block size") {
    import org.apache.spark.sql.functions.col
    val trend = (0 until 256).map(i => (i.toLong, i.toDouble))
      .toDF("day", "v")
    val rows = graft.engine.TimeSeries.hurstRs(trend, "day", "v")
      .orderBy("size").collect()
    val h = rows.head.getAs[Double]("hurst")
    assert(h > 0.9 && h < 1.1, s"trend H=$h")
    val means = rows.map(_.getAs[Double]("ln_rs_mean"))
    assert(means.zip(means.tail).forall { case (a, b) => a < b }, means.toSeq)
    // md5-noise series: H should sit loosely around 1/2, far from 1
    val noise = (0 until 256).map { i =>
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hurst|$i".getBytes("UTF-8"))
      (i.toLong, ((hx(0) & 0xff) * 256 + (hx(1) & 0xff)).toDouble / 100.0)
    }.toDF("day", "v")
    val hn = graft.engine.TimeSeries.hurstRs(noise, "day", "v")
      .head().getAs[Double]("hurst")
    assert(hn > 0.2 && hn < 0.8, s"noise H=$hn")
  }
}
