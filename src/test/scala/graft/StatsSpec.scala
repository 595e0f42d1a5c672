package graft

import graft.engine.Stats

/** Reference constants below were generated by an independent pure-Python
  * implementation (incomplete-beta Student-t CDF, exact signed-rank DP,
  * normal approximation with tie correction) — see the repo history for the
  * generator. They pin scipy-compatible behavior without scipy. */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  // Example A: d = [-1,1,-2,1,-3,1,5] — zeros absent, ties present → approx
  private val xa = Seq(1.0, 2, 3, 4, 5, 7, 9)
  private val ya = Seq(2.0, 1, 5, 3, 8, 6, 4)
  // Example B: d = [1,-2,3,4,-7,5,8,-9] — distinct |d| → exact path
  private val xb = Seq(10.0, 12, 9, 14, 8, 12, 15, 11)
  private val yb = Seq(9.0, 14, 6, 10, 15, 7, 7, 20)

  private def df(x: Seq[Double], y: Seq[Double], label: String = "g") =
    x.zip(y).map { case (a, b) => (label, a, b) }.toDF("lbl", "x", "y")

  test("paired t statistic matches closed form (A & B)") {
    val a = Stats.pairedTTestStat(df(xa, ya), "lbl", "x", "y").head()
    assert(a.getAs[Long]("sample_size") === 7L)
    assert(math.abs(a.getAs[Double]("t_stat") - 0.2876779808912305) < 1e-9)

    val b = Stats.pairedTTestStat(df(xb, yb), "lbl", "x", "y").head()
    assert(math.abs(b.getAs[Double]("t_stat") - 0.17824153664558415) < 1e-9)
  }

  private def tPValue(stat: org.apache.spark.sql.Row): Double =
    Stats.tTestPValue(stat.getAs[java.lang.Double]("t_stat"),
      stat.getAs[Long]("sample_size"))

  test("t-test p-value via Student-t CDF") {
    val a = tPValue(Stats.pairedTTestStat(df(xa, ya), "lbl", "x", "y").head())
    assert(math.abs(a - 0.7832711756427116) < 1e-9)
    val b = tPValue(Stats.pairedTTestStat(df(xb, yb), "lbl", "x", "y").head())
    assert(math.abs(b - 0.863581963809271) < 1e-9)
  }

  test("Wilcoxon W: mid-ranked ties, min(W+, W-)") {
    val a = Stats.wilcoxonStat(df(xa, ya), "lbl", "x", "y").head()
    assert(a.getAs[Long]("n_nonzero") === 7L)
    assert(a.getAs[Double]("w_stat") === 13.5)
    val b = Stats.wilcoxonStat(df(xb, yb), "lbl", "x", "y").head()
    assert(b.getAs[Double]("w_stat") === 16.0)
  }

  test("Wilcoxon p-value: exact DP (no ties) and normal approx (ties)") {
    // B: n=8, distinct ranks → exact two-sided
    assert(math.abs(Stats.wilcoxonPValue(8, 16.0, Seq(1, 1, 1, 1, 1, 1, 1, 1))
      - 0.84375) < 1e-12)
    // A: ties {1:4, 2:1, 3:1, 5:1} → normal approximation w/ tie correction
    assert(math.abs(Stats.wilcoxonPValue(7, 13.5, Seq(4, 1, 1, 1))
      - 0.9314137156099614) < 1e-9)
  }

  test("Wilcoxon exact cutoffs match published signed-rank critical tables") {
    // Published two-sided critical values (standard Wilcoxon signed-rank
    // tables, e.g. Conover, Practical Nonparametric Statistics): reject at
    // level α iff W <= w_crit(n, α). The exact-DP p-value must straddle α
    // exactly at the published boundary: p(w_crit) <= α < p(w_crit + 1).
    // This pins the whole convention stack — cumulative P(W <= w), the
    // two-sided doubling, and the rank-sum DP — against external tables
    // for n in 6..12 at α = .05 and n in 8..12 at α = .01.
    val crit05 = Seq(6 -> 0, 7 -> 2, 8 -> 3, 9 -> 5, 10 -> 8, 11 -> 10, 12 -> 13)
    val crit01 = Seq(8 -> 0, 9 -> 1, 10 -> 3, 11 -> 5, 12 -> 7)
    val untied = (n: Int) => Seq.fill(n)(1L)
    for ((n, w) <- crit05) {
      assert(Stats.wilcoxonPValue(n, w.toDouble, untied(n)) <= 0.05,
        s"n=$n w_crit=$w should reject at .05")
      assert(Stats.wilcoxonPValue(n, w + 1.0, untied(n)) > 0.05,
        s"n=$n w=${w + 1} should NOT reject at .05")
    }
    for ((n, w) <- crit01) {
      assert(Stats.wilcoxonPValue(n, w.toDouble, untied(n)) <= 0.01,
        s"n=$n w_crit=$w should reject at .01")
      assert(Stats.wilcoxonPValue(n, w + 1.0, untied(n)) > 0.01,
        s"n=$n w=${w + 1} should NOT reject at .01")
    }
    // spot-pin the exact probabilities behind two boundary rows
    assert(math.abs(Stats.wilcoxonPValue(6, 0.0, untied(6)) - 0.03125) < 1e-12)
    assert(math.abs(Stats.wilcoxonPValue(12, 13.0, untied(12)) - 0.04248046875) < 1e-12)
  }

  test("Wilcoxon mode='auto' boundary: ties force the normal branch at any n") {
    // scipy's method='auto' uses the exact distribution iff n <= 50 AND the
    // |d| ranks are untied; ANY tie switches to the tie-corrected normal
    // approximation (the exact DP's integer rank lattice no longer applies
    // to midranks). Same W, same n — the tie profile alone changes p.
    val pExact = Stats.wilcoxonPValue(8, 3.0, Seq(1, 1, 1, 1, 1, 1, 1, 1))
    val pTied = Stats.wilcoxonPValue(8, 3.0, Seq(2, 1, 1, 1, 1, 1, 1))
    assert(math.abs(pExact - 0.0390625) < 1e-12)
    assert(pTied !== pExact)
    // tie-corrected normal: mn = 18, se = sqrt(51 - 6/48), z = -15/se
    val se = math.sqrt(8 * 9 * 17 / 24.0 - (8.0 - 2.0) / 48.0)
    val expected = 2.0 * new org.apache.commons.math3.distribution
      .NormalDistribution().cumulativeProbability(-15.0 / se)
    assert(math.abs(pTied - expected) < 1e-12, s"pTied=$pTied expected=$expected")
  }

  test("zero-variance group yields null t (scipy nan), not a crash") {
    val const = Seq(("c", 5.0, 2.0), ("c", 8.0, 5.0), ("c", 4.0, 1.0))
      .toDF("lbl", "x", "y") // d = 3 for every pair
    val r = Stats.pairedTTestStat(const, "lbl", "x", "y").head()
    assert(r.isNullAt(r.fieldIndex("t_stat")))
    assert(tPValue(r) === Stats.Sentinel)
  }

  test("sentinels: n<=1 group and all-zero diffs (transform.py:357-365)") {
    val single = Seq(("s", 1.0, 2.0)).toDF("lbl", "x", "y")
    val t1 = Stats.pairedTTestStat(single, "lbl", "x", "y").head()
    assert(t1.getAs[Double]("t_stat") === Stats.Sentinel)

    val zeros = Seq(("z", 1.0, 1.0), ("z", 2.0, 2.0)).toDF("lbl", "x", "y")
    val w = Stats.wilcoxonStat(zeros, "lbl", "x", "y").head()
    assert(w.getAs[Long]("n_nonzero") === 0L)
    assert(w.getAs[Double]("w_stat") === Stats.Sentinel)
  }

  test("dpeStatistics emits the gold tests_statistiques_dpe shape") {
    val in = df(xa, ya, "A").unionByName(df(xb, yb, "B"))
      .unionByName(Seq(("C", 1.0, 2.0)).toDF("lbl", "x", "y"))
    val out = Stats.dpeStatistics(in, "lbl", "x", "y", "b42").orderBy("lbl")
    assert(out.columns.toSeq === Seq("lbl", "sample_size",
      "paired_t_test_t_statistic", "paired_t_test_p_value",
      "wilcoxon_statistic", "wilcoxon_p_value", "batch_id"))
    val rows = out.collect()
    assert(rows.length === 3)
    val c = rows.find(_.getString(0) == "C").get
    assert(c.getAs[Double]("paired_t_test_t_statistic") === Stats.Sentinel)
    assert(c.getAs[Double]("wilcoxon_p_value") === Stats.Sentinel)
    assert(rows.forall(_.getAs[String]("batch_id") == "b42"))
    val b = rows.find(_.getString(0) == "B").get
    assert(math.abs(b.getAs[Double]("wilcoxon_p_value") - 0.84375) < 1e-9)
  }

  test("Mann-Whitney U: hand-computed midranks and U") {
    import spark.implicits._
    // group G: A = {1,2,3}, B = {2,4} → midranks 1, 2.5, 2.5, 4, 5
    // R1 = 1 + 2.5 + 4 = 7.5, U1 = 7.5 − 6 = 1.5, U2 = 4.5 ⇒ U = 1.5
    val df = Seq(("G", 1.0, "A"), ("G", 2.0, "A"), ("G", 3.0, "A"),
      ("G", 2.0, "B"), ("G", 4.0, "B"),
      ("H", 9.0, "A")) // no B sample in H ⇒ sentinel
      .toDF("lbl", "v", "grp")
    val out = Stats.mannWhitneyStat(df, "lbl", "v", "grp", "A", "B")
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("G")
    assert(g.getAs[Long]("n1") === 3L && g.getAs[Long]("n2") === 2L)
    assert(g.getAs[Double]("u_stat") === 1.5)
    // tie profile: value 2.0 appears twice, 1/3/4 once each
    assert(g.getAs[scala.collection.Seq[Long]]("tie_counts").sorted ===
      Seq(1L, 1L, 1L, 2L))
    assert(out("H").getAs[Double]("u_stat") === Stats.Sentinel)
  }

  test("chi-square: cells carry exact expected counts; contributions sum to chi2") {
    import spark.implicits._
    // 2×2 table [[10,20],[30,40]] → expected [[12,18],[28,42]], χ²=0.79365…
    val df = (Seq.fill(10)(("r1", "c1")) ++ Seq.fill(20)(("r1", "c2")) ++
      Seq.fill(30)(("r2", "c1")) ++ Seq.fill(40)(("r2", "c2"))).toDF("r", "c")
    val cells = Stats.chiSquareCells(df, "r", "c").orderBy("r", "c").collect()
    assert(cells.length === 4)
    val e11 = cells.find(x => x.getString(0) == "r1" && x.getString(1) == "c1").get
    assert(e11.getAs[Long]("observed") === 10L)
    assert(e11.getAs[Double]("expected") === 12.0)
    assert(math.abs(e11.getAs[Double]("contrib") - 4.0 / 12.0) < 1e-8)
    val chi2 = cells.map(_.getAs[Double]("contrib")).sum
    assert(math.abs(chi2 - 0.7936507936507936) < 1e-7)
  }

  test("corr/OLS moments: exact on linear data, null on zero variance") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // y = 3x + 2 exactly ⇒ corr 1, slope 3, intercept 2
    val df = (1 to 50).map(i => ("G", i.toDouble, 3.0 * i + 2))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val q = graft.QueryRegistry.byName("q_corr_ols")
    val dir = java.nio.file.Files.createTempDirectory("corr").toString
    df.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val row = q.run(spark, dir).head()
    assert(row.getAs[Double]("corr") === 1.0)
    assert(row.getAs[Double]("slope") === 3.0)
    assert(row.getAs[Double]("intercept") === 2.0)
    // zero x-variance: slope/corr null, no ANSI division crash
    val flat = Seq.fill(5)(("G", 7.0, 1.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    flat.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val fr = q.run(spark, dir).head()
    assert(fr.isNullAt(fr.fieldIndex("corr")) && fr.isNullAt(fr.fieldIndex("slope")))
  }

  test("corrMatrix: listwise deletion — nulls drop the whole row, corr stays in [-1,1]") {
    import spark.implicits._
    // x and y correlate perfectly on complete rows; the half-null rows
    // carry extreme values that, if sum() skipped them while count(*)
    // didn't (mixed row sets), would push the "correlation" far outside
    // [-1, 1]
    val df = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.0, 2.0, 5.0), (2.0, 4.0, 4.0), (3.0, 6.0, 3.0), (4.0, 8.0, 2.0),
      (1000.0, null, 1.0), (null, 1000.0, 0.0)
    ).toDF("x", "y", "z")
    val got = graft.engine.Stats.corrMatrix(df, Seq("x", "y", "z"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    // complete cases are rows 1-4 only: y = 2x (corr 1), z = 6 - x (corr -1)
    assert(got(("x", "y")) === 1.0, s"got=$got")
    assert(got(("x", "z")) === -1.0, s"got=$got")
    assert(got(("y", "z")) === -1.0, s"got=$got")
    assert(got.values.forall(v => v >= -1.0 && v <= 1.0), s"got=$got")
  }

  test("chi-square: structurally-empty cells appear with observed=0, contrib=e") {
    import spark.implicits._
    // no (r2, c2) rows at all: the grid must still emit that cell —
    // dropping it would understate chi-square by its expected count
    val df = (Seq.fill(5)(("r1", "c1")) ++ Seq.fill(5)(("r1", "c2")) ++
      Seq.fill(10)(("r2", "c1"))).toDF("r", "c")
    val cells = Stats.chiSquareCells(df, "r", "c").collect()
      .map(x => (x.getString(0), x.getString(1)) -> x).toMap
    assert(cells.size === 4)
    val empty = cells(("r2", "c2"))
    assert(empty.getAs[Long]("observed") === 0L)
    assert(empty.getAs[Double]("expected") === 2.5) // 10*5/20
    assert(empty.getAs[Double]("contrib") === 2.5)  // (0-e)^2/e = e
  }

  test("chi-square: null categories are dropped up front (crosstab semantics)") {
    import spark.implicits._
    val clean = (Seq.fill(10)(("r1", "c1")) ++ Seq.fill(20)(("r1", "c2")) ++
      Seq.fill(30)(("r2", "c1")) ++ Seq.fill(40)(("r2", "c2"))).toDF("r", "c")
    val noisy = clean.unionByName(Seq(
      (null.asInstanceOf[String], "c1"), ("r1", null.asInstanceOf[String]),
      (null.asInstanceOf[String], null.asInstanceOf[String])).toDF("r", "c"))
    // null-category rows must not appear as cells NOR inflate marginals
    val a = Stats.chiSquareCells(clean, "r", "c").orderBy("r", "c").collect()
    val b = Stats.chiSquareCells(noisy, "r", "c").orderBy("r", "c").collect()
    assert(b.map(_.toSeq).toSeq === a.map(_.toSeq).toSeq)
  }

  test("KS statistic: hand-computed ECDF gap, identical/disjoint/missing samples") {
    def ks(rows: Seq[(String, Double, String)]): Map[String, (Long, Long, Double)] =
      Stats.ksStat(rows.toDF("g", "v", "s"), "g", "v", "s", "A", "B")
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // A={1,2,3}, B={2,3,4}: max |Fa-Fb| = 1/3 at v∈{1,2,3}
    val basic = ks(Seq(("g", 1.0, "A"), ("g", 2.0, "A"), ("g", 3.0, "A"),
      ("g", 2.0, "B"), ("g", 3.0, "B"), ("g", 4.0, "B")))
    assert(basic("g") === ((3L, 3L, 0.33333333)))
    // identical samples -> D = 0; fully separated -> D = 1
    val ident = ks(Seq(("g", 1.0, "A"), ("g", 2.0, "A"),
      ("g", 1.0, "B"), ("g", 2.0, "B")))
    assert(ident("g")._3 === 0.0)
    val apart = ks(Seq(("g", 1.0, "A"), ("g", 2.0, "A"),
      ("g", 10.0, "B"), ("g", 11.0, "B")))
    assert(apart("g")._3 === 1.0)
    // a group missing one sample gets the sentinel
    val missing = ks(Seq(("g", 1.0, "A"), ("g", 2.0, "A")))
    assert(missing("g") === ((2L, 0L, -99999.0)))
  }

  test("group mode breaks count ties on the smaller value") {
    import spark.implicits._
    val df = Seq(("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c"),
      ("h", "z")).toDF("grp", "v")
    val got = Stats.groupMode(df, "grp", "v")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got("g") === (("a", 2L)))  // a ties b at 2, smaller value wins
    assert(got("h") === (("z", 1L)))
  }

  test("category entropy: uniform maxes, single-category zero, exact grid") {
    import spark.implicits._
    val df = Seq(("u", "x"), ("u", "y"), ("u", "x"), ("u", "y"),
      ("v", "only")).toDF("grp", "cat")
    val got = Stats.categoryEntropy(df, "grp", "cat")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // two equal categories: H = -2·(2·round8(ln .5))/4e8 = round8(ln 2)
    val ln2_8 = BigDecimal(math.log(0.5))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    assert(got("u") === ((4L, 2L, (-ln2_8 * 4 * 100000000L).toLongExact
      .toDouble / 1e8 / 4.0)))
    assert(got("v") === ((1L, 1L, 0.0)))
  }

  test("hhi: exact integer sum-of-squares over one division") {
    import spark.implicits._
    val df = Seq(("g", 1L), ("g", 1L), ("g", 1L), ("g", 2L),
      ("h", 5L)).toDF("grp", "k")
    val got = Stats.hhi(df, "grp", "k")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got("g") === ((4L, (9.0 + 1.0) / 16.0)))  // (3² + 1²)/4²
    assert(got("h") === ((1L, 1.0)))                 // monopoly
  }

  test("winsorize clips to exact group percentiles, map-only outside the cuts") {
    import spark.implicits._
    // group g: 1..20; cuts via the shared interpolation pos = p·(n−1),
    // value = lower + frac·(upper − lower) — computed with the identical
    // float expression here
    def cut(p: Double): Double = {
      val pos = p * 19.0
      val lower = math.floor(pos) + 1.0 // values are 1..20 at index pos
      lower + (pos - math.floor(pos)) * 1.0
    }
    val df = (1 to 20).map(i => ("g", i.toDouble)) :+ (("h", 5.0))
    val got = Stats.winsorize(df.toDF("grp", "x"), "grp", "x")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got(("g", 1.0)) === cut(0.05))   // clipped up to p05
    assert(got(("g", 20.0)) === cut(0.95))  // clipped down to p95
    assert(got(("g", 10.0)) === 10.0)  // interior untouched
    // single-value group: both cuts equal the value; nothing moves
    assert(got(("h", 5.0)) === 5.0)
    // deterministic under repartitioning
    val again = Stats.winsorize(df.toDF("grp", "x").repartition(6), "grp", "x")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(again === got)
  }

  test("mutualInfo: analytic values — H(X) for X=Y, exactly 0 when independent") {
    import spark.implicits._
    // X = Y, uniform over {a,b}: I(X;Y) = H(X) = ln 2
    val same = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b"))
      .toDF("x", "y")
    val (n1, mi1) = Stats.mutualInfo(same, "x", "y")
      .as[(Long, Double)].head()
    assert(n1 === 4L)
    assert(math.abs(mi1 - math.log(2.0)) < 1e-8, s"mi=$mi1")
    // perfectly independent uniform grid: every term is ln 1 = 0
    val indep = Seq(("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"))
      .toDF("x", "y")
    val (_, mi2) = Stats.mutualInfo(indep, "x", "y")
      .as[(Long, Double)].head()
    assert(mi2 === 0.0)
    // null categories are dropped (crosstab semantics, as in chi-square)
    val withNull = same.unionByName(
      Seq((Option.empty[String], Option("a"))).toDF("x", "y"))
    val (n3, mi3) = Stats.mutualInfo(withNull, "x", "y")
      .as[(Long, Double)].head()
    assert(n3 === 4L && math.abs(mi3 - mi1) < 1e-12)
  }

  test("cusumDrift: analytic peak on a level shift; flat series has zero drift") {
    // values [0,0,10,10]: n=4, S=20, scaled residuals y = 4v-20 =
    // [-20,-20,20,20]; cum = [-20,-40,-20,0]; runmin = [-20,-40,-40,-40];
    // C = [0,0,20,40] → peak 40/4 = 10 at position 4 (shift detected,
    // peak at the end of the drifted run).
    val df = Seq(
      ("a", 1L, 1L, 0.0), ("a", 2L, 2L, 0.0),
      ("a", 3L, 3L, 10.0), ("a", 4L, 4L, 10.0),
      ("b", 1L, 1L, 5.0), ("b", 2L, 2L, 5.0),
      // c DROPS from the very first row: y = 4·v − S = [10,-10] scaled
      // by n=2 → cum [10, 0], runmin incl. the cum_0 = 0 baseline →
      // C = [10, 0] → peak 10/2 = 5 at pos 1. Without the baseline the
      // peak would (wrongly) be 0 — the review-found bug.
      ("c", 1L, 1L, 10.0), ("c", 2L, 2L, 0.0))
      .toDF("g", "pos", "id", "v")
    val got = Stats.cusumDrift(df, "g", "pos", "id", "v")
      .as[(String, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(("a", 4L, 4L, 10.0), ("b", 2L, 1L, 0.0),
      ("c", 2L, 1L, 5.0)))
    // partition invariance (exact decimal grid until the final division)
    val again = Stats.cusumDrift(df.repartition(5), "g", "pos", "id", "v")
      .as[(String, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(again === got)
  }

  test("weightedMedian: half the WEIGHT, not half the rows; zero weights excluded") {
    // values 1(w=1), 2(w=1), 10(w=8): unweighted median 2, weighted 10
    // (cum at 10 reaches 10 >= 10/2... threshold 2*cum>=tot: at x=10
    // cum=10, tot=10 -> qualifies; at x=2 cum=2, 4<10 -> no)
    val df = Seq(("g", 1.0, 1.0, 1L), ("g", 2.0, 1.0, 2L),
      ("g", 10.0, 8.0, 3L)).toDF("g", "x", "w", "id")
    val r = Stats.weightedMedian(df, "g", "x", "w", Seq("id"))
      .as[(String, Double, Double)].head()
    assert(r === (("g", 10.0, 10.0)))
    // exact midpoint: w=[1,1]: at x=1 cum=1, 2*1 >= 2 -> lower median 1
    val mid = Seq(("g", 1.0, 1.0, 1L), ("g", 5.0, 1.0, 2L))
      .toDF("g", "x", "w", "id")
    assert(Stats.weightedMedian(mid, "g", "x", "w", Seq("id"))
      .as[(String, Double, Double)].head()._3 === 1.0)
    // all-zero weights: group is absent, not a divide error
    val z = Seq(("z", 1.0, 0.0, 1L)).toDF("g", "x", "w", "id")
    assert(Stats.weightedMedian(z, "g", "x", "w", Seq("id")).count() === 0L)
  }

  test("anovaOneWay: textbook F; within-variance-free design is guarded NULL") {
    // groups [1,2,3], [2,3,4], [3,4,5]: SSB = 6, SSW = 6, F = (6/2)/(6/6) = 3
    val df = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 2.0, "b" -> 3.0, "b" -> 4.0,
      "c" -> 3.0, "c" -> 4.0, "c" -> 5.0).toDF("g", "v")
    val r = Stats.anovaOneWay(df, "g", "v")
      .as[(Long, Long, Option[Double])].head()
    assert(r === ((3L, 9L, Some(3.0))))
    // zero within-group variance → SSW = 0 → guarded NULL, not a div error
    val const = Seq("a" -> 1.0, "a" -> 1.0, "b" -> 5.0, "b" -> 5.0)
      .toDF("g", "v")
    assert(Stats.anovaOneWay(const, "g", "v")
      .as[(Long, Long, Option[Double])].head()._3.isEmpty)
    // partition invariance (grid-summed group terms)
    val again = Stats.anovaOneWay(df.repartition(7), "g", "v")
      .as[(Long, Long, Option[Double])].head()
    assert(again === r)
  }

  test("gini: 0 for perfect equality, (n-1)/n for one holder; tie-order invariant") {
    val eq = Seq.fill(5)(("g", 10.0)).toDF("g", "v")
    assert(Stats.gini(eq, "g", "v").as[(String, Long, Double)].head()
      === (("g", 5L, 0.0)))
    // one subject holds everything: G = (n-1)/n = 0.75
    val one = (Seq.fill(3)(("g", 0.0)) :+ (("g", 100.0))).toDF("g", "v")
    assert(Stats.gini(one, "g", "v").as[(String, Long, Double)].head()
      === (("g", 4L, 0.75)))
    // all-zero group: guarded NULL
    val z = Seq(("g", 0.0), ("g", 0.0)).toDF("g", "v")
    val r = Stats.gini(z, "g", "v").head()
    assert(r.isNullAt(r.fieldIndex("gini")))
    // partition invariance (ties permute freely, sum is invariant)
    val mix = Seq.fill(10)(("g", 5.0)).++(Seq(("g", 1.0), ("g", 9.0)))
      .toDF("g", "v")
    val a = Stats.gini(mix, "g", "v").as[(String, Long, Double)].head()
    val b = Stats.gini(mix.repartition(7), "g", "v")
      .as[(String, Long, Double)].head()
    assert(a === b)
    // NULL values are excluded BEFORE ranking (review-found: a ranked-
    // but-unsummed null shifted every real rank and inflated n)
    val withNull = Seq(("g", Option.empty[Double]), ("g", Some(1.0)),
      ("g", Some(9.0))).toDF("g", "v")
    val n = Stats.gini(withNull, "g", "v").as[(String, Long, Double)].head()
    assert(n._2 === 2L && n._3 === 0.4) // gini of [1,9], null gone
  }

  test("weightedMedian and anovaOneWay exclude null rows listwise (review rule)") {
    // weightedMedian: a null-value row's weight must NOT enter the
    // cumulative sum (Spark would sort it first, SQL engines last)
    val wm = Seq(("g", Option.empty[Double], Some(10.0), 1L),
      ("g", Some(1.0), Some(1.0), 2L), ("g", Some(2.0), Some(1.0), 3L))
      .toDF("g", "x", "w", "id")
    val r = Stats.weightedMedian(wm, "g", "x", "w", Seq("id"))
      .as[(String, Double, Double)].head()
    assert(r === (("g", 2.0, 1.0))) // total weight 2, lower median 1
    // anova: a null value must not count toward n_g while the sums skip it
    val av = Seq(("a", Some(4.0)), ("a", Some(4.0)), ("a", Option.empty[Double]),
      ("b", Some(1.0)), ("b", Some(2.0)), ("b", Some(3.0))).toDF("g", "v")
    val withoutNull = Seq(("a", 4.0), ("a", 4.0),
      ("b", 1.0), ("b", 2.0), ("b", 3.0)).toDF("g", "v")
    val f1 = Stats.anovaOneWay(av, "g", "v")
      .as[(Long, Long, Option[Double])].head()
    val f2 = Stats.anovaOneWay(withoutNull, "g", "v")
      .as[(Long, Long, Option[Double])].head()
    assert(f1 === f2 && f1._2 === 5L)
  }

  test("kaplanMeier: textbook steps, censoring reduces risk set without a death, " +
      "all-die step forces survival 0") {
    // subjects: d=1 death; d=2 death + censored; d=3 death
    val sp = Seq((1L, true), (2L, true), (2L, false), (3L, true))
      .toDF("dur", "ev")
    val got = Stats.kaplanMeier(sp, "dur", "ev")
      .orderBy("duration")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 4L, 1L, 0L, 0.75),   // S = 3/4
      (2L, 3L, 1L, 1L, 0.5),    // S = 3/4 · 2/3 (censor costs no factor)
      (3L, 1L, 1L, 0L, 0.0)))   // last at-risk dies → S = 0
  }

  test("signFlipTest: all-zero diffs give p = 1; a huge consistent shift " +
      "gives the minimum add-one p; flips match an independent md5") {
    import org.apache.spark.sql.functions.col
    // H0 exactly true: every T_b = T = 0 → all replicates are "extreme"
    val zero = (1L to 30L).map(k => (k, 0.0)).toDF("k", "d")
    val r0 = Stats.signFlipTest(zero, "k", "d", b = 99).head()
    assert(r0.getAs[Double]("p_value") === 1.0)
    // all diffs strongly one-sided: |T_b| < |T| unless every flip agrees
    val shift = (1L to 30L).map(k => (k, 10.0)).toDF("k", "d")
    val r1 = Stats.signFlipTest(shift, "k", "d", b = 99).head()
    assert(r1.getAs[Double]("t_obs") === 300.0)
    // independent recomputation of the replicate sums from raw md5
    def sign(b: Int, k: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"perm|$b|$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Character.digit(hex.charAt(0), 16) % 2 == 1) -1 else 1
    }
    val extreme = (0 until 99).count { b =>
      math.abs((1L to 30L).map(k => sign(b, k) * 10.0).sum) >= 300.0
    }
    assert(r1.getAs[Long]("n_extreme") === extreme.toLong)
    assert(r1.getAs[Double]("p_value") === (1.0 + extreme) / 100.0)
    // empty/all-null sample still returns the documented ONE row
    val e = Stats.signFlipTest(
      zero.withColumn("d", org.apache.spark.sql.functions
        .lit(null).cast("double")), "k", "d", b = 9).head()
    assert(e.getAs[Long]("n") === 0L)
    assert(e.isNullAt(e.fieldIndex("p_value")))
  }

  test("logRank: hand-computed hypergeometric terms; two-group contract " +
      "enforced") {
    // a: deaths at 1, 2; b: death at 1, censored at 3
    val sp = Seq((1L, true, "a"), (2L, true, "a"), (1L, true, "b"),
      (3L, false, "b")).toDF("dur", "ev", "arm")
    val r = Stats.logRank(sp, "dur", "ev", "arm").head()
    // t=1: n=(2,2), d=2 → E=1, V=2·2·2·2/(16·3)=1/3
    // t=2: n=(1,1), d=1 → E=0.5, V=1/4; t=3: n=1 → excluded
    assert(r.getAs[String]("group_a") === "a")
    assert(r.getAs[Long]("n_times") === 2L)
    assert(r.getAs[Long]("o_a") === 2L)
    assert(r.getAs[Double]("e_a") === 1.5)
    assert(r.getAs[Double]("variance") === 0.58333333)
    // (2 − 1.5)² / 0.58333333 = 0.42857143 on the 8dp grid
    assert(r.getAs[Double]("chi2") === 0.42857143)
    intercept[IllegalArgumentException] {
      Stats.logRank(sp.withColumn("arm",
        org.apache.spark.sql.functions.lit("only")), "dur", "ev", "arm") }
  }

  test("trimmedMean: outliers excluded, not clamped; all-kept band equals plain mean") {
    // 21 values 1..20 plus one 1000-outlier; [5%,95%] band keeps 1..20
    // (p5 = 2.0 exactly? — use a wide band and pin the narrow case below)
    val df = ((1 to 20).map(v => ("g", v.toDouble)) :+ (("g", 1000.0)))
      .toDF("g", "v")
    val full = Stats.trimmedMean(df, "g", "v", lo = 0.0, hi = 1.0)
      .as[(String, Long, Long, Double)].head()
    assert(full === (("g", 21L, 0L, 57.61904762))) // (210+1000)/21, 8dp
    val trimmed = Stats.trimmedMean(df, "g", "v", lo = 0.0, hi = 0.9)
      .as[(String, Long, Long, Double)].head()
    // p90 of the 21 sorted values (quantile_cont): index 0.9*20 = 18 → 19.0
    assert(trimmed._2 === 19L && trimmed._3 === 2L)
    assert(trimmed._4 === 10.0) // mean of 1..19
    // partition invariance (decimal sums)
    val again = Stats.trimmedMean(df.repartition(5), "g", "v", 0.0, 0.9)
      .as[(String, Long, Long, Double)].head()
    assert(again === trimmed)
  }

  test("olsMulti: exact plane is recovered with r2 = 1; collinear design yields NULLs") {
    // y = 2 + 3*x1 - x2, exact on the cent grid
    val pts = Seq((1.0, 1.0), (2.0, 1.0), (1.0, 2.0), (3.0, 2.0), (2.0, 3.0))
    val df = pts.map { case (x1, x2) => ("g", 2.0 + 3.0 * x1 - x2, x1, x2) }
      .toDF("g", "y", "x1", "x2")
    val r = Stats.olsMulti(df, "g", "y", "x1", "x2")
      .as[(String, Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].head()
    assert(r._2 === 5L)
    assert(r._3.contains(2.0) && r._4.contains(3.0) && r._5.contains(-1.0))
    assert(r._6.contains(1.0))
    // x2 = x1 (collinear): singular normal equations → guarded NULLs
    val sing = Seq(("g", 1.0, 1.0, 1.0), ("g", 2.0, 2.0, 2.0),
      ("g", 3.0, 3.0, 3.0)).toDF("g", "y", "x1", "x2")
    val s = Stats.olsMulti(sing, "g", "y", "x1", "x2")
      .as[(String, Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].head()
    assert(s._3.isEmpty && s._4.isEmpty && s._5.isEmpty && s._6.isEmpty)
  }

  test("dpe pinned oracle: literal VALUES constants match the engine at sf0.01") {
    // q_dpe_statistics's DuckDB oracle is GENERATED from
    // StatsQueries.dpePinnedSf001 (the p-value layer is not
    // SQL-expressible). This drill closes the loop: re-run the engine on
    // the driver's verify fixture and require BIT-EXACT equality with the
    // pinned rows, so fixture or algorithm drift fails here loudly instead
    // of silently hash-mismatching in the driver. Regenerate by printing
    // the rows this test prints on failure.
    val spec = QueryRegistry.all.find(_.name == "q_dpe_statistics").get
    val pins = Seq(
      "/root/testdata/sf0.01" -> graft.queries.StatsQueries.dpePinnedSf001,
      "/root/testdata/sf0.001" -> graft.queries.StatsQueries.dpePinnedSf0001)
      // check every fixture that EXISTS (an assume inside the loop would
      // cancel the whole test at the first missing dir, silently skipping
      // the pins that could have run); require at least one present
      .filter { case (dir, _) =>
        new java.io.File(s"$dir/lineitem.parquet").exists() }
    assume(pins.nonEmpty)
    pins.foreach { case (dir, pin) =>
      val got = spec.run(spark, dir)
        .as[(String, Long, Double, Double, Double, Double, String)]
        .collect().toSeq.sortBy(_._1)
      val exp = pin.map { case (f, n, t, pT, w, pW) =>
        (f, n, t, pT, w, pW, "batch_r1") }
      assert(got === exp,
        s"\nregenerate the $dir pin from:\n${got.mkString("\n")}")
      // and the generated oracle embeds exactly these literals
      // (round-trip shortest repr — DuckDB parses back to the same
      // float64 bits) with the size-selector tag
      val sql = spec.oracle.get
      exp.foreach { case (f, n, t, pT, w, pW, _) =>
        Seq(t, pT, w, pW).foreach(d =>
          assert(sql.contains(java.lang.Double.toString(d))))
        assert(sql.contains(s"'$f', CAST($n AS BIGINT)"))
      }
    }
  }

  test("DpePin generator reproduces the committed pin blocks byte-for-byte") {
    // `graft.DpePin <dir>` is the mechanical refresh path for the pinned
    // VALUES oracle: its printed val must equal the literal committed in
    // StatsQueries.scala EXACTLY (formatting included), so regeneration
    // is a paste, never a hand-edit. Guards both the engine rows and the
    // literal formatter (integral doubles as `<long>.0`, lowercase
    // exponent shortest-repr otherwise).
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        "src/main/scala/graft/queries/StatsQueries.scala")), "UTF-8")
    val dirs = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.001")
      .filter(d => new java.io.File(s"$d/lineitem.parquet").exists())
    assume(dirs.nonEmpty)
    dirs.foreach { dir =>
      val block = graft.DpePin.pinBlock(spark, dir)
      assert(src.contains(block),
        s"committed pin for $dir is stale — paste this block:\n$block")
    }
  }
}

/** Property drill for the Wilcoxon p-value's scipy `mode='auto'`
  * convention (Stats.wilcoxonPValue): exact signed-rank DP iff n <= 50
  * AND no ties, else normal approximation with tie correction and no
  * continuity correction. Each branch is checked against an INDEPENDENT
  * reimplementation (BigInt subset-count DP; erfc-based normal CDF), so
  * a branch-boundary off-by-one or a formula drift fails here without
  * touching the published-table pins above. */
class WilcoxonProps extends org.scalacheck.Properties("stats.wilcoxon") {
  import org.scalacheck.{Gen, Prop}

  // independent exact two-sided p: BigInt count of subsets of {1..n}
  // with rank sum <= floor(W), doubled, capped at 1
  private def exactP(n: Int, w: Double): Double = {
    val maxSum = n * (n + 1) / 2
    val counts = Array.fill(maxSum + 1)(BigInt(0))
    counts(0) = BigInt(1)
    for (r <- 1 to n; s <- maxSum to r by -1) counts(s) += counts(s - r)
    val cap = math.min(math.floor(w).toInt, maxSum)
    val cum = counts.take(cap + 1).sum
    val p = 2.0 * (BigDecimal(cum) / BigDecimal(BigInt(1) << n)).toDouble
    math.min(1.0, p)
  }

  // independent normal two-sided p via erfc: 2*Phi(-|z|) = erfc(|z|/sqrt(2))
  private def normalP(n: Long, w: Double, tieCounts: Seq[Long]): Double = {
    val mn = n * (n + 1) / 4.0
    val tieAdj = tieCounts.map(t => t.toDouble * t * t - t).sum / 48.0
    val se = math.sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - tieAdj)
    val z = (w - mn) / se
    org.apache.commons.math3.special.Erf.erfc(math.abs(z) / math.sqrt(2.0))
  }

  private val smallN = Gen.choose(5, 12)
  private def wFor(n: Int): Gen[Double] =
    Gen.choose(0.0, n * (n + 1) / 2.0)

  property("exact branch (n<=50, untied) matches the BigInt subset count") =
    Prop.forAll(smallN.flatMap(n => wFor(n).map((n, _)))) { case (n, w) =>
      val got = Stats.wilcoxonPValue(n.toLong, w, Seq.fill(n)(1L))
      val want = exactP(n, w)
      math.abs(got - want) < 1e-12
    }

  property("boundary: n=50 untied is the exact DP, n=51 untied is the normal approx") =
    Prop.forAll(Gen.choose(0.0, 50 * 51 / 2.0)) { w =>
      val p50 = Stats.wilcoxonPValue(50L, w, Seq.fill(50)(1L))
      val p51 = Stats.wilcoxonPValue(51L, w, Seq.fill(51)(1L))
      // n=50 equals the independent exact count (proves the exact branch
      // still covers 50); n=51 equals the erfc normal (proves the switch
      // happens ABOVE 50, scipy's auto boundary)
      math.abs(p50 - exactP(50, w)) < 1e-9 &&
        math.abs(p51 - normalP(51L, w, Seq.fill(51)(1L))) < 1e-12
    }

  property("ANY tie forces the normal branch regardless of n, with tie correction") =
    Prop.forAll(smallN, Gen.choose(2, 4)) { (n0, tie) =>
      // n values with one tie group of size `tie` (rest untied, so the
      // integer rank lattice is left and scipy switches to approx)
      val n = math.max(n0, tie + 1)
      val tieCounts = Seq.fill(n - tie)(1L) :+ tie.toLong
      val w = n * (n + 1) / 4.0 - 1.0 // near the null mean, se > 0 here
      val got = Stats.wilcoxonPValue(n.toLong, w, tieCounts)
      val want = normalP(n.toLong, w, tieCounts)
      // also prove it is NOT the exact value when the two differ
      val exact = exactP(n, w)
      math.abs(got - want) < 1e-12 &&
        (math.abs(want - exact) < 1e-9 || math.abs(got - exact) > 1e-9)
    }

  property("two-sided p is monotone in W on the exact branch") =
    Prop.forAll(smallN.flatMap(n =>
      wFor(n).flatMap(a => wFor(n).map(b => (n, a, b))))) { case (n, a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      Stats.wilcoxonPValue(n.toLong, lo, Seq.fill(n)(1L)) <=
        Stats.wilcoxonPValue(n.toLong, hi, Seq.fill(n)(1L)) + 1e-12
    }
}

