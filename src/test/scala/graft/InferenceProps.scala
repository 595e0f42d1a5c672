package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.sql.functions._

import graft.engine.{Eval, Stats}

/** ScalaCheck properties for the round-5 inference tier: each pins a
  * mathematical invariant of the estimator against randomized inputs —
  * not a fixture, not the oracle — so a refactor that silently bends the
  * statistics (the eb_smooth double-rounding class of bug) fails here
  * even when a hash-compare would still pass on the fixture.
  */
class InferenceProps extends Properties("engine.inference") {

  // Spark-backed properties are ~1s/case: keep the case count small but
  // real (the generators hit ties, empties and extremes quickly)
  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(10)

  private lazy val spark = Sessions.local(4)

  private val smallP: Gen[List[Double]] =
    Gen.choose(2, 12).flatMap(m =>
      Gen.listOfN(m, Gen.choose(1, 10000).map(_ / 10000.0)))

  property("fdrBh: adjusted p is monotone along the sorted order, " +
    "within [p, 1], and rejections form a prefix") = Prop.forAll(smallP) {
    ps =>
      import spark.implicits._
      val df = ps.zipWithIndex.map { case (p, i) => (s"h$i", p) }
        .toDF("h", "p")
      val rows = Stats.fdrBh(df, "h", "p", alpha = 0.1)
        .orderBy("rank").collect()
      val adj = rows.map(_.getAs[Double]("p_adj"))
      val raw = rows.map(_.getAs[Double]("p_value"))
      val rej = rows.map(_.getAs[Boolean]("reject"))
      adj.zip(adj.tail).forall { case (a, b) => a <= b + 1e-12 } &&
        adj.zip(raw).forall { case (a, p) => a >= p - 1e-9 && a <= 1.0 } &&
        rej.zip(rej.tail).forall { case (a, b) => a || !b }
  }

  private val tauSeries: Gen[List[Double]] =
    Gen.choose(3, 10).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-50, 50).map(_.toDouble)))

  property("kendallTauB: |tau| <= 1 and negating the series negates tau") =
    Prop.forAll(tauSeries) { vs =>
      import spark.implicits._
      def tau(xs: List[Double]): Option[Double] = {
        val df = xs.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
          .toDF("g", "i", "v")
        Option(Stats.kendallTauB(df, "g", "i", "v").head()
          .getAs[java.lang.Double]("tau_b")).map(_.doubleValue())
      }
      (tau(vs), tau(vs.map(-_))) match {
        case (Some(a), Some(b)) =>
          math.abs(a) <= 1.0 + 1e-12 && math.abs(a + b) < 1e-8
        case (None, None) => true // all-tied series: denominator 0 twice
        case _ => false
      }
    }

  private val spanGen: Gen[List[(Long, Boolean)]] =
    Gen.choose(2, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 10L), Gen.oneOf(true, false))))

  property("nelsonAalen: cumulative hazard is non-negative, " +
    "non-decreasing, and -ln(KM) bounds it above") =
    Prop.forAll(spanGen) { spans =>
      import spark.implicits._
      val df = spans.toDF("dur", "ev")
      val na = Stats.nelsonAalen(df, "dur", "ev").orderBy("duration")
        .collect().map(r => r.getAs[Long]("duration") ->
          r.getAs[Double]("cum_hazard"))
      val km = Stats.kaplanMeier(df, "dur", "ev").collect()
        .map(r => r.getAs[Long]("duration") ->
          r.getAs[Double]("survival")).toMap
      val hs = na.map(_._2)
      hs.forall(_ >= -1e-12) &&
        hs.zip(hs.tail).forall { case (a, b) => a <= b + 1e-12 } &&
        na.forall { case (d, h) =>
          val s = km(d)
          s == 0.0 || -math.log(s) >= h - 1e-6
        }
    }

  property("rmst is within [0, tau] and monotone in tau") =
    Prop.forAll(spanGen, Gen.choose(1L, 8L)) { (spans, tau) =>
      import spark.implicits._
      val df = spans.toDF("dur", "ev")
      def r(t: Long): Double =
        Stats.rmst(df, "dur", "ev", t).head().getAs[Double]("rmst")
      val a = r(tau)
      val b = r(tau + 3)
      a >= -1e-9 && a <= tau + 1e-9 && b >= a - 1e-9
    }

  private val scoredGen: Gen[List[(Double, Boolean)]] =
    Gen.choose(2, 25).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0, 50).map(_ / 10.0), Gen.oneOf(true, false))))

  property("averagePrecision in [base_rate-ish, 1]: bounded by 1, NULL " +
    "iff no positives, and a perfect ranking scores 1") =
    Prop.forAll(scoredGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("s", "y")
      val r = Eval.averagePrecision(df, "s", col("y")).head()
      val nPos = rows.count(_._2)
      val ap = Option(r.getAs[java.lang.Double]("avg_precision"))
      (nPos == 0 && ap.isEmpty) || (ap.exists(v =>
        v > 0.0 && v <= 1.0 + 1e-12) && {
        // perfect separation: positives all above negatives → AP = 1
        val perfect = rows.zipWithIndex.map { case ((_, y), i) =>
          (if (y) 100.0 + i else i.toDouble, y) }.toDF("s", "y")
        math.abs(Eval.averagePrecision(perfect, "s", col("y")).head()
          .getAs[Double]("avg_precision") - 1.0) < 1e-9
      })
    }

  property("cohensKappa: bounded by 1, exactly 1 iff perfect agreement") =
    Prop.forAll(Gen.choose(2, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.oneOf("x", "y", "z"), Gen.oneOf("x", "y", "z"))))) {
      rows =>
        import spark.implicits._
        val r = Eval.cohensKappa(rows.toDF("a", "b"), col("a"), col("b"))
          .head()
        val kappa = Option(r.getAs[java.lang.Double]("kappa"))
          .map(_.doubleValue())
        val agreeAll = rows.forall { case (a, b) => a == b }
        kappa match {
          case None => true // pe = 1: both raters constant and equal
          case Some(k) =>
            k <= 1.0 + 1e-12 && (!agreeAll || math.abs(k - 1.0) < 1e-9)
        }
    }

  private val cellGen: Gen[(Int, Int, Int, Int)] = Gen.zip(
    Gen.choose(0, 12), Gen.choose(0, 12), Gen.choose(0, 12),
    Gen.choose(0, 12)).suchThat(t => t._1 + t._2 + t._3 + t._4 >= 2)

  property("hypergeometric pmf render (hyperLnpSql / shared Lanczos): " +
    "exp(lnp) matches an exact BigInt hypergeometric to 1e-10 over the " +
    "whole support, and the support sums to 1") =
    Prop.forAll(cellGen) { case (a, b, c, d) =>
      import spark.implicits._
      val (r1, c1, n) = (a + b, a + c, a + b + c + d)
      def bin(m: Long, k: Long): BigInt =
        if (k < 0 || k > m) BigInt(0)
        else (BigInt(1) to BigInt(k)).foldLeft(BigInt(1))((acc, i) =>
          acc * (BigInt(m) - i + 1) / i)
      val kLo = math.max(0, r1 + c1 - n)
      val kHi = math.min(r1, c1)
      val mc = new java.math.MathContext(40)
      val denom = BigDecimal(bin(n, c1), mc)
      val lnp = Stats.hyperLnpSql(s"$r1.0e0", s"$c1.0e0", s"$n.0e0",
        "CAST(k AS DOUBLE)")
      val got = spark.range(kLo, kHi + 1).toDF("k")
        .select(col("k"), expr(s"EXP($lnp)").as("p"))
        .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("p"))
        .toMap
      val exact = (kLo.toLong to kHi.toLong).map(k => k ->
        (BigDecimal(bin(r1, k) * bin(n - r1, c1 - k), mc) / denom)).toMap
      exact.values.sum.doubleValue > 1.0 - 1e-9 &&
        exact.values.sum.doubleValue < 1.0 + 1e-9 &&
        got.forall { case (k, p) =>
          math.abs(p - exact(k).doubleValue) <= 1e-10
        }
    }

  private val strataGen: Gen[List[(Int, Int, Int, Int)]] =
    Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, Gen.zip(
      Gen.choose(0, 10), Gen.choose(0, 10), Gen.choose(0, 10),
      Gen.choose(0, 10))))

  property("cmh matches the 2x2xK closed form recomputed independently " +
    "in plain scala") = Prop.forAll(strataGen) { strata =>
    import spark.implicits._
    val rows = strata.zipWithIndex.flatMap { case ((a, b, c, d), s) =>
      List.fill(a)((s"s$s", true, true)) ++
        List.fill(b)((s"s$s", true, false)) ++
        List.fill(c)((s"s$s", false, true)) ++
        List.fill(d)((s"s$s", false, false))
    }
    // closed form over the n>1 strata, unrounded doubles
    val used = strata.filter(t => t._1 + t._2 + t._3 + t._4 > 1)
    rows.isEmpty || {
      val r = Stats.cmh(rows.toDF("s", "tr", "oc"), "s", col("tr"),
        col("oc")).head()
      if (used.isEmpty) {
        r.getAs[Long]("n_strata") == 0L && r.isNullAt(4) // V empty → NULL
      } else {
        val oA = used.map(_._1.toLong).sum
        val eA = used.map { case (a, b, c, d) =>
          val n = (a + b + c + d).toDouble
          (a + b) * (a + c) / n
        }.sum
        val vA = used.map { case (a, b, c, d) =>
          val n = (a + b + c + d).toDouble
          (a + b).toDouble * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
        }.sum
        val on = used.map { case (a, b, c, d) =>
          a.toDouble * d / (a + b + c + d) }.sum
        val od = used.map { case (a, b, c, d) =>
          b.toDouble * c / (a + b + c + d) }.sum
        val chiOk = if (vA > 0.0) {
          val want = (oA - eA) * (oA - eA) / vA
          math.abs(r.getAs[Double]("chi2") - want) <= 5e-7 * (1 + want)
        } else r.isNullAt(4)
        val orOk = if (od > 0.0)
          math.abs(r.getAs[Double]("or_mh") - on / od) <=
            5e-7 * (1 + on / od)
        else r.isNullAt(5)
        r.getAs[Long]("n_strata") == used.length.toLong &&
          r.getAs[Long]("o_a") == oA &&
          math.abs(r.getAs[Double]("e_a") - eA) <= 1e-6 &&
          math.abs(r.getAs[Double]("variance") - vA) <= 1e-6 &&
          chiOk && orOk
      }
    }
  }

  property("binomSignTest: p in (0,1], symmetric in sign flips") =
    Prop.forAll(Gen.choose(1, 15).flatMap(n => Gen.listOfN(n,
      Gen.choose(-20, 20).map(_.toDouble).suchThat(_ != 0.0)))) { ds =>
      import spark.implicits._
      def p(xs: List[Double]): Double =
        Stats.binomSignTest(xs.map(Tuple1(_)).toDF("d"), "d").head()
          .getAs[Double]("p_two")
      val a = p(ds)
      val b = p(ds.map(-_))
      a > 0.0 && a <= 1.0 && math.abs(a - b) < 1e-8
    }
}
