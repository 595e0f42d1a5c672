package graft

import org.scalacheck.{Gen, Prop, Properties}

import graft.engine.RankStats

/** ScalaCheck properties for the rank-statistics tier — the regression
  * class behind the round-6 sf1 Kruskal–Wallis defect (decimal→double
  * conversion past ~16 significant digits): rank statistics depend on
  * ranks ALONE, so they must be bit-invariant under strictly monotone
  * value transforms, and the engine's grid-summed Kruskal–Wallis must
  * match an independent exact (BigDecimal-summed) recomputation of the
  * SAME documented 8dp-term contract. A tree restructure that silently
  * changes either property fails here at test scale, before any sf1
  * sweep sees it. The companion width audit lives in RankStatsSpec
  * ("width-contract convention"): every decimal→double cast site in
  * RankStats.scala must carry a grep-able `WIDTH:` comment stating its
  * significant-digit bound.
  */
class RankStatsProps extends Properties("engine.rankstats") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(10)

  private lazy val spark = Sessions.local(4)

  // grouped integer-valued samples: small k, deliberate tie pressure
  // (values from a narrow range) — the generators hit all-tied groups,
  // singleton groups and k=1 quickly
  private val kwGen: Gen[List[(String, Int)]] = for {
    k <- Gen.choose(1, 4)
    n <- Gen.choose(4, 30)
    rows <- Gen.listOfN(n,
      Gen.zip(Gen.choose(0, k - 1).map(g => s"g$g"), Gen.choose(-12, 12)))
  } yield rows

  private def kwRun(rows: List[(String, Int)],
      f: Int => Int): (Option[Double], Option[Double]) = {
    import spark.implicits._
    val df = rows.map { case (g, v) => (g, f(v).toDouble) }.toDF("f", "v")
    val r = RankStats.kruskalWallis(df, "f", "v").head()
    def opt(c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None
      else Some(r.getAs[Double](c))
    (opt("h"), opt("h_corrected"))
  }

  property("kruskalWallis: bit-invariant under strictly monotone value " +
    "maps (h is a rank statistic)") = Prop.forAll(kwGen) { rows =>
    val base = kwRun(rows, identity)
    // affine (3v+7) and odd-power (v³) strictly monotone maps preserve
    // the rank order AND the tie structure exactly
    kwRun(rows, v => 3 * v + 7) == base && kwRun(rows, v => v * v * v) == base
  }

  // Spark's round() on double goes through the value's decimal
  // (Double.toString) representation — BigDecimal.valueOf replicates it
  private def round8(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Independent Kruskal–Wallis recomputation of the engine's documented
    * contract: integer midranks, per-group term R_g²/(n_g·N(N+1)) rounded
    * to the 8dp grid, terms summed EXACTLY (BigDecimal — the
    * decimal(28,8) sum), the final formula in double. */
  private def kwReference(rows: List[(String, Int)])
      : (Option[Double], Option[Double]) = {
    val n = rows.size.toLong
    val perV = rows.groupBy(_._2).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    var cum = 0L
    val mr2 = perV.map { case (v, c) =>
      val m = cum * 2 + c + 1; cum += c; v -> m
    }.toMap
    val groups = rows.groupBy(_._1)
    val k = groups.size.toLong
    val nd = n.toDouble
    val terms = groups.values.toSeq.map { g =>
      val ng = g.size.toLong
      val r2g = g.map(r => mr2(r._2)).sum
      round8(r2g.toDouble * r2g.toDouble / (4.0 * ng.toDouble) /
        (nd * (nd + 1.0)))
    }
    val rterm = terms.map(java.math.BigDecimal.valueOf)
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue()
    val h = 12.0 * rterm - 3.0 * (nd + 1.0)
    val ties = perV.collect { case (_, c) if c > 1 =>
      val cd = c.toDouble; cd * cd * cd - cd
    }.sum
    val corr = 1.0 - ties / (nd * nd * nd - nd)
    if (k > 1 && n > k)
      (Some(round8(h)), if (corr > 0.0) Some(round8(h / corr)) else None)
    else (None, None)
  }

  property("kruskalWallis: matches the exact BigDecimal reference of " +
    "the documented 8dp-term grid contract") = Prop.forAll(kwGen) { rows =>
    val (eh, ehc) = kwRun(rows, identity)
    val (rh, rhc) = kwReference(rows)
    def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
      case (Some(x), Some(y)) => math.abs(x - y) < 1e-9
      case (None, None) => true
      case _ => false
    }
    close(eh, rh) && close(ehc, rhc)
  }

  private val spGen: Gen[List[(Int, Int)]] =
    Gen.choose(3, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(-20, 20), Gen.choose(-20, 20))))

  property("spearman: rho bit-invariant under strictly monotone maps of " +
    "either variable") = Prop.forAll(spGen) { xs =>
    import spark.implicits._
    def rho(f: Int => Int, g: Int => Int): Option[Double] = {
      val df = xs.map { case (x, y) => ("g", f(x).toDouble, g(y).toDouble) }
        .toDF("lbl", "x", "y")
      val r = RankStats.spearman(df, "lbl", "x", "y").head()
      if (r.isNullAt(r.fieldIndex("rho"))) None
      else Some(r.getAs[Double]("rho"))
    }
    val base = rho(identity, identity)
    rho(x => 2 * x + 3, identity) == base &&
      rho(identity, y => y * y * y) == base
  }

  private val mkGen: Gen[List[Int]] =
    Gen.choose(3, 15).flatMap(n => Gen.listOfN(n, Gen.choose(-10, 10)))

  property("mannKendall: S and z bit-invariant under strictly monotone " +
    "value maps") = Prop.forAll(mkGen) { vs =>
    import spark.implicits._
    def run(f: Int => Int): (Long, Option[Double]) = {
      val df = vs.zipWithIndex
        .map { case (v, i) => ("g", i.toLong, f(v).toDouble) }
        .toDF("lbl", "t", "v")
      val r = RankStats.mannKendall(df, "lbl", "t", "v").head()
      (r.getAs[Long]("s"),
        if (r.isNullAt(r.fieldIndex("z"))) None
        else Some(r.getAs[Double]("z")))
    }
    run(identity) == run(v => 3 * v + 1)
  }
}
