package graft

import org.apache.spark.sql.functions._
import graft.llm.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val keys = (1L to 2000L).toDF("id")

  // an empty stratum map samples every row at the default fraction
  private def sample(df: org.apache.spark.sql.DataFrame, fraction: Double,
      seed: String = "sample") =
    Sampling.stratifiedSample(df, "id", "id", Map.empty, fraction, seed)

  test("fraction edges: 1.0 keeps every row, 0.0 keeps none") {
    assert(sample(keys, 1.0).count() === 2000L)
    assert(sample(keys, 0.0).count() === 0L)
  }

  test("sample rate lands near the fraction; invariant under repartitioning") {
    val picked = sample(keys, 0.5).as[Long].collect().toSet
    assert(math.abs(picked.size - 1000) < 80, s"got ${picked.size}")
    val repart = sample(keys.repartition(7), 0.5).as[Long].collect().toSet
    assert(repart === picked)
  }

  test("smaller fractions are subsets of larger ones (nested thresholds)") {
    val s25 = sample(keys, 0.25).as[Long].collect().toSet
    val s50 = sample(keys, 0.5).as[Long].collect().toSet
    assert(s25.subsetOf(s50))
    // a different seed draws a genuinely different subset
    val other = sample(keys, 0.25, seed = "s2").as[Long].collect().toSet
    assert(other !== s25)
  }

  test("stratified sampling honors per-stratum fractions and the default") {
    val df = (1L to 3000L).toDF("id")
      .withColumn("lang", element_at(array(lit("en"), lit("fr"), lit("zh")),
        (pmod(col("id"), lit(3)) + 1).cast("int")))
    val out = Sampling.stratifiedSample(df, "id", "lang",
        Map("en" -> 0.8, "fr" -> 0.2), default = 0.0)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.getOrElse("zh", 0L) === 0L)        // default 0 drops stratum
    assert(math.abs(out("en") - 800L) < 90, out.toString)
    assert(math.abs(out("fr") - 200L) < 60, out.toString)
  }

  test("per-group sample takes exactly k, deterministically, under repartition") {
    val df = (1L to 900L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val once = Sampling.samplePerGroup(df, "id", "g", k = 25)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(once.groupBy(_._2).view.mapValues(_.length).toMap ===
      Map("g0" -> 25, "g1" -> 25, "g2" -> 25))
    val again = Sampling.samplePerGroup(df.repartition(7), "id", "g", k = 25)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(once.sorted.toSeq === again.sorted.toSeq)
    // k >= group size keeps the whole group
    assert(Sampling.samplePerGroup(df, "id", "g", k = 500).count() === 900L)
  }

  test("split assignment is total, stable, and near the requested weights") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.assignSplit(keys, "id", splits)
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.values.sum === 2000L)                 // total: every row assigned
    assert(math.abs(out("train") - 1600L) < 80, out.toString)
    assert(math.abs(out("val") - 200L) < 60, out.toString)
    assert(math.abs(out("test") - 200L) < 60, out.toString)
    // same key -> same split on a different table sharing the key space
    val other = (1L to 500L).toDF("id")
    val a = Sampling.assignSplit(keys.filter(col("id") <= 500), "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = Sampling.assignSplit(other, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a === b)
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(keys, "id", Seq("a" -> 0.5, "b" -> 0.3))
    }
  }

  test("temperature mix upweights small strata and saturates at 1.0") {
    // strata: big (1600 rows), small (100 rows), tiny (25 rows)
    val df = ((1 to 1600).map(i => (i.toLong, "big")) ++
      (2001 to 2100).map(i => (i.toLong, "small")) ++
      (3001 to 3025).map(i => (i.toLong, "tiny"))).toDF("id", "src")
    val out = Sampling.temperatureMix(df, "id", "src", budget = 400L)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // tau=0.5 weights: √1600=40, √100=10, √25=5 → targets 290/73/36:
    // tiny saturates at its population (rate > 1)
    assert(out("tiny") === 25L, out)
    // natural proportions would give small ~400·100/1725 ≈ 23; the
    // flattened mix should land near its √-share target of ~73
    assert(out("small") > 40L && out("small") < 110L, out)
    assert(out("big") < 350L, out)
    // deterministic under repartitioning
    val again = Sampling.temperatureMix(df.repartition(9), "id", "src", 400L)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === out)
  }

  test("weighted PPS sample favors heavy rows, saturates, and is stable") {
    // weight 0 rows can never be kept; a row with rate >= 1 always is
    val df = ((1L to 900L).map(i => (i, 1L)) ++ Seq((1000L, 0L), (2000L, 500000L)))
      .toDF("id", "w")
    val kept = Sampling.weightedSample(df, "id", "w", budget = 100L)
      .select("id").as[Long].collect().toSet
    assert(!kept.contains(1000L))                 // zero weight
    assert(kept.contains(2000L))                  // rate saturates at 1
    // expected light-row keeps: 100 * 1 / 500900 each ≈ 0.18 total
    assert(kept.count(_ <= 900L) < 50, s"kept=${kept.size}")
    // deterministic under repartitioning
    val again = Sampling.weightedSample(df.repartition(7), "id", "w", 100L)
      .select("id").as[Long].collect().toSet
    assert(again === kept)
    // uniform weights degrade to ~budget expected size
    val uni = Sampling.weightedSample(keys.withColumn("w", lit(3L)),
      "id", "w", budget = 500L).count()
    assert(uni > 400L && uni < 600L, s"uni=$uni")
  }

  test("deterministic shuffle is a stable total permutation") {
    val once = Sampling.deterministicShuffle(keys, "id").as[Long].collect().toSeq
    val again = Sampling.deterministicShuffle(keys.repartition(5), "id")
      .as[Long].collect().toSeq
    assert(once === again)
    assert(once.sorted === (1L to 2000L))
    assert(once !== (1L to 2000L).toSeq)          // actually permuted
    val epoch1 = Sampling.deterministicShuffle(keys, "id", seed = "epoch1")
      .as[Long].collect().toSeq
    assert(epoch1 !== once)                       // new seed, new order
  }

  test("negativeSample: deterministic in-catalog draws, positives " +
      "excluded, at most k per pair") {
    val pos = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 10L))
      .toDF("user_id", "item_id") // dup positive collapses to one draw set
    val cat = (10L to 15L).toDF("p_partkey")
    val r = Sampling.negativeSample(pos, "user_id", "item_id",
      cat, "p_partkey", k = 3)
    val rows = r.collect().map(x => (x.getLong(0), x.getLong(1),
      x.getLong(2), x.getLong(3)))
    // stable under re-run and repartition
    val again = Sampling.negativeSample(pos.repartition(7), "user_id",
      "item_id", cat, "p_partkey", k = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(rows.sorted.toSeq === again.sorted.toSeq)
    val positives = Set((1L, 10L), (1L, 20L), (2L, 10L))
    rows.foreach { case (u, it, draw, neg) =>
      assert(positives.contains((u, it)), "draws key off a real positive")
      assert((10L to 15L).contains(neg), s"negative $neg outside catalog")
      assert(!positives.contains((u, neg)), "sampled a positive back")
      assert(draw >= 0L && draw < 3L)
    }
    // ≤ k survivors per positive pair (collisions drop, never redraw)
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, g) =>
      assert(g.length <= 3)
      assert(g.map(_._3).distinct.length === g.length, "duplicate draw ids")
    }
  }

  test("classWeights: inverse-frequency balance, nulls excluded") {
    val df = (Seq.fill(3)("a") ++ Seq("b")).map(Option(_))
      .:+(Option.empty[String]).toDF("lbl")
    val w = Sampling.classWeights(df, "lbl").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.keySet === Set("a", "b"))
    def r8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(w("a") === (3L, r8(4.0 / (2 * 3)))) // n/(k·n_c), 8dp grid
    assert(w("b") === (1L, r8(4.0 / (2 * 1))))
  }

  test("oversample: ceil(max/n) copies per class, 0-based copy ids") {
    val df = (Seq.fill(5)("big") ++ Seq.fill(2)("small")).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("id", "lbl")
    val r = Sampling.oversample(df, "lbl").collect()
      .map(x => (x.getAs[String]("lbl"), x.getAs[Long]("id"),
        x.getAs[Long]("copy")))
    // big: factor ceil(5/5)=1; small: ceil(5/2)=3
    assert(r.count(_._1 == "big") === 5)
    assert(r.count(_._1 == "small") === 6)
    r.filter(_._1 == "small").groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq === Seq(0L, 1L, 2L)) }
    intercept[IllegalArgumentException] {
      Sampling.oversample(df.withColumnRenamed("id", "copy"), "lbl") }
  }

  test("negativeSample: a user who saw the whole catalog gets nothing") {
    val pos = Seq((1L, 100L), (1L, 200L)).toDF("user_id", "item_id")
    val cat = Seq(100L, 200L).toDF("p_partkey")
    val r = Sampling.negativeSample(pos, "user_id", "item_id",
      cat, "p_partkey", k = 5)
    assert(r.count() === 0L)
  }

  test("kfold: total, stable, near-even, and consistent with assignSplit") {
    val folded = Sampling.kfold(keys, "id", k = 5)
    val byFold = folded.groupBy("fold").count()
      .as[(Int, Long)].collect().toMap
    assert(byFold.keySet === Set(0, 1, 2, 3, 4))
    assert(byFold.values.sum === 2000L)
    byFold.values.foreach(n => assert(math.abs(n - 400) < 80, s"fold=$n"))
    // same assignment under different partitioning (determinism)
    val repart = Sampling.kfold(keys.repartition(7), "id", k = 5)
      .as[(Long, Int)].collect().toMap
    val once = folded.as[(Long, Int)].collect().toMap
    assert(once === repart)
    // kfold IS assignSplit with k equal slices, fold = name
    val viaSplit = Sampling.assignSplit(keys, "id",
        (0 until 5).map(i => i.toString -> 0.2), seed = "fold")
      .selectExpr("id", "CAST(split AS INT) AS fold")
      .as[(Long, Int)].collect().toMap
    assert(once === viaSplit)
  }
}
