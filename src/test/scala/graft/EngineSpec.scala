package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Prop, Properties}

import graft.engine._

/** ScalaCheck properties for U1 name normalization. */
class NamesProps extends Properties("Names.normalize") {
  property("idempotent") = Prop.forAll { (s: String) =>
    val n = Names.normalize(s)
    Names.normalize(n) == n
  }
  property("ascii snake output") = Prop.forAll { (s: String) =>
    Names.normalize(s).matches("[a-z0-9_]*")
  }
}

class NamesSpec extends SparkSpec {
  test("normalize matches reference semantics (fonctions.py:59-73)") {
    assert(Names.normalize("Consommation Annuelle (MWh)") ===
      "consommation_annuelle_mwh_")
    assert(Names.normalize("Code Département") === "code_departement")
    assert(Names.normalize("Identifiant__BAN") === "identifiant_ban")
    assert(Names.normalize("Adresse") === "adresse")
  }
  test("sortColumns orders alphabetically; withSuffix renames all") {
    import spark.implicits._
    val df = Seq((1, "a", 2.0)).toDF("b_col", "a_col", "c_col")
    assert(Names.sortColumns(df).columns.toSeq === Seq("a_col", "b_col", "c_col"))
    assert(Names.withSuffix(df, "_x").columns.forall(_.endsWith("_x")))
  }
}

class CastSpec extends SparkSpec {
  import spark.implicits._

  test("trial-cast ladder: numeric (with comma fix) > timestamp > string") {
    val df = Seq(
      ("1,5", "2024-01-01 10:00:00", "abc", "3"),
      ("2.5", "2024-06-30 00:00:00", "1",   "x"))
      .toDF("num_comma", "ts", "mixed", "mixed2")
    val (out, decided) = Cast.autoCastStringColumns(df)
    assert(decided("num_comma") === "float64")
    assert(decided("ts") === "datetime64[ns]")
    assert(decided("mixed") === "string")  // pandas errors='raise': one bad value keeps column as string
    assert(decided("mixed2") === "string")
    assert(out.schema("num_comma").dataType === DoubleType)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.select("num_comma").as[Double].collect().sorted.toSeq === Seq(1.5, 2.5))
  }

  test("all-null string column lands on float64 (pandas to_numeric no-op)") {
    val df = Seq((Option.empty[String], "x"), (Option.empty[String], "y"))
      .toDF("allnull", "tag")
    val (out, decided) = Cast.autoCastStringColumns(df)
    assert(decided("allnull") === "float64")
    assert(out.schema("allnull").dataType === DoubleType)
    assert(decided("tag") === "string")
  }
}

class EntitiesSpec extends SparkSpec {
  test("entity conform adds defaults and dedups") {
    import spark.implicits._
    val silver = Seq(("b1", 1.0), ("b1", 1.0), ("b2", 2.0)).toDF("id_ban", "x")
    val spec = Entities.EntitySpec("e", Seq(
      "id_ban" -> Entities.ColSpec("string", "N/C"),
      "missing" -> Entities.ColSpec("string", "N/C")), Nil)
    val out = Entities.conform(silver, spec)
    assert(out.columns.toSeq === Seq("id_ban", "missing"))
    assert(out.count() === 2)
    assert(out.select("missing").distinct().as[String].collect().toSeq === Seq("N/C"))
  }
}

class ImputeSpec extends SparkSpec {
  import spark.implicits._

  test("no-outlier column filled with mean; outlier column with median") {
    val clean = Seq[Option[Double]](Some(1), Some(2), Some(3), Some(4), None)
    val outly = Seq[Option[Double]](Some(1), Some(2), Some(3), Some(1000), None)
    val df = clean.zip(outly).toDF("clean", "outly")
    val (filled, strategies) = Impute.fillFloats(df, Seq("clean", "outly"))
    assert(strategies === Map("clean" -> "mean", "outly" -> "median"))
    assert(filled.filter(col("clean").isNull || col("outly").isNull).count() === 0)
    val got = filled.agg(max("clean"), max("outly")).head()
    assert(filled.filter(col("clean") === 2.5).count() === 1)  // mean of 1..4
    assert(filled.filter(col("outly") === 2.5).count() === 1)  // median of 1,2,3,1000
    assert(got != null)
  }

  test("columns without nulls are left untouched") {
    val df = Seq((1.0, 2.0), (3.0, 4.0)).toDF("a", "b")
    val (filled, strategies) = Impute.fillFloats(df, Seq("a", "b"))
    assert(strategies.isEmpty)
    assert(filled.collect().toSeq === df.collect().toSeq)
  }

  test("approx quantile path takes the same branches on small data") {
    val clean = Seq[Option[Double]](Some(1), Some(2), Some(3), Some(4), None)
    val outly = Seq[Option[Double]](Some(1), Some(2), Some(3), Some(1000), None)
    val df = clean.zip(outly).toDF("clean", "outly")
    spark.conf.set(Percentiles.ApproxConf, "true")
    try {
      val (_, strategies) = Impute.fillFloats(df, Seq("clean", "outly"))
      assert(strategies === Map("clean" -> "mean", "outly" -> "median"))
    } finally spark.conf.unset(Percentiles.ApproxConf)
  }

  test("all-null columns stay null (pandas: fillna(NaN) is a no-op)") {
    val df = Seq((Some(1.0), Option.empty[Double]),
      (Some(3.0), Option.empty[Double])).toDF("ok", "allnull")
    val (filled, strategies) = Impute.fillFloats(df, Seq("ok", "allnull"))
    assert(strategies.isEmpty) // ok has no nulls; allnull has no values
    assert(filled.filter(col("allnull").isNull).count() === 2)
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("two-phase salted aggregation equals direct aggregation") {
    val df = (1 to 1000).map(i => ("hot", i.toLong, i * 1.5)) ++
      (1 to 10).map(i => ("cold", i.toLong, i * 2.0))
    val data = df.toDF("k", "id", "v")
    val direct = data.groupBy("k")
      .agg(sum(col("v").cast("decimal(18,2)")).as("sum_value"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val salted = graft.engine.Skew.saltedDecimalSum(
      data, Seq("k"), "v", saltCol = col("id"), buckets = 8)
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(salted.view.mapValues(_.doubleValue).toMap ===
      direct.view.mapValues(_.doubleValue).toMap)
  }

  test("salted join equals plain join (inner and left, incl. unmatched rows)") {
    val fact = ((1 to 500).map(i => (1L, i.toLong)) ++  // hot key
      Seq((2L, 900L), (7L, 901L))).toDF("k", "rowid")   // 7 has no dim row
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "attr")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "rowid", "attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.toString)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val plainInner = canon(fact.join(dim, Seq("k")))
    val saltedInner = canon(graft.engine.Skew.saltedJoin(
      fact, dim, Seq("k"), factSaltCol = col("rowid"), buckets = 8))
    assert(saltedInner === plainInner)
    val plainLeft = canon(fact.join(dim, Seq("k"), "left"))
    val saltedLeft = canon(graft.engine.Skew.saltedJoin(
      fact, dim, Seq("k"), factSaltCol = col("rowid"), buckets = 8, "left"))
    assert(saltedLeft === plainLeft)
    assert(plainLeft.exists(_._3.isEmpty)) // the unmatched fact row survives
  }
}

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile reports nulls, exact ndv, typed min/max per column") {
    val df = Seq(
      (Some(1L), Some("b"), Some(2.5)),
      (Some(1L), None, Some(-1.0)),
      (Some(3L), Some("a"), None)).toDF("num", "s", "d")
    val rows = graft.engine.Profile.profile(df, Seq("num", "s", "d"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("num").getLong(1) === 3L)      // n_nonnull
    assert(rows("num").getLong(2) === 2L)      // exact ndv
    assert(rows("num").getDouble(3) === 1.0)   // min_num
    assert(rows("num").getDouble(4) === 3.0)   // max_num
    assert(rows("s").getLong(1) === 2L)
    assert(rows("s").getString(5) === "a" && rows("s").getString(6) === "b")
    assert(rows("s").isNullAt(3) && rows("s").isNullAt(4))
    assert(rows("d").getLong(1) === 2L)
    assert(rows("d").getDouble(3) === -1.0 && rows("d").getDouble(4) === 2.5)
  }

  test("quantile buckets: quartiles of 1..100, nulls pass through, stable under repartition") {
    val df = ((1 to 100).map(i => Some(i.toDouble)) ++ Seq(None, None))
      .toDF("v")
    val got = graft.engine.Profile.quantileBuckets(df, "v", buckets = 4)
      .collect().map(r => Option(r.get(0)).map(_.toString.toDouble) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // cuts at 25.75/50.5/75.25: 1..25 -> q1, 26..50 -> q2, 51..75 -> q3
    assert(got(Some(25.0)) === Some(1L) && got(Some(26.0)) === Some(2L))
    assert(got(Some(50.0)) === Some(2L) && got(Some(51.0)) === Some(3L))
    assert(got(Some(75.0)) === Some(3L) && got(Some(76.0)) === Some(4L))
    assert(got(None) === None)
    val again = graft.engine.Profile
      .quantileBuckets(df.repartition(7), "v", buckets = 4)
      .collect().map(r => Option(r.get(0)).map(_.toString.toDouble) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(again === got)
  }

  test("approx profile keeps the same shape with HLL distinct counts") {
    val df = (1L to 1000L).toDF("id")
    val r = graft.engine.Profile.profile(df, Seq("id"), approx = true).head()
    assert(r.getLong(1) === 1000L)
    assert(math.abs(r.getLong(2) - 1000L) < 50L)
  }
}

class ResampleSpec extends SparkSpec {
  import spark.implicits._

  test("resample+ffill: keep-last per bucket, gaps filled forward, spans per key") {
    // user 7: events in hours 0 (two: id 2 is later) and 3 -> spine 0..3,
    // hours 1-2 forward-filled from hour 0's LAST event (id 2, v=2.0).
    // user 8: single event -> one spine row, no fill needed.
    val h = 3600000000L
    val df = Seq(
      (7L, 100L, 1L, 1.0), (7L, 200L, 2L, 2.0), (7L, 3 * h + 5L, 3L, 9.0),
      (8L, 2 * h + 1L, 4L, 4.0)).toDF("user_id", "us", "event_id", "value")
    val out = Resample.resampleFfill(df, Seq("user_id"), "us", "event_id",
        "value", stepUs = h)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) / h, r.getDouble(2))).toSet
    assert(out === Set(
      (7L, 0L, 2.0), (7L, 1L, 2.0), (7L, 2L, 2.0), (7L, 3L, 9.0),
      (8L, 2L, 4.0)))
  }

  test("resample+ffill: equal-us tie inside a bucket resolves by id desc") {
    val h = 3600000000L
    val df = Seq((7L, 50L, 1L, 1.0), (7L, 50L, 9L, 5.0))
      .toDF("user_id", "us", "event_id", "value")
    val out = Resample.resampleFfill(df, Seq("user_id"), "us", "event_id",
      "value", stepUs = h).collect()
    assert(out.length === 1)
    assert(out.head.getDouble(2) === 5.0) // id 9 wins the tie
  }

  test("resample+interp: gaps take the straight line, observed rows pass exact") {
    val h = 3600000000L
    // observed 10.0 at hour 0 and 40.0 at hour 3 -> gaps lerp 20, 30
    val df = Seq((1L, 0L, 1L, 10.0), (1L, 3 * h, 2L, 40.0))
      .toDF("user_id", "us", "event_id", "value")
    val out = Resample.resampleInterp(df, Seq("user_id"), "us", "event_id",
        "value", stepUs = h)
      .collect().map(r => r.getLong(1) / h -> r.getDouble(2)).toMap
    assert(out === Map(0L -> 10.0, 1L -> 20.0, 2L -> 30.0, 3L -> 40.0))
    // non-midpoint fraction lands on the floor-div half-up grid:
    // 10 -> 20 over 3 hops: hour 1 = 13.33333333
    val df3 = Seq((1L, 0L, 1L, 10.0), (1L, 3 * h, 2L, 20.0))
      .toDF("user_id", "us", "event_id", "value")
    val out3 = Resample.resampleInterp(df3, Seq("user_id"), "us", "event_id",
        "value", stepUs = h)
      .collect().map(r => r.getLong(1) / h -> r.getDouble(2)).toMap
    assert(out3(1L) === 13.33333333 && out3(2L) === 16.66666667)
    // partition invariance
    val again = Resample.resampleInterp(df3.repartition(5), Seq("user_id"),
        "us", "event_id", "value", stepUs = h)
      .collect().map(r => r.getLong(1) / h -> r.getDouble(2)).toMap
    assert(again === out3)
    // negative values: the portable floor (not truncate-toward-zero)
    // keeps the grid consistent with DuckDB's // — review-found case
    val dfn = Seq((1L, 0L, 1L, -10.0), (1L, 3 * h, 2L, -20.0))
      .toDF("user_id", "us", "event_id", "value")
    val outn = Resample.resampleInterp(dfn, Seq("user_id"), "us", "event_id",
        "value", stepUs = h)
      .collect().map(r => r.getLong(1) / h -> r.getDouble(2)).toMap
    assert(outn(1L) === -13.33333333 && outn(2L) === -16.66666667)
  }
}

class LoadDedupSpec extends SparkSpec {
  import spark.implicits._

  test("upsert replaces matched keys, keeps unmatched, inserts new") {
    val existing = Seq((1L, "old1"), (2L, "old2"), (3L, "old3")).toDF("pk", "v")
    val incoming = Seq((2L, "new2"), (2L, "zzz2"), (4L, "new4")).toDF("pk", "v")
    val out = LoadDedup.upsert(existing, incoming, Seq("pk"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // pk=2 replaced by keep-first under v-order ("new2" < "zzz2");
    // pk=1,3 untouched; pk=4 inserted
    assert(out === Map(1L -> "old1", 2L -> "new2", 3L -> "old3", 4L -> "new4"))
  }

  test("anti-join append is idempotent (load.py:123-165 shape)") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("pk", "v")
    val incoming = Seq((2L, "b2"), (3L, "c")).toDF("pk", "v")
    val first = LoadDedup.antiJoinOnKeys(incoming, existing, Seq("pk"))
    assert(first.select("pk").as[Long].collect().toSeq === Seq(3L))
    // replay the same batch against the grown table: nothing new
    val grown = existing.unionByName(first)
    assert(LoadDedup.antiJoinOnKeys(incoming, grown, Seq("pk")).count() === 0)
  }

  test("multi-key anti-join and keep-first dedup are deterministic") {
    val existing = Seq((1L, 1, "x")).toDF("k1", "k2", "v")
    val incoming = Seq((1L, 1, "y"), (1L, 2, "z")).toDF("k1", "k2", "v")
    val out = LoadDedup.antiJoinOnKeys(incoming, existing, Seq("k1", "k2"))
    assert(out.select("v").as[String].collect().toSeq === Seq("z"))

    val dups = Seq((1L, "2024-01-02", "late"), (1L, "2024-01-01", "early"))
      .toDF("pk", "d", "v")
    val kept = LoadDedup.dedupKeepFirst(dups, Seq("pk"), Seq("d"))
    assert(kept.select("v").as[String].collect().toSeq === Seq("early"))
  }

  test("bloom-pruned anti-join equals the exact anti-join (incl. null keys)") {
    val rnd = new scala.util.Random(3)
    val existing = (1 to 400).map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(5)))
      .map { case (k, g) => (if (k % 7 == 0) None else Some(k), g) }
      .toDF("pk", "g")
    val incoming = (1 to 400).map(i => (rnd.nextInt(600).toLong, i))
      .map { case (k, i) => (if (k % 11 == 0) None else Some(k), i) }
      .toDF("pk", "i")
    val exact = LoadDedup.antiJoinOnKeys(incoming, existing, Seq("pk"))
      .collect().map(r => (Option(r.get(0)), r.getInt(1))).sortBy(_._2)
    val pruned = LoadDedup
      .antiJoinBloomPruned(incoming, existing, Seq("pk"), expectedKeys = 500L)
      .collect().map(r => (Option(r.get(0)), r.getInt(1))).sortBy(_._2)
    assert(pruned === exact)
  }

  test("bloom-pruned anti-join equals exact on composite keys") {
    val existing = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k1", "k2")
    val incoming =
      Seq((1L, "a", 10), (1L, "b", 11), (3L, "c", 12), (9L, "z", 13))
        .toDF("k1", "k2", "v")
    val got = LoadDedup
      .antiJoinBloomPruned(incoming, existing, Seq("k1", "k2"), 10L)
      .select("v").as[Int].collect().sorted
    assert(got.toSeq === Seq(11, 13))
  }
}

/** Categorical encoders ([[graft.engine.Encode]]): total-order index
  * mapping, null passthrough, and the smoothing shrinkage contract. */
class EncodeSpec extends SparkSpec {
  import spark.implicits._
  import graft.engine.Encode

  test("indexEncode: frequency order, value tiebreak, null category -> null index") {
    val df = Seq(Option("b"), Option("b"), Option("a"), Option("a"),
      Option("c"), Option.empty[String]).toDF("cat")
    val m = Encode.indexEncode(df, "cat").collect()
      .map(r => Option(r.getString(0)) -> Option(r.get(1))).toMap
    // a and b tie at 2 -> value order puts a first; c (1) last
    assert(m(Some("a")) === Some(0L))
    assert(m(Some("b")) === Some(1L))
    assert(m(Some("c")) === Some(2L))
    assert(m(None) === None)
  }

  test("hashEncode: bucket in [0,dim), sign is +/-1, null passthrough, no vocabulary") {
    val df = Seq(Option("a"), Option("b"), Option("zz"), Option.empty[String])
      .toDF("cat")
    val r = graft.engine.Encode.hashEncode(df, "cat", dim = 8).collect()
      .map(x => Option(x.getString(0)) ->
        (Option(x.get(1)), Option(x.get(2)))).toMap
    r.foreach { case (k, (b, sg)) =>
      if (k.isEmpty) assert(b.isEmpty && sg.isEmpty)
      else {
        assert(b.exists(v => v.asInstanceOf[Long] >= 0 &&
          v.asInstanceOf[Long] < 8), s"$k -> $b")
        assert(sg.exists(v => v == 1L || v == -1L), s"$k -> $sg")
      }
    }
    // same value always hashes the same (vocabulary-free determinism)
    val again = graft.engine.Encode.hashEncode(df, "cat", dim = 8).collect()
      .map(x => Option(x.getString(0)) ->
        (Option(x.get(1)), Option(x.get(2)))).toMap
    assert(again === r)
  }

  test("targetEncode: shrinks rare categories toward the global mean") {
    // global mean 10; 'big' (100 rows at 20) barely moves, 'rare'
    // (1 row at 0) lands near the prior with m = 50
    val rows = Seq.fill(100)(("big", 20.0)) ++ Seq.fill(100)(("mid", 0.0)) ++
      Seq(("rare", 0.0))
    val enc = Encode.targetEncode(rows.toDF("cat", "y"), "cat", "y",
        smoothing = 50.0).select("cat", "enc").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gMean = 2000.0 / 201.0
    assert(math.abs(enc("big") - (2000.0 + 50 * gMean) / 150.0) < 1e-8)
    assert(math.abs(enc("rare") - (0.0 + 50 * gMean) / 51.0) < 1e-8)
    // shrinkage direction: rare sits between its own mean (0) and gMean
    assert(enc("rare") > 0.0 && enc("rare") < gMean)
    // m = 0 degenerates to the plain category mean
    val raw = Encode.targetEncode(rows.toDF("cat", "y"), "cat", "y",
        smoothing = 0.0).select("cat", "enc").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(raw("big") === 20.0 && raw("rare") === 0.0)
  }

  test("woeEncode: hand-computed Laplace-smoothed WoE, signs, null passthrough") {
    // cat p: 3 rows / 2 positive; cat q: 2 rows / 0 positive; gpos=2 gn=5
    val df = Seq((Option("p"), 1L), (Option("p"), 1L), (Option("p"), 0L),
      (Option("q"), 0L), (Option("q"), 0L), (Option.empty[String], 1L))
      .toDF("cat", "y")
    val m = Encode.woeEncode(df, "cat", "y").select("cat", "woe")
      .distinct().collect()
      .map(r => Option(r.getString(0)) -> Option(r.get(1))).toMap
    def woe(pos: Long, n: Long): Double = {
      val raw = math.log(((pos + 0.5) / (2 + 1.0)) /
        ((n - pos + 0.5) / (5 - 2 + 1.0)))
      BigDecimal(raw).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(m(Some("p")) === Some(woe(2, 3)))
    assert(m(Some("q")) === Some(woe(0, 2)))
    // over-indexes on y=1 → positive; never-positive → negative
    assert(m(Some("p")).get.asInstanceOf[Double] > 0.0)
    assert(m(Some("q")).get.asInstanceOf[Double] < 0.0)
    assert(m(None) === None)
    intercept[IllegalArgumentException] {
      Encode.woeEncode(df.withColumn("woe", col("y")), "cat", "y") }
    intercept[IllegalArgumentException] {
      Encode.woeEncode(df, "cat", "y", alpha = 0.0) }
  }

  test("hashEncode/targetEncode fail loudly on output-column collisions") {
    val df = Seq(("a", 1.0)).toDF("cat", "y")
    intercept[IllegalArgumentException] {
      Encode.hashEncode(df.withColumnRenamed("y", "bucket"), "cat", 8) }
    intercept[IllegalArgumentException] {
      Encode.hashEncode(df.withColumnRenamed("y", "sign"), "cat", 8) }
    intercept[IllegalArgumentException] {
      Encode.targetEncode(df.withColumn("n_cat", col("y")), "cat", "y", 1.0) }
    intercept[IllegalArgumentException] {
      Encode.targetEncode(df.withColumnRenamed("y", "enc"), "cat", "cat", 1.0) }
  }
}

/** ScalaCheck drills for the determinism claims the encoders' scaladocs
  * make (the NamesProps/WilcoxonProps pattern): each property checks the
  * engine against an INDEPENDENT plain-Scala reimplementation, so a
  * hash-order leak, an md5 derivation drift, or a shrinkage-formula edit
  * fails here without any oracle involved. */
class EncodeProps extends Properties("engine.encode") {
  import org.scalacheck.Gen
  import graft.engine.Encode

  // Spark-backed properties are ~1s/case: keep the case count small but
  // real (the generators hit ties, empties and null categories quickly)
  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(12)

  private lazy val spark = Sessions.local(4)

  private val cats: Gen[List[Option[String]]] =
    Gen.listOf(Gen.frequency(
      9 -> Gen.oneOf("a", "b", "c", "d", "e", "ba").map(Option(_)),
      1 -> Gen.const(Option.empty[String])))

  property("indexEncode == total-order reference under any partitioning") =
    Prop.forAll(cats, Gen.choose(1, 7)) { (xs, parts) =>
      import spark.implicits._
      val df = xs.toDF("cat").repartition(parts)
      val got = Encode.indexEncode(df, "cat").collect()
        .map(r => Option(r.getString(0)) ->
          Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      // independent reference: count desc, value asc, dense 0-based
      val ref = xs.flatten.groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (v, n) => (-n, v) }.map(_._1).zipWithIndex.toMap
      xs.distinct.forall {
        case None    => got.get(None).forall(_.isEmpty)
        case Some(v) => got(Some(v)).contains(ref(v).toLong)
      }
    }

  property("hashEncode == independent md5 bucket/sign derivation") =
    Prop.forAll(Gen.listOf(Gen.frequency(
        8 -> Gen.alphaNumStr, 2 -> Gen.oneOf("é è ç", "日本語", "x|y", ""))),
        Gen.choose(1, 64)) { (vs, dim) =>
      import spark.implicits._
      val distinctVs = vs.distinct
      val got = Encode.hashEncode(distinctVs.toDF("cat"), "cat", dim)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      val md = java.security.MessageDigest.getInstance("MD5")
      distinctVs.forall { v =>
        val hex = md.digest(("feat|" + v).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val bucket = java.lang.Long.parseLong(hex.substring(0, 8), 16) % dim
        val sign = if (Character.digit(hex.charAt(8), 16) % 2 == 0) 1L else -1L
        got(v) == (bucket, sign)
      }
    }

  property("targetEncode shrinkage is monotone in m (toward global mean)") =
    Prop.forAll(
        Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b", "c"),
          Gen.choose(-10000, 10000).map(_ / 100.0))),
        Gen.choose(0, 50), Gen.choose(1, 200)) { (rows, m1, dm) =>
      import spark.implicits._
      val df = rows.toDF("cat", "y")
      def enc(m: Double) = Encode.targetEncode(df, "cat", "y", m)
        .select("cat", "enc").distinct().collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val (e1, e2) = (enc(m1.toDouble), enc(m1.toDouble + dm))
      val g = {
        val ys = rows.map(r => BigDecimal(r._2).setScale(2))
        (ys.sum / ys.size).toDouble
      }
      // larger m pulls every category at least as close to the global
      // mean (ties when the category mean IS the global mean); the 8dp
      // output grid allows a one-ulp-of-grid slack
      rows.map(_._1).distinct.forall { c =>
        math.abs(e2(c) - g) <= math.abs(e1(c) - g) + 2e-8
      }
    }
}

