package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Bootstrap, Linkage, Stats}
import graft.llm.{Covariance, Dedup, DotProduct, JaroWinkler, Shingles, Similarity, TextAnalysis, TopK}

/** The Column forms of the engine functions bind their expressions
  * directly: on a session with its own function registry and no
  * extensions they run, give the SQL path's answers, and leave the
  * session's registry and optimizer untouched. */
class ColumnFormsSpec extends SparkSpec {

  private def fixture(s: SparkSession): DataFrame = s.createDataFrame(Seq(
    (1L, "g1", "the quick brown fox jumps over the lazy dog", "martha",
      "marhta", Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(1.0f, 0.0f), 0.5, 12.25),
    (2L, "g1", "the quick brown fox leaps over the lazy dog", "martha",
      "marta", Seq(-1.5, 0.25), Seq(2.0, -2.0), Seq(0.9f, 0.1f), 2.0, -3.5),
    (3L, "g2", "lorem ipsum dolor sit amet", "jonathan smith",
      "jonathon smith", Seq(0.0, 3.0), Seq(1.0, 1.0), Seq(0.0f, 1.0f), 1.0, 7.0),
    (4L, "g2", "", "dixon", "dicksonx", Seq(2.0, 2.0), Seq(0.5, 0.5),
      Seq(0.1f, 0.9f), 1.0, 0.75)))
    .toDF("id", "g", "text", "a", "b", "v", "w", "emb", "score", "x")

  /** (function, its Column form over the fixture, the SQL over view t) */
  private val forms: Seq[(String, DataFrame => DataFrame, String)] = {
    def key = col("id").cast("string")
    def cents = (col("x") * 100).cast("long")
    Seq(
      ("simhash64",
        _.select(col("id"), GraftFunctions.column("simhash64", col("text"))),
        "SELECT id, simhash64(text) FROM t"),
      ("dot_seq", _.select(col("id"), DotProduct.dotSeq(col("v"), col("w"))),
        "SELECT id, dot_seq(v, w) FROM t"),
      ("topk_by_score",
        _.groupBy("g").agg(TopK.topKByScore(col("score"), col("id"), lit(1))),
        "SELECT g, topk_by_score(score, id, 1) FROM t GROUP BY g"),
      ("word_shingles",
        _.select(col("id"), Shingles.wordShingles(col("text"), 2)),
        "SELECT id, word_shingles(text, 2) FROM t"),
      ("winnow_fps", _.select(col("id"),
          GraftFunctions.column("winnow_fps", col("text"), lit(5), lit(3))),
        "SELECT id, winnow_fps(text, 5, 3) FROM t"),
      ("minhash_sigs", _.select(col("id"),
          GraftFunctions.column("minhash_sigs", col("text"), lit(2), lit(4))),
        "SELECT id, minhash_sigs(text, 2, 4) FROM t"),
      ("jaro_winkler",
        _.select(col("id"), JaroWinkler.jaroWinkler(col("a"), col("b"))),
        "SELECT id, jaro_winkler(a, b) FROM t"),
      ("cov_sums", _.agg(Covariance.covSums(col("v"), 2)),
        "SELECT cov_sums(v, 2) FROM t"),
      ("poisson_boot_sums", _.groupBy("g").agg(GraftFunctions.column(
          "poisson_boot_sums", key, cents, lit(6), lit("seed"))),
        "SELECT g, poisson_boot_sums(CAST(id AS STRING), " +
          "CAST(x * 100 AS BIGINT), 6, 'seed') FROM t GROUP BY g"),
      ("sign_flip_sums", _.groupBy("g").agg(GraftFunctions.column(
          "sign_flip_sums", key, cents, lit(8), lit("seed"))),
        "SELECT g, sign_flip_sums(CAST(id AS STRING), " +
          "CAST(x * 100 AS BIGINT), 8, 'seed') FROM t GROUP BY g"))
  }

  private val JaroMin = 0.8
  /** [[Linkage.blockedJaroPairs]] over view t, blocked on g, in SQL */
  private val JaroSql =
    s"""SELECT x.id AS a_key, y.id AS b_key, jaro_winkler(x.a, y.a) AS sim
       |FROM t x JOIN t y ON x.g = y.g AND x.id < y.id
       |WHERE jaro_winkler(x.a, y.a) >= $JaroMin""".stripMargin

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.head.toString)

  test("Column forms run on a fresh session without registering anything, " +
      "and equal the SQL path") {
    val fresh = spark.newSession()
    val registered = spark.newSession()
    GraftFunctions.registerAll(registered)
    fixture(registered).createOrReplaceTempView("t")
    val d = fixture(fresh)
    assert(forms.map(_._1).toSet === GraftFunctions.all.map(_._1).toSet)
    for ((name, form, sql) <- forms)
      assert(rows(form(d)) === rows(registered.sql(sql)), name)

    // the operators that wrap the same kernels, on the fresh session
    val jaro = Linkage.blockedJaroPairs(d, "id", "a", "g", JaroMin)
    val operators: Seq[DataFrame] = Seq(
      jaro,
      Dedup.simhashFingerprints(d, "id", "text"),
      Dedup.minhashSignatures(d, "id", "text", 2, 4),
      Dedup.shingleSets(d, "id", "text", 2),
      TextAnalysis.winnow(d, "id", "text", 5, 3),
      Covariance.covarianceCells(d, "v", 2),
      Similarity.topKNeighbors(d, "id", "emb", 2),
      Bootstrap.meanCi(d, "g", "x", col("id"), b = 6),
      Stats.groupedSignFlip(d, "g", "id", "x", b = 8))
    operators.foreach(_.collect())
    assert(rows(jaro) === rows(registered.sql(JaroSql)))

    for ((name, _, _) <- forms)
      assert(!fresh.catalog.functionExists(name), name)
    assert(fresh.experimental.extraOptimizations.isEmpty)
  }

  test("blockedJaroPairs filters on the fused cutoff kernel with no session rule") {
    val fresh = spark.newSession()
    val pairs = Linkage.blockedJaroPairs(fixture(fresh), "id", "a", "g", JaroMin)
    val optimized = pairs.queryExecution.optimizedPlan.toString
    assert(optimized.contains("jaro_winkler_gte"), optimized)
    assert(fresh.experimental.extraOptimizations.isEmpty)
    // SQL gets the same kernel from the rule registerAll installs
    val registered = spark.newSession()
    GraftFunctions.registerAll(registered)
    fixture(registered).createOrReplaceTempView("t")
    val sql = registered.sql(JaroSql).queryExecution.optimizedPlan.toString
    assert(sql.contains("jaro_winkler_gte"), sql)
  }

  test("a Column form checks its literal arguments when the Column is built") {
    val e = intercept[IllegalArgumentException] {
      TopK.topKByScore(col("score"), col("id"), lit(0))
    }
    assert(e.getMessage.contains("topk_by_score: k must be positive"))
    intercept[IllegalArgumentException] {
      GraftFunctions.column("no_such_function", col("id"))
    }
  }
}
