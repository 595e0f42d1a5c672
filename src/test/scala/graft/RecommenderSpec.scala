package graft

import graft.engine.{Drift, Glm, Recommender}
import graft.llm.Retrieval
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

/** Hand-checkable pins for item-CF, PSI drift, IRLS logistic fit, and
  * the NDCG evaluation metric. */
class RecommenderSpec extends SparkSpec {
  import spark.implicits._

  private def grid8(x: Double): Double =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("itemNeighbors: cosine from co-occurrence counts, ranked") {
    // baskets: 1:{10,20}, 2:{10,20}, 3:{10,30}
    val b = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L)).toDF("b", "i")
    val r = Recommender.itemNeighbors(b, "b", "i", k = 3).collect()
      .map(x => (x.getAs[Long]("item"), x.getAs[Long]("rank")) ->
        (x.getAs[Long]("neighbor"), x.getAs[Double]("cos"))).toMap
    assert(r((10L, 1L)) === ((20L, grid8(2.0 / math.sqrt(6.0)))))
    assert(r((10L, 2L)) === ((30L, grid8(1.0 / math.sqrt(3.0)))))
    assert(r((20L, 1L))._1 === 10L)
  }

  test("itemNeighbors: maxBasket cap drops power baskets") {
    val b = Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L))
      .toDF("b", "i")
    val r = Recommender.itemNeighbors(b, "b", "i", k = 3, maxBasket = 2)
    // only basket 2 survives → single pair (10, 20), cos = 1
    val rows = r.collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[Double]("cos") === 1.0))
  }

  test("itemNeighbors: a power basket far above the cap is dropped before the collect") {
    val small = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L),
      (3L, 30L))
    // one basket holding 5000 items, the small baskets' items among them
    val power = (1L to 5000L).map(i => (99L, i))
    val got = Recommender.itemNeighbors((small ++ power).toDF("b", "i"),
      "b", "i", k = 3, maxBasket = 100)
    val want = Recommender.itemNeighbors(small.toDF("b", "i"), "b", "i",
      k = 3, maxBasket = 100)
    assert(got.collect().toSet === want.collect().toSet)
    // bounded state: the aggregation that collects the item arrays reads
    // rows already filtered by the per-basket count (a left-semi join)
    val collects = got.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.aggregateExpressions
        .exists(_.exists(_.isInstanceOf[CollectList])) => a
    }
    assert(collects.nonEmpty)
    collects.foreach { a =>
      assert(a.child.exists {
        case j: Join => j.joinType == LeftSemi
        case _ => false
      }, a.treeString)
    }
  }

  test("psiBins: identical populations give zero contributions") {
    val vals = (1 to 100).map(_.toDouble)
    val df = (vals.map(v => (v, true)) ++ vals.map(v => (v, false)))
      .toDF("v", "ref")
    val r = Drift.psiBins(df, "v", col("ref"), bins = 4).collect()
    assert(r.length === 4)
    assert(r.forall(_.getAs[Double]("contrib") === 0.0))
  }

  test("psiBins: rows with a NULL isRef predicate join neither population") {
    // ADVICE r3: when(!is_ref) counted NULL-predicate rows in neither
    // side while a SQL CASE ELSE counts them as current; the contract is
    // now listwise exclusion on both engines. Identical ref/cur plus 50
    // NULL-predicate rows must reproduce the zero-drift counts exactly.
    val vals = (1 to 100).map(_.toDouble)
    val df = (vals.map(v => (v, Option(true))) ++
      vals.map(v => (v, Option(false))) ++
      (1 to 50).map(v => (v.toDouble, Option.empty[Boolean])))
      .toDF("v", "ref")
    val r = Drift.psiBins(df, "v", col("ref"), bins = 4).collect()
    assert(r.length === 4)
    assert(r.map(_.getAs[Long]("n_ref")).sum === 100L)
    assert(r.map(_.getAs[Long]("n_cur")).sum === 100L)
    assert(r.forall(_.getAs[Double]("contrib") === 0.0))
  }

  test("psiBins: a shifted current population yields positive PSI") {
    val ref = (1 to 100).map(v => (v.toDouble, true))
    val cur = (51 to 150).map(v => (v.toDouble, false))
    val df = (ref ++ cur).toDF("v", "ref")
    val psi = Drift.psiBins(df, "v", col("ref"), bins = 4).collect()
      .map(_.getAs[Double]("contrib")).sum
    assert(psi > 0.25) // a 50% shift is a "major" drift on any reading
  }

  test("logisticIrls: balanced y independent of x fits b0 ≈ 0, b1 ≈ 0") {
    val df = (1 to 200).map(i => (i % 2, i.toDouble / 100))
      .toDF("y", "x")
    val r = Glm.logisticIrls(df, col("y"), col("x")).head()
    assert(math.abs(r.getAs[Double]("b0")) < 0.05)
    assert(math.abs(r.getAs[Double]("b1")) < 0.05)
  }

  test("logisticIrls: y = x > 0 yields a strongly positive slope") {
    val df = ((-50 to -1) ++ (1 to 50))
      .map(i => (if (i > 0) 1 else 0, i.toDouble / 10)).toDF("y", "x")
    val r = Glm.logisticIrls(df, col("y"), col("x")).head()
    assert(r.getAs[Double]("b1") > 1.0)
  }

  test("ndcgAtK: a relevance-ordered ranking is perfect (ndcg = 1)") {
    val ranking = Seq((1L, 3.0), (2L, 2.0), (3L, 1.0))
      .toDF("doc", "score")
    val rels = Seq((1L, 3), (2L, 2), (3L, 0)).toDF("doc", "rel")
    val r = Retrieval.ndcgAtK(ranking, "doc", "score", rels, "doc",
      "rel", k = 3).head()
    assert(r.getAs[Double]("ndcg") === 1.0)
    assert(r.getAs[Double]("dcg") === r.getAs[Double]("idcg"))
  }

  test("ndcgAtK: inverting the ranking degrades ndcg below 1") {
    val ranking = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))
      .toDF("doc", "score")
    val rels = Seq((1L, 3), (2L, 1), (3L, 0)).toDF("doc", "rel")
    val r = Retrieval.ndcgAtK(ranking, "doc", "score", rels, "doc",
      "rel", k = 3).head()
    val ndcg = r.getAs[Double]("ndcg")
    assert(ndcg > 0.0 && ndcg < 1.0)
  }

  test("ndcgAtK: unjudged ranked docs count as rel 0") {
    val ranking = Seq((9L, 5.0), (1L, 4.0)).toDF("doc", "score")
    val rels = Seq((1L, 1)).toDF("doc", "rel")
    val r = Retrieval.ndcgAtK(ranking, "doc", "score", rels, "doc",
      "rel", k = 2).head()
    // dcg = 0 (doc 9) + 1/log2(3); idcg = 1/log2(2) = 1
    val exp = grid8(grid8(1.0) / grid8(math.log(3.0) / math.log(2.0)))
    assert(r.getAs[Double]("dcg") === exp)
    assert(r.getAs[Double]("idcg") === 1.0)
  }
}
