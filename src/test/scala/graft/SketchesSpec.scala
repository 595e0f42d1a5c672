package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.llm.{Covariance, Dedup, Similarity, Sketches}

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  // ---- HyperLogLog ----

  test("hll: linear-counting regime tracks small exact cardinalities") {
    val df = (1L to 200L).map(i => ("g", i)).toDF("g", "v")
    val r = Sketches.hllDistinct(df, "g", "v").head()
    val est = r.getAs[Double]("hll_estimate")
    assert(r.getAs[Long]("exact_distinct") === 200L)
    assert(math.abs(est - 200.0) / 200.0 < 0.35, s"est=$est")
  }

  test("hll: raw regime within expected error at n >> 2.5m") {
    val df = (1L to 20000L).map(i => ("g", i)).toDF("g", "v")
    val r = Sketches.hllDistinct(df, "g", "v").head()
    val est = r.getAs[Double]("hll_estimate")
    // m=64 → relative std ≈ 1.04/√64 = 13%; allow 4 sigma
    assert(math.abs(est - 20000.0) / 20000.0 < 0.52, s"est=$est")
  }

  test("hll: estimate is partitioning-invariant (mergeable sketch)") {
    val df = (1L to 5000L).map(i => ("g", i % 700)).toDF("g", "v")
    val a = Sketches.hllDistinct(df, "g", "v").head().getAs[Double]("hll_estimate")
    val b = Sketches.hllDistinct(df.repartition(13), "g", "v")
      .head().getAs[Double]("hll_estimate")
    assert(a === b)
  }

  test("hll: duplicate values do not move the estimate") {
    val once = (1L to 300L).map(i => ("g", i)).toDF("g", "v")
    val tripled = ((1L to 300L) ++ (1L to 300L) ++ (1L to 300L))
      .map(i => ("g", i)).toDF("g", "v")
    val a = Sketches.hllDistinct(once, "g", "v").head().getAs[Double]("hll_estimate")
    val b = Sketches.hllDistinct(tripled, "g", "v").head().getAs[Double]("hll_estimate")
    assert(a === b)
  }

  test("hll: merged per-group sketches equal the direct global sketch") {
    // overlapping groups on purpose — max-merge is idempotent
    val df = ((1L to 900L).map(v => ("a", v)) ++
      (500L to 1400L).map(v => ("b", v)) ++
      (1L to 100L).map(v => ("c", v))).toDF("g", "v")
    val r = Sketches.hllMergeAll(df, "g", "v").head()
    assert(r.getAs[Double]("merged_estimate") ===
      r.getAs[Double]("direct_estimate"))
    assert(r.getAs[Long]("exact_distinct") === 1400L)
    val est = r.getAs[Double]("merged_estimate")
    assert(math.abs(est - 1400.0) / 1400.0 < 0.52, s"est=$est")
  }

  test("hllIntersect: identical groups give est_intersect == est_a == est_b") {
    val df = ((1L to 500L).map(v => ("a", v)) ++
      (1L to 500L).map(v => ("b", v))).toDF("g", "v")
    val r = Sketches.hllIntersect(df, "g", "v").head()
    val (ea, eb, eu, ei) = (r.getAs[Double]("est_a"), r.getAs[Double]("est_b"),
      r.getAs[Double]("est_union"), r.getAs[Double]("est_intersect"))
    assert(ea === eb && ea === eu)             // same value set → same sketch
    assert(math.abs(ei - ea) < 1e-6)           // A = B → |A∩B| = |A|
    assert(r.getAs[Long]("exact_intersect") === 500L)
  }

  test("hllIntersect: overlap estimate tracks the true overlap; all pairs emitted") {
    val df = ((1L to 900L).map(v => ("a", v)) ++
      (601L to 1500L).map(v => ("b", v)) ++
      (2000L to 2050L).map(v => ("c", v))).toDF("g", "v")
    val rows = Sketches.hllIntersect(df, "g", "v")
      .orderBy("g1", "g2").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("a", "b"), ("a", "c"), ("b", "c")))
    val ab = rows(0)
    assert(ab.getAs[Long]("exact_intersect") === 300L)
    // inclusion–exclusion error compounds three ±~13% sketches (m=64);
    // the estimate must still land in the right order of magnitude
    assert(math.abs(ab.getAs[Double]("est_intersect") - 300.0) < 300.0)
    // disjoint pair: small estimate (possibly negative — documented),
    // exact 0 via the left-join coalesce
    val ac = rows(1)
    assert(ac.getAs[Long]("exact_intersect") === 0L)
    assert(math.abs(ac.getAs[Double]("est_intersect")) < 250.0)
  }

  test("cmsJoinSize: overestimation-only; exact column is the true join size") {
    // left keys 1..100 once; right: key k appears k%5+1 times
    val l = (1L to 100L).map(("l", _)).toDF("t", "k")
    val r = (1L to 100L).flatMap(k => Seq.fill((k % 5 + 1).toInt)(("r", k)))
      .toDF("t", "k")
    val row = Sketches.cmsJoinSize(l, "k", r, "k").head()
    val (est, exact) = (row.getLong(0), row.getLong(1))
    assert(exact === (1L to 100L).map(k => k % 5 + 1).sum)
    assert(est >= exact)                     // CM inner product never under
    assert(est <= exact + 4L * 100L * 300L / 128L) // eps*|A|*|B| slack
    // disjoint key spaces: exact 0 (est may carry collision mass)
    val d = Sketches.cmsJoinSize(l, "k",
      (1001L to 1100L).map(("r", _)).toDF("t", "k"), "k").head()
    assert(d.getLong(1) === 0L)
    assert(d.getLong(0) >= 0L)
  }

  // ---- Count-Min ----

  test("cms: overestimation-only guarantee and error bound") {
    val vals = (1 to 50).flatMap(i => Seq.fill(i)(s"tok$i")).toDF("v")
    val out = Sketches.cmsCounts(vals, "v").collect()
    assert(out.length === 50)
    val n = (1 to 50).sum
    out.foreach { r =>
      val exact = r.getAs[Long]("exact_cnt")
      val est = r.getAs[Long]("cms_est")
      assert(est >= exact, s"${r.getAs[String]("value")}: est=$est < exact=$exact")
      // CM bound: est ≤ exact + 2N/w with prob 1 - (1/2)^d; generous slack
      assert(est <= exact + 4L * n / 128, s"est=$est exact=$exact")
    }
  }

  test("cms: estimates are partitioning-invariant") {
    val vals = (1 to 40).flatMap(i => Seq.fill(i)(s"w$i")).toDF("v")
    val a = Sketches.cmsCounts(vals, "v").orderBy("value").collect().toSeq
    val b = Sketches.cmsCounts(vals.repartition(9), "v")
      .orderBy("value").collect().toSeq
    assert(a === b)
  }

  // ---- CovSums ----

  test("cov_sums matches a brute-force Gram computation, any partitioning") {
    val dim = 5
    val vecs = (0 until 40).map { r =>
      Tuple1((0 until dim).map(c => ((r * 31 + c * 7) % 13 - 6) / 3.0).toArray)
    }
    val df = vecs.toDF("v")
    def run(d: org.apache.spark.sql.DataFrame): Row =
      d.agg(Covariance.covSums(col("v"), dim).as("cs")).select("cs.*").head()
    val r = run(df)
    assert(r.getAs[Long]("n") === 40L)
    // brute force in exact fixed point
    val fx = vecs.map(_._1.map(x => math.floor(x * 65536.0).toLong))
    val expS = (0 until dim).map(i => fx.map(_(i)).sum)
    val expP = for (i <- 0 until dim; j <- i until dim)
      yield fx.map(v => v(i) * v(j)).sum
    assert(r.getAs[Seq[Long]]("s") === expS)
    assert(r.getAs[Seq[Long]]("p") === expP)
    assert(run(df.repartition(7)) === r)
  }

  test("cov_sums rejects wrong-dimension vectors") {
    val bad = Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
    val e = intercept[Exception] {
      bad.agg(Covariance.covSums(col("v"), 3)).head()
    }
    assert(e.getMessage.contains("cov_sums") ||
      e.getCause != null && e.getCause.getMessage.contains("cov_sums"))
  }

  // ---- bin quantiles ----

  test("binQuantiles: estimate within one bin width of the exact quantile") {
    val vals = (1 to 10000).map(i => ("g", i.toDouble)).toDF("g", "v")
    val out = Sketches.binQuantiles(vals, "g", "v", binWidth = 50.0,
      qs = Seq(0.25, 0.5, 0.9)).orderBy("q").collect()
    val exact = Map(0.25 -> 2500.0, 0.5 -> 5000.0, 0.9 -> 9000.0)
    out.foreach { r =>
      val q = r.getAs[Double]("q"); val est = r.getAs[Double]("est")
      assert(est >= exact(q) && est - exact(q) <= 50.0, s"q=$q est=$est")
      assert(r.getAs[Long]("n") === 10000L)
    }
  }

  test("binQuantiles: partitioning-invariant") {
    val vals = (1 to 3000).map(i => (s"g${i % 3}", (i * 17 % 997).toDouble))
      .toDF("g", "v")
    val a = Sketches.binQuantiles(vals, "g", "v", 10.0, Seq(0.5, 0.75))
      .orderBy("g", "q").collect().toSeq
    val b = Sketches.binQuantiles(vals.repartition(11), "g", "v", 10.0, Seq(0.5, 0.75))
      .orderBy("g", "q").collect().toSeq
    assert(a === b)
  }

  test("binQuantileMerge: merged per-group histograms equal the direct sketch") {
    // skewed groups: merge must be lossless (exact integer counts)
    val vals = ((1 to 5000).map(i => ("a", i.toDouble)) ++
      (1 to 200).map(i => ("b", (i * 31 % 500).toDouble)) ++
      (1 to 7).map(i => ("c", 9999.0))).toDF("g", "v")
    val out = Sketches.binQuantileMerge(vals, "g", "v", binWidth = 50.0,
      qs = Seq(0.5, 0.9, 0.99)).orderBy("q").collect()
    assert(out.length === 3)
    out.foreach { r =>
      assert(r.getAs[Double]("merged_est") === r.getAs[Double]("direct_est"),
        s"q=${r.getAs[Double]("q")}")
      assert(r.getAs[Long]("n") === 5207L)
    }
    // and invariant under partitioning
    val again = Sketches.binQuantileMerge(vals.repartition(13), "g", "v",
      50.0, Seq(0.5, 0.9, 0.99)).orderBy("q").collect()
    assert(again.map(_.toString).toSeq === out.map(_.toString).toSeq)
  }

  // ---- PCA ----

  test("pca: power iteration recovers a dominant planted direction") {
    // vectors concentrated along e1 with small noise on e2
    val rows = (0 until 200).map { i =>
      val main = (i % 21 - 10).toDouble // symmetric, var along dim 1
      val noise = ((i * 7) % 5 - 2).toDouble / 10.0
      Tuple2(i.toLong, Array(main, noise, 0.0, 0.0))
    }
    val df = rows.toDF("vec_id", "embedding")
    val out = graft.llm.Pca.pcaProject(df, "vec_id", "embedding",
      dim = 4, iters = 3).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("score")).toMap
    // scores must be (close to) proportional to the dim-1 component
    val byMain = rows.groupBy(_._2(0)).view.mapValues(_.map(t => out(t._1)))
    // same main component → nearly identical score (noise contributes little)
    byMain.foreach { case (m, scores) =>
      assert(scores.max - scores.min < 0.2, s"main=$m spread=${scores.toList}")
    }
    // ordering follows the planted direction (up to global sign)
    val s10 = out(rows.indexWhere(_._2(0) == 10.0).toLong)
    val sm10 = out(rows.indexWhere(_._2(0) == -10.0).toLong)
    assert(math.signum(s10) == -math.signum(sm10) && math.abs(s10) > 1.0)
  }

  test("pca: projection is partitioning-invariant (exact fixed point)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = graft.llm.Pca.pcaProject(emb, "vec_id", "embedding", 64, 3)
      .orderBy("vec_id").collect().toSeq
    val b = graft.llm.Pca.pcaProject(emb.repartition(7), "vec_id", "embedding", 64, 3)
      .orderBy("vec_id").collect().toSeq
    assert(a === b)
  }

  // ---- segment dedup ----

  test("segmentDedup: corpus-wide keep-first, within-doc repeats collapse") {
    val docs = Seq(
      (1L, "a b c d e f"),       // segs (k=3): "a b c", "d e f"
      (2L, "a b c x y z"),       // "a b c" dup of doc1 seg0 → dropped
      (3L, "d e f d e f"),       // both segs dup of doc1 seg1 → ''
      (4L, "x y z q")            // "x y z" dup of doc2 seg1; "q" kept
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq === Seq(
        (1L, "a b c d e f", 2L, 2L),
        (2L, "x y z", 2L, 1L),
        (3L, "", 2L, 0L),
        (4L, "q", 2L, 1L)))
  }

  test("segmentDedup: token-less docs emit no segments (no phantom rows)") {
    // sequence(0, -1) regression: Spark sequences step DOWNWARD when
    // start > stop, so an unguarded explode invents segments for empty docs
    val docs = Seq((1L, ""), (2L, "   "), (3L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, "", 0L, 0L), (2L, "", 0L, 0L), (3L, "a b c", 2L, 2L)))
  }

  test("segmentDedup: no duplicates → identity reassembly") {
    val docs = Seq((1L, "one two three four five"), (2L, "six seven"))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id").collect()
    assert(out.map(_.getString(1)).toSeq ===
      Seq("one two three four five", "six seven"))
  }

  // ---- cross-corpus semantic contamination ----

  test("crossContamination: flags planted paraphrase neighbors, one row per left id") {
    // right corpus: two clusters; left: one vector near cluster A, one far
    val mk = (s: Double, d: Int) =>
      Array.tabulate(8)(i => if (i == d) s else 0.01 * (i + 1))
    val right = (0 until 20).map(i =>
      (i.toLong, mk(1.0 + 0.01 * i, i % 2))).toDF("vec_id", "embedding")
    val left = Seq(
      (100L, mk(0.9, 0)),   // close to the dim-0 cluster
      (101L, Array.fill(8)(-1.0))) // anti-aligned: no neighbor
      .toDF("vec_id", "embedding")
    val out = graft.llm.Similarity.crossContamination(
        left, right, "vec_id", "embedding", planes = 2, minCos = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(100L) && out(100L) >= 1L, out)
    assert(!out.contains(101L), out)
    // invariance under repartitioning
    val again = graft.llm.Similarity.crossContamination(
        left.repartition(3), right.repartition(5), "vec_id", "embedding",
        planes = 2, minCos = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === out)
  }

  // ---- semantic dedup ----

  test("semanticDedup: dropped vectors have a kept-or-any lower-id near-dup in-cluster") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      k = 4, iters = 2, minCos = 0.4)
    val rows = out.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("kept")))
    assert(rows.length === emb.count())
    // brute-force verification of the greedy rule
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      if (na == 0 || nb == 0) Double.NaN else d / (na * nb)
    }
    val byCluster = rows.groupBy(_._2)
    byCluster.values.foreach { members =>
      members.foreach { case (id, _, kept) =>
        val hasLowerDup = members.exists { case (o, _, _) =>
          o < id && cos(vecs(o), vecs(id)) >= 0.4 - 1e-12
        }
        assert(kept === !hasLowerDup, s"vec $id kept=$kept")
      }
    }
  }
}
