package graft

import graft.engine.Eval
import org.apache.spark.sql.functions._

/** Hand-checkable pins for the evaluation tier. */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  test("confusionReport: textbook 2-class cells") {
    // actual a: 3 rows (2 predicted a, 1 b); actual b: 2 rows (both b)
    val preds = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"),
      ("b", "b")).toDF("actual", "pred")
    val r = Eval.confusionReport(preds, "actual", "pred").collect()
      .map(x => x.getAs[String]("cls") -> x).toMap
    val a = r("a")
    assert(a.getAs[Long]("tp") === 2L && a.getAs[Long]("fp") === 0L &&
      a.getAs[Long]("fn") === 1L)
    assert(a.getAs[Double]("precision") === 1.0)
    assert(math.abs(a.getAs[Double]("recall") - 2.0 / 3) < 1e-8)
    val b = r("b")
    assert(b.getAs[Long]("tp") === 2L && b.getAs[Long]("fp") === 1L)
    assert(b.getAs[Double]("recall") === 1.0)
  }

  test("confusionReport: hallucinated class gets precision 0, no recall") {
    val preds = Seq(("a", "a"), ("a", "ghost")).toDF("actual", "pred")
    val r = Eval.confusionReport(preds, "actual", "pred").collect()
      .map(x => x.getAs[String]("cls") -> x).toMap
    val g = r("ghost")
    assert(g.getAs[Long]("support") === 0L)
    assert(g.getAs[Double]("precision") === 0.0)
    assert(g.isNullAt(g.fieldIndex("recall")))
  }

  test("confusionReport: NULL actual/predicted values form their own class") {
    val preds = Seq[(Option[String], Option[String])](
      (Some("a"), Some("a")), (None, Some("a")), (Some("a"), None),
      (None, None)).toDF("actual", "pred")
    val r = Eval.confusionReport(preds, "actual", "pred").collect()
    // NULL sorts first; a NULL actual predicted NULL is not a true
    // positive (SQL `=`), so the NULL class has tp 0
    assert(r.map(x => Option(x.getAs[String]("cls"))).toSeq ===
      Seq(None, Some("a")))
    val n = r(0)
    assert((n.getAs[Long]("support"), n.getAs[Long]("tp"), n.getAs[Long]("fp"),
      n.getAs[Long]("fn")) === ((2L, 0L, 2L, 2L)))
    assert(n.getAs[Double]("precision") === 0.0)
    assert(n.getAs[Double]("recall") === 0.0)
    assert(n.isNullAt(n.fieldIndex("f1")))
    val a = r(1)
    assert((a.getAs[Long]("support"), a.getAs[Long]("tp"), a.getAs[Long]("fp"),
      a.getAs[Long]("fn")) === ((2L, 1L, 1L, 1L)))
  }

  test("knnClassify: separable clusters classify perfectly") {
    // two tight clusters in 2D, labels 0/1
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.99f, 0.01f), 0),
      (3L, Array(0.98f, 0.02f), 0),
      (4L, Array(0.0f, 1.0f), 1), (5L, Array(0.01f, 0.99f), 1),
      (6L, Array(0.02f, 0.98f), 1)).toDF("vec_id", "embedding", "label")
    val r = Eval.knnClassify(emb, "vec_id", "embedding", "label", k = 2)
      .collect()
    assert(r.length === 6)
    assert(r.forall(_.getAs[Boolean]("correct")))
  }

  test("knnClassify: majority vote with tie toward the smaller label") {
    // target 1 has neighbors labeled 5 and 3 (one each at k=2) → tie →
    // predict 3
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 9),
      (2L, Array(0.99f, 0.01f), 5),
      (3L, Array(0.98f, 0.02f), 3),
      (4L, Array(-1.0f, 0.0f), 7)).toDF("vec_id", "embedding", "label")
    val r = Eval.knnClassify(emb, "vec_id", "embedding", "label", k = 2)
      .collect().map(x => x.getAs[Long]("id") -> x.getAs[Long]("predicted"))
      .toMap
    assert(r(1L) === 3L)
  }

  test("knnClassifyIvf: numCells=1 is the exact classifier by construction") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 9), (2L, Array(0.99f, 0.01f), 5),
      (3L, Array(0.98f, 0.02f), 3), (4L, Array(-1.0f, 0.1f), 7),
      (5L, Array(-0.99f, 0.12f), 7), (6L, Array(0.5f, 0.5f), 5))
      .toDF("vec_id", "embedding", "label")
    val exact = Eval.knnClassify(emb, "vec_id", "embedding", "label", k = 3)
      .orderBy("id").collect().toSeq
    val ivf = Eval.knnClassifyIvf(emb, "vec_id", "embedding", "label",
      k = 3, numCells = 1).orderBy("id").collect().toSeq
    assert(ivf === exact)
  }

  test("knnClassifyIvf: cells aligned with clusters classify perfectly") {
    // ids 1 and 2 (the two lowest) are the de-facto centroids and sit in
    // different clusters, so the two IVF cells ARE the two clusters
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.99f, 0.01f), 0), (4L, Array(0.98f, 0.02f), 0),
      (5L, Array(0.01f, 0.99f), 1), (6L, Array(0.02f, 0.98f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Eval.knnClassifyIvf(emb, "vec_id", "embedding", "label",
      k = 2, numCells = 2).collect()
    assert(r.length === 6)
    assert(r.forall(_.getAs[Boolean]("correct")))
  }

  test("knnClassifyIvf: numCells=0 is AUTO floor(sqrt(n)) — identical " +
    "to passing that cell count explicitly") {
    // 9 vectors → auto = 3 cells; the two runs must match row-for-row
    val emb = (1L to 9L).map { i =>
      val a = (math.cos(i * 0.7)).toFloat
      val b = (math.sin(i * 0.7)).toFloat
      (i, Array(a, b), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val auto = Eval.knnClassifyIvf(emb, "vec_id", "embedding", "label",
      k = 2, numCells = 0).orderBy("id").collect().toSeq
    val explicit = Eval.knnClassifyIvf(emb, "vec_id", "embedding",
      "label", k = 2, numCells = 3).orderBy("id").collect().toSeq
    assert(auto === explicit)
  }

  test("knnClassifyIvfProbe: one cell (n <= targetCellSize) equals the " +
    "exact classifier by construction") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 9), (2L, Array(0.99f, 0.01f), 5),
      (3L, Array(0.98f, 0.02f), 3), (4L, Array(-1.0f, 0.1f), 7),
      (5L, Array(-0.99f, 0.12f), 7), (6L, Array(0.5f, 0.5f), 5))
      .toDF("vec_id", "embedding", "label")
    val exact = Eval.knnClassify(emb, "vec_id", "embedding", "label", k = 3)
      .orderBy("id").collect().toSeq
    val probed = Eval.knnClassifyIvfProbe(emb, "vec_id", "embedding",
      "label", k = 3, targetCellSize = 100, nprobe = 2)
      .orderBy("id").collect().toSeq
    assert(probed === exact)
  }

  test("ivfProbeTopKNeighbors: nprobe covering every cell equals the " +
    "exact top-k; nprobe=2 recovers the cross-cell neighbor nprobe=1 " +
    "misses") {
    import graft.llm.Similarity
    // 6 vectors, targetCellSize=3 → 2 cells; centroids = ids 1 and 2.
    // id 6 sits just on cell 1's side of the boundary while its TRUE
    // nearest neighbor (id 5) is assigned to cell 2 — the exact recall
    // hole multi-probe exists to close.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f)),
      (5L, Array(0.69f, 0.72f)), (6L, Array(0.72f, 0.69f)))
      .toDF("vec_id", "embedding")
    // with 2 cells and nprobe=2 every vector probes BOTH cells, so the
    // candidate set is the full corpus: bit-equal to the exact tier
    val exact = Similarity.topKNeighbors(emb, "vec_id", "embedding", k = 3)
      .orderBy("id", "rank").collect().toSeq
    val full = Similarity.ivfProbeTopKNeighbors(emb, "vec_id", "embedding",
        k = 3, targetCellSize = 3, nprobe = 2)
      .orderBy("id", "rank").collect().toSeq
    assert(full === exact)
    // nprobe=1 confines id 6 to cell 1 {1,3}: rank-1 is id 3, not the
    // true nearest id 5; nprobe=2 finds id 5
    val single = Similarity.ivfProbeTopKNeighbors(emb, "vec_id",
        "embedding", k = 1, targetCellSize = 3, nprobe = 1)
      .where(col("id") === 6L).head()
    assert(single.getAs[Long]("neighbor_id") === 3L)
    val multi = Similarity.ivfProbeTopKNeighbors(emb, "vec_id",
        "embedding", k = 1, targetCellSize = 3, nprobe = 2)
      .where(col("id") === 6L).head()
    assert(multi.getAs[Long]("neighbor_id") === 5L)
  }

  test("ivfHierProbeTopKNeighbors: a single super-cell (cells <= 3) is " +
    "flat multi-probe bit-for-bit") {
    import graft.llm.Similarity
    // tcs=3 over 6 vectors → 2 cells → scells = ⌊√2⌋ = 1: stage 1 is a
    // no-op and the two-level tier must equal the flat tier exactly
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f)),
      (5L, Array(0.69f, 0.72f)), (6L, Array(0.72f, 0.69f)))
      .toDF("vec_id", "embedding")
    val flat = Similarity.ivfProbeTopKNeighbors(emb, "vec_id", "embedding",
        k = 3, targetCellSize = 3, nprobe = 2)
      .orderBy("id", "rank").collect().toSeq
    val hier = Similarity.ivfHierProbeTopKNeighbors(emb, "vec_id",
        "embedding", k = 3, targetCellSize = 3, nprobe = 2, sprobe = 2)
      .orderBy("id", "rank").collect().toSeq
    assert(hier === flat)
  }

  test("ivfHierProbeTopKNeighbors: sprobe covering every super-cell " +
    "equals flat multi-probe; sprobe=1 only narrows the candidate set") {
    import graft.llm.Similarity
    // 8 vectors, tcs=2 → 4 cells → scells = 2 (a REAL coarse split:
    // super-centroids are ids 1 and 2, centroids 1..4). With sprobe=2
    // every super-cell is probed, so stage 2 scores every centroid and
    // the result must be bit-equal to the flat tier.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f)),
      (5L, Array(0.8f, 0.2f)), (6L, Array(0.2f, 0.8f)),
      (7L, Array(0.7f, 0.3f)), (8L, Array(0.3f, 0.7f)))
      .toDF("vec_id", "embedding")
    val flat = Similarity.ivfProbeTopKNeighbors(emb, "vec_id", "embedding",
        k = 2, targetCellSize = 2, nprobe = 2)
      .orderBy("id", "rank").collect().toSeq
    val hier = Similarity.ivfHierProbeTopKNeighbors(emb, "vec_id",
        "embedding", k = 2, targetCellSize = 2, nprobe = 2, sprobe = 2)
      .orderBy("id", "rank").collect().toSeq
    assert(hier === flat)
    // sprobe=1: each vector sees ONE super-cell's centroids only — a
    // subset of the flat candidate set, so per-row cosines can only be
    // ≤ the flat rank-1 cosine, and every vector still emits rows
    val narrow = Similarity.ivfHierProbeTopKNeighbors(emb, "vec_id",
        "embedding", k = 2, targetCellSize = 2, nprobe = 2, sprobe = 1)
      .orderBy("id", "rank").collect().toSeq
    assert(narrow.map(_.getAs[Long]("id")).distinct.size === 8)
    val flatBest = flat.groupBy(_.getAs[Long]("id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Double]("cos")).max }
    narrow.groupBy(_.getAs[Long]("id")).foreach { case (id, rs) =>
      assert(rs.map(_.getAs[Double]("cos")).max <= flatBest(id))
    }
  }

  test("ivfHierProbeTopKNeighborsTrained: nprobe covering every cell " +
    "equals the exact top-k; sprobe covering every super-cell equals a " +
    "flat probe over the SAME trained centroids") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions.broadcast
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f)),
      (5L, Array(0.8f, 0.2f)), (6L, Array(0.2f, 0.8f)),
      (7L, Array(0.7f, 0.3f)), (8L, Array(0.3f, 0.7f)))
      .toDF("vec_id", "embedding")
    // tcs=2 over 8 vectors → cells=4, scells=2. nprobe=4 probes every
    // cell and sprobe=2 every super-cell: the candidate set is the full
    // corpus whatever the training produced — bit-equal to exact.
    val exact = Similarity.topKNeighbors(emb, "vec_id", "embedding", k = 2)
      .orderBy("id", "rank").collect().toSeq
    val full = Similarity.ivfHierProbeTopKNeighborsTrained(emb,
        "vec_id", "embedding", k = 2, targetCellSize = 2, nprobe = 4,
        sprobe = 2, trainIters = 2)
      .orderBy("id", "rank").collect().toSeq
    assert(full === exact)
    // partial nprobe, saturating sprobe: the coarse level prunes
    // nothing, so the result equals flat multi-probe routing over the
    // IDENTICAL trained fine centroids (the hierRoute≡flatRoute gate)
    val withNorm = Similarity.ivfNorm(emb, "vec_id", "embedding")
    val fineCents = broadcast(Similarity.trainedCentroids(
        Similarity.hashSample(withNorm, 16), k = 4, iters = 2)
      .toDF("cid", "cv", "cn2"))
    val flatTrained = Similarity.probeTopKTail(
        Similarity.flatRoute(withNorm, fineCents, nprobe = 2), k = 2)
      .orderBy("id", "rank").collect().toSeq
    val trained = Similarity.ivfHierProbeTopKNeighborsTrained(emb,
        "vec_id", "embedding", k = 2, targetCellSize = 2, nprobe = 2,
        sprobe = 2, trainIters = 2)
      .orderBy("id", "rank").collect().toSeq
    assert(trained === flatTrained)
  }

  test("trainedCentroids: two Lloyd rounds separate a drifted corpus " +
    "whose id-seeded coarse pool is one-sided; deterministic under " +
    "repartition") {
    import graft.llm.Similarity
    // 16 vectors, tcs=2 → 8 centroids (ids 1-8), scells=2 → the
    // id-seeded super-centroid pool is ids {1, 2} — BOTH A-direction
    // (the drift collapse shape from the sf100 measurement). K-means
    // seeds start at the same two ids, but round 1 pulls cluster 2's
    // mean toward the B mass and round 2 re-assigns cleanly: one
    // trained centroid per direction.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.97f, 0.05f)),
      (3L, Array(0.95f, 0.1f)), (4L, Array(0.9f, 0.05f)),
      (5L, Array(0.05f, 1.0f)), (6L, Array(0.1f, 0.95f)),
      (7L, Array(0.05f, 0.9f)), (8L, Array(0.15f, 0.85f)),
      (9L, Array(0.92f, 0.08f)), (10L, Array(0.12f, 0.88f)),
      (11L, Array(0.88f, 0.12f)), (12L, Array(0.08f, 0.92f)),
      (13L, Array(0.93f, 0.07f)), (14L, Array(0.07f, 0.93f)),
      (15L, Array(0.91f, 0.09f)), (16L, Array(0.09f, 0.91f)))
      .toDF("vec_id", "embedding")
    def trained(df: org.apache.spark.sql.DataFrame) = Similarity
      .trainedCentroids(
        Similarity.lowestIdCentroids(
          Similarity.ivfNorm(df, "vec_id", "embedding"), 8),
        k = 2, iters = 2)
      .orderBy("sid").collect().toSeq
    val sc = trained(emb)
    assert(sc.map(_.getAs[Long]("sid")) === Seq(1L, 2L)) // seed ids
    val svs = sc.map(_.getSeq[Double](1))
    // one trained centroid per direction — the separation id-seeding lacks
    assert(svs.count(v => v(0) > v(1)) === 1)
    assert(svs.count(v => v(1) > v(0)) === 1)
    // fixed-point Lloyd is bit-deterministic under any partitioning
    assert(trained(emb.repartition(5)) === sc)
  }

  test("hashSample: deterministic md5-ordered draw, re-labeled 1..size, " +
    "invariant under input partitioning") {
    import graft.llm.Similarity
    val emb = (1L to 40L).map(i => i -> Array(i.toFloat, 1.0f))
      .toDF("vec_id", "embedding")
    def samp(df: org.apache.spark.sql.DataFrame) = Similarity
      .hashSample(Similarity.ivfNorm(df, "vec_id", "embedding"), 10)
      .orderBy("cid").collect().toSeq
    val s = samp(emb)
    assert(s.map(_.getAs[Long]("cid")) === (1L to 10L))
    assert(samp(emb.repartition(7)) === s)
  }

  test("knnClassifyIvfHierTrained: one cell equals the exact classifier") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 9), (2L, Array(0.99f, 0.01f), 5),
      (3L, Array(0.98f, 0.02f), 3), (4L, Array(-1.0f, 0.1f), 7),
      (5L, Array(-0.99f, 0.12f), 7), (6L, Array(0.5f, 0.5f), 5))
      .toDF("vec_id", "embedding", "label")
    val exact = Eval.knnClassify(emb, "vec_id", "embedding", "label", k = 3)
      .orderBy("id").collect().toSeq
    val trained = Eval.knnClassifyIvfHierTrained(emb, "vec_id",
      "embedding", "label", k = 3, targetCellSize = 100, nprobe = 2,
      sprobe = 2, trainIters = 2)
      .orderBy("id").collect().toSeq
    assert(trained === exact)
  }

  test("knnClassifyIvfHier: one cell equals the exact classifier") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 9), (2L, Array(0.99f, 0.01f), 5),
      (3L, Array(0.98f, 0.02f), 3), (4L, Array(-1.0f, 0.1f), 7),
      (5L, Array(-0.99f, 0.12f), 7), (6L, Array(0.5f, 0.5f), 5))
      .toDF("vec_id", "embedding", "label")
    val exact = Eval.knnClassify(emb, "vec_id", "embedding", "label", k = 3)
      .orderBy("id").collect().toSeq
    val hier = Eval.knnClassifyIvfHier(emb, "vec_id", "embedding",
      "label", k = 3, targetCellSize = 100, nprobe = 2, sprobe = 2)
      .orderBy("id").collect().toSeq
    assert(hier === exact)
  }

  /** The deterministic sf1 embedding fixture rebuilt inline —
    * FixtureGen's exact construction (FIXTURES.md §5: 10 key-shifted
    * replicas of the sf0.1 table, dim-0 drift nudge +r·0.001f) →
    * 20,000 vectors, shared by both recall-gate tests. */
  private def sf1EmbFixture(): org.apache.spark.sql.DataFrame = {
    val src = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val nSrc = src.count()
    src.crossJoin(spark.range(0, 10).toDF("__r").hint("broadcast"))
      .select(
        (col("vec_id") + col("__r") * nSrc).cast("long").as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + col("__r").cast("float") * lit(0.001f))
            .otherwise(x).cast("float")).as("embedding"),
        col("label"))
      .localCheckpoint()
  }

  // ── sf1 ANN recall gate ───────────────────────────────────────────
  // The check the sf100 routing collapse demanded a round earlier: the
  // equivalence gates above run the hier tiers only at one cell (exact
  // by construction), so a quantizer that ROUTES BADLY at real cell
  // counts is invisible to them — the id-seeded coarse level passed
  // every such gate and then collapsed assignment mass at sf100
  // (SCALING.md finding 3). This gate rebuilds the deterministic sf1
  // embedding fixture inline (FixtureGen's exact construction, FIXTURES
  // .md §5: 10 key-shifted replicas, dim-0 drift nudge +r·0.001f) —
  // 20,000 vectors → 19 fine cells / 4 super-cells under the production
  // parameters (targetCellSize=1024, nprobe=2, sprobe=2, trainIters=2)
  // — and scores the trained tier against an exact top-5 ground truth
  // on a deterministic 253-query sample (vec_id % 79 == 0, spans every
  // replica; 253×20k pairs ≈ 5M cosines, so the exact side stays
  // test-suite cheap while the ANN side runs the FULL production plan).
  // Measured on the round-9 engine: recall@5 = 1.0000, vote agreement
  // = 1.0000 over 254 sampled queries (recorded in SCALING.md) — the
  // 0.95/0.98 pins below sit under that with margin. A quantizer
  // regression that degrades routing quality fails HERE, at sf1 cost —
  // not at sf100.
  test("sf1 recall gate: trained two-level IVF recall@5 and vote " +
      "agreement vs exact, at real cell counts") {
    import graft.llm.{Similarity, TopK}
    // sf0.1 is part of the driver's fixture contract (TESTDATA.md) and
    // the only scale with enough vectors for real cell counts; cancel
    // loudly (not fail) on a partial checkout that generated only the
    // smaller fixtures
    assume(new java.io.File("/root/testdata/sf0.1/embeddings.parquet")
      .exists(), "sf0.1 fixture missing — the recall gate needs it")
    val emb = sf1EmbFixture()
    // production-parameter ANN over the full corpus, sampled queries out
    val ann = Similarity.ivfHierProbeTopKNeighborsTrained(emb, "vec_id",
        "embedding", k = 5, targetCellSize = 1024, nprobe = 2,
        sprobe = 2, trainIters = 2)
      .filter(col("id") % 79 === 0)
      .select(col("id"), col("neighbor_id")).localCheckpoint()
    // exact top-5 ground truth for the sampled queries only
    val withNorm = emb.select(col("vec_id").as("id"),
        Similarity.vecDouble(col("embedding")).as("v"))
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
    val q = withNorm.filter(col("id") % 79 === 0).toDF("id", "v1", "n21")
    val c = withNorm.toDF("neighbor_id", "v2", "n22")
    val exact = c.crossJoin(broadcast(q))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"),
        (Similarity.dot(col("v1"), col("v2")) /
          sqrt(col("n21") * col("n22"))).as("cos"),
        col("neighbor_id"))
      .groupBy(col("id"))
      .agg(TopK.topKByScore(col("cos"), col("neighbor_id"), lit(5))
        .as("top"))
      .select(col("id"), explode(col("top")).as("t"))
      .select(col("id"), col("t.id").as("neighbor_id"))
      .localCheckpoint()
    val nQ = exact.select("id").distinct().count()
    assert(nQ >= 200, s"sample degenerated: $nQ queries")
    val recall = exact.join(ann, Seq("id", "neighbor_id")).count()
      .toDouble / (nQ * 5.0)
    // leave-one-out majority vote on each candidate set (the exact
    // struct-max vote Eval.majorityVote runs: integer counts, ties
    // toward the smaller label)
    val labels = emb.select(col("vec_id").as("neighbor_id"),
      col("label").cast("long").as("nlbl"))
    def vote(nbrs: org.apache.spark.sql.DataFrame) = nbrs
      .join(labels, "neighbor_id")
      .groupBy("id", "nlbl").agg(count(lit(1)).as("cnt"))
      .groupBy("id")
      .agg(max(struct(col("cnt"), (-col("nlbl")).as("neg"))).as("m"))
      .select(col("id"), (-col("m.neg")).as("pred"))
    // LEFT join from the exact side: a query the ANN tier drops
    // entirely (empty candidate set) must count as DISAGREEMENT, not
    // silently shrink the averaging population — with an inner join a
    // dozen fully-dropped queries would still pass both pins
    val agree = vote(exact).toDF("id", "p_exact")
      .join(vote(ann).toDF("id", "p_ann"), Seq("id"), "left")
      .agg(avg(when(col("p_ann").isNotNull &&
        col("p_exact") === col("p_ann"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    info(f"sf1 ANN gate: queries=$nQ recall@5=$recall%.4f " +
      f"agreement=$agree%.4f")
    assert(recall >= 0.95, f"recall@5 $recall%.4f under the 0.95 pin")
    assert(agree >= 0.98, f"vote agreement $agree%.4f under the 0.98 pin")
  }

  // The same measured-quality-floor discipline for EVERY other top-k
  // ANN tier: each gets its recall@5 scored on the same 253-query
  // deterministic sample against the ground truth in ITS metric —
  // cosine for the IVF family, exact raw-double L2 for PQ-ADC (PQ ranks
  // by asymmetric squared distance on the fixed-point grid, so its gate
  // measures the FULL pipeline loss: quantization + codebook + LUT).
  // Round-9 measured values: flat(auto) 1.0000, multi-probe 1.0000,
  // id-seeded hier 0.9984 (the untrained coarse level ALREADY loses
  // 0.16% of true neighbors at sf1 — the quality shadow of the sf100
  // routing collapse, visible here for 40 s of suite time), PQ-ADC
  // 0.6150 (the honest m=8/ksub=16 full-pipeline quantization loss; in
  // production PQ is a candidate generator whose top-k gets exact
  // re-ranking — see pqIvfTopK's scaladoc). Pins sit under measured
  // with margin; a routing, seeding, or quantization regression in any
  // tier fails the suite at sf1 cost.
  test("sf1 recall gate, remaining ANN tiers: flat auto-cell IVF, " +
      "multi-probe, id-seeded hier vs exact cosine; PQ-ADC vs exact L2") {
    import graft.llm.{Similarity, TopK}
    assume(new java.io.File("/root/testdata/sf0.1/embeddings.parquet")
      .exists(), "sf0.1 fixture missing — the recall gate needs it")
    val emb = sf1EmbFixture()
    val withNorm = emb.select(col("vec_id").as("id"),
        Similarity.vecDouble(col("embedding")).as("v"))
      .withColumn("n2", Similarity.dot(col("v"), col("v")))
    val q = withNorm.filter(col("id") % 79 === 0).toDF("id", "v1", "n21")
    val c = withNorm.toDF("neighbor_id", "v2", "n22")
    // exact top-5 under a given score (TopK ties toward smaller id on
    // both sides, same as every production tier)
    def exactTop5(score: org.apache.spark.sql.Column) =
      c.crossJoin(broadcast(q))
        .filter(col("id") =!= col("neighbor_id"))
        .select(col("id"), score.as("s"), col("neighbor_id"))
        .groupBy(col("id"))
        .agg(TopK.topKByScore(col("s"), col("neighbor_id"), lit(5))
          .as("top"))
        .select(col("id"), explode(col("top")).as("t"))
        .select(col("id"), col("t.id").as("neighbor_id"))
        .localCheckpoint()
    val dotQC = Similarity.dot(col("v1"), col("v2"))
    val exactCos = exactTop5(dotQC / sqrt(col("n21") * col("n22")))
    // L2² = |q|² + |c|² − 2q·c; negated so "higher is better" for TopK
    val exactL2 = exactTop5(-(col("n21") + col("n22") - lit(2.0) * dotQC))
    val nQ = exactCos.select("id").distinct().count()
    assert(nQ >= 200, s"sample degenerated: $nQ queries")
    def recallOf(nbrs: org.apache.spark.sql.DataFrame,
        truth: org.apache.spark.sql.DataFrame): Double =
      truth.join(nbrs, Seq("id", "neighbor_id")).count()
        .toDouble / (nQ * 5.0)
    def sampled(nbrs: org.apache.spark.sql.DataFrame) =
      nbrs.filter(col("id") % 79 === 0).select("id", "neighbor_id")
    // numCells = 0 → AUTO floor(sqrt(n)) = 141 cells at 20k vectors
    val flat = recallOf(sampled(Similarity.ivfTopKNeighbors(
      emb, "vec_id", "embedding", k = 5, numCells = 0)), exactCos)
    val probe = recallOf(sampled(Similarity.ivfProbeTopKNeighbors(
      emb, "vec_id", "embedding", k = 5, targetCellSize = 1024,
      nprobe = 2)), exactCos)
    val hier = recallOf(sampled(Similarity.ivfHierProbeTopKNeighbors(
      emb, "vec_id", "embedding", k = 5, targetCellSize = 1024,
      nprobe = 2, sprobe = 2)), exactCos)
    val qids = exactCos.select("id").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val pq = recallOf(Similarity.pqAdcTopK(emb, "vec_id", "embedding",
        m = 8, ksub = 16, queryIds = qids, k = 5)
      .select(col("query_id").as("id"), col("neighbor_id")), exactL2)
    // the production PQ composition (q_pq_rerank): ADC generates top-40
    // candidates (8×k), exact grid L2 re-ranks — quantization survives
    // only as candidate-selection loss, so this is the tier whose recall
    // must clear the same 0.95 production floor as the IVF family
    val pqr = recallOf(Similarity.pqAdcRerank(emb, "vec_id", "embedding",
        m = 8, ksub = 16, queryIds = qids, k = 5, cand = 40)
      .select(col("query_id").as("id"), col("neighbor_id")), exactL2)
    // IVF-PQ + re-rank (q_ivf_pq_rerank): recall additionally pays the
    // nprobe=1 ROUTING loss (a true neighbor outside the query's cell is
    // unrecoverable) — measured separately so the two loss terms stay
    // attributable; cells = floor(sqrt(n)) ≈ the flat tier's auto count
    val ivfCellCount = math.max(1, math.sqrt(emb.count().toDouble).toInt)
    val ivfr = recallOf(Similarity.pqIvfRerank(emb, "vec_id", "embedding",
        numCells = ivfCellCount, m = 8, ksub = 16, queryIds = qids,
        k = 5, cand = 40)
      .select(col("query_id").as("id"), col("neighbor_id")), exactL2)
    info(f"sf1 ANN tiers recall@5: flat(auto)=$flat%.4f " +
      f"probe=$probe%.4f hier(id-seeded)=$hier%.4f pq_adc=$pq%.4f " +
      f"pq_rerank=$pqr%.4f ivf_pq_rerank=$ivfr%.4f")
    assert(flat >= 0.95, f"flat IVF recall $flat%.4f under the 0.95 pin")
    assert(probe >= 0.95, f"multi-probe recall $probe%.4f under 0.95")
    assert(hier >= 0.95, f"id-seeded hier recall $hier%.4f under 0.95")
    assert(pq >= 0.50, f"PQ-ADC recall $pq%.4f under the 0.50 pin")
    assert(pqr >= 0.95, f"PQ re-rank recall $pqr%.4f under the 0.95 pin")
    assert(ivfr >= 0.95, f"IVF-PQ re-rank recall $ivfr%.4f under 0.95")
  }

  test("nnMatchAtt: nearest-control picks, tie toward backward, " +
      "unmatched counted") {
    // controls at x=10 (y=100) and x=20 (y=200); treated at 12, 19 and
    // the exact midpoint 15 (tie → backward match at x=10)
    val df = Seq(
      (1L, false, 10.0, 100.0), (2L, false, 20.0, 200.0),
      (3L, true, 12.0, 150.0), (4L, true, 19.0, 210.0),
      (5L, true, 15.0, 999.0)).toDF("id", "treated", "x", "y")
    val r = Eval.nnMatchAtt(df, "treated", "x", "y", "id").head()
    assert(r.getAs[Long]("n_treated") === 3L)
    assert(r.getAs[Long]("n_matched") === 3L)
    // (150−100) + (210−200) + (999−100) = 959; 959/3 on the 8dp grid
    assert(r.getAs[Double]("att") === 319.66666667)
    // no controls at all → everything unmatched, NULL estimate
    val none = Eval.nnMatchAtt(df.withColumn("treated",
      org.apache.spark.sql.functions.lit(true)), "treated", "x", "y", "id")
      .head()
    assert(none.getAs[Long]("n_matched") === 0L)
    assert(none.isNullAt(none.fieldIndex("att")))
  }

  test("isotonicFit: PAVA pooling via the minimax identity; monotone " +
      "input unchanged") {
    // rates 0.2, 0.6, 0.4 (5 rows each) → the violating pair pools to
    // (3+2)/10 = 0.5; the result must be non-decreasing
    val rows = Seq.fill(4)((1.0, 0)) ++ Seq((1.0, 1)) ++
      Seq.fill(2)((2.0, 0)) ++ Seq.fill(3)((2.0, 1)) ++
      Seq.fill(3)((3.0, 0)) ++ Seq.fill(2)((3.0, 1))
    val r = Eval.isotonicFit(rows.toDF("x", "yy"), "x", "yy")
      .orderBy("x").collect()
      .map(x => (x.getDouble(0), x.getDouble(2), x.getDouble(3)))
    assert(r.toSeq === Seq((1.0, 0.2, 0.2), (2.0, 0.6, 0.5),
      (3.0, 0.4, 0.5)))
    assert(r.map(_._3).sliding(2).forall(p => p(0) <= p(1)))
    // already-monotone rates are a fixed point
    val mono = Seq((1.0, 0), (1.0, 1), (2.0, 1), (2.0, 1))
    val m = Eval.isotonicFit(mono.toDF("x", "yy"), "x", "yy")
      .orderBy("x").collect()
      .map(x => x.getDouble(2) -> x.getDouble(3))
    assert(m.forall { case (rate, iso) => rate === iso })
  }

  test("didEstimate: textbook 2x2 cells; empty cell yields NULL, never " +
      "extrapolation") {
    // treated: 10→15 (+5); control: 20→22 (+2) → did = +3
    val df = Seq(
      (true, false, 10.0), (true, false, 10.0), (true, true, 15.0),
      (false, false, 20.0), (false, true, 22.0), (false, true, 22.0))
      .toDF("treated", "post", "y")
    val r = Eval.didEstimate(df, "treated", "post", "y").head()
    assert(r.getAs[Long]("n_t_pre") === 2L)
    assert(r.getAs[Double]("mean_t_post") === 15.0)
    assert(r.getAs[Double]("did") === 3.0)
    val empty = Eval.didEstimate(
      df.where(!(col("treated") && col("post"))), "treated", "post", "y")
      .head()
    assert(empty.isNullAt(empty.fieldIndex("mean_t_post")))
    assert(empty.isNullAt(empty.fieldIndex("did")))
  }

  test("conformalIntervals: order-statistic quantile and coverage flags " +
      "match an independent recomputation; alpha grid enforced") {
    val df = (1L to 400L).map(k => (k, "g", (k % 7).toDouble))
      .toDF("key", "grp", "y")
    val out = Eval.conformalIntervals(df, "key", "grp", "y", alpha = 0.2,
      seed = "t").collect()
    assert(out.nonEmpty)
    // independent recomputation from the same hash split
    val sp = graft.llm.Sampling.assignSplit(df, "key",
      Seq("train" -> 0.5, "cal" -> 0.25, "test" -> 0.25), "t",
      outCol = "sp").collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val train = (1L to 400L).filter(sp(_) == "train")
    val pred = train.map(_ % 7).sum.toDouble / train.size
    val cal = (1L to 400L).filter(sp(_) == "cal")
      .map(k => math.abs((k % 7).toDouble - pred)).sorted
    val kth = ((cal.size + 1) * 800 + 999) / 1000
    val qhat = cal(kth.toInt - 1)
    def r8(x: Double) =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { r =>
      assert(r.getAs[Double]("pred") === r8(pred))
      assert(r.getAs[Double]("qhat") === r8(qhat))
      val y = r.getAs[Double]("y")
      assert(r.getAs[Boolean]("covered") ===
        (y >= pred - qhat && y <= pred + qhat))
    }
    // test rows only, keyed by the same split
    assert(out.map(_.getAs[Long]("key")).toSet ===
      (1L to 400L).filter(sp(_) == "test").toSet)
    intercept[IllegalArgumentException] {
      Eval.conformalIntervals(df, "key", "grp", "y", alpha = 0.1234) }
  }

  test("calibrationBins: perfectly calibrated synthetic scores gap ≈ 0") {
    // p = 0.25 for 8 rows with 2 positives; p = 0.75 for 8 with 6
    val rows = Seq.fill(6)((0.25, 0L)) ++ Seq.fill(2)((0.25, 1L)) ++
      Seq.fill(2)((0.75, 0L)) ++ Seq.fill(6)((0.75, 1L))
    val df = rows.toDF("p", "y")
    val r = Eval.calibrationBins(df, "p", "y", bins = 2).collect()
    assert(r.length === 2)
    r.foreach { x =>
      assert(x.getAs[Double]("gap") === 0.0)
      assert(x.getAs[Double]("avg_pred") === x.getAs[Double]("obs_rate"))
    }
  }

  test("aucRank: perfect separation = 1, reversed = 0, random-ish = 0.5") {
    val perfect = Seq((1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1))
      .toDF("s", "y")
    assert(Eval.aucRank(perfect, "s", col("y")).head()
      .getAs[Double]("auc") === 1.0)
    val reversed = Seq((1.0, 1), (2.0, 1), (3.0, 0), (4.0, 0))
      .toDF("s", "y")
    assert(Eval.aucRank(reversed, "s", col("y")).head()
      .getAs[Double]("auc") === 0.0)
    // all scores tied → midranks equal → AUC exactly 0.5
    val tied = Seq((5.0, 1), (5.0, 0), (5.0, 1), (5.0, 0)).toDF("s", "y")
    assert(Eval.aucRank(tied, "s", col("y")).head()
      .getAs[Double]("auc") === 0.5)
  }

  test("aucRank: textbook tie case matches the midrank formula") {
    // scores 1,2,2,3 with y = 0,0,1,1: ranks 1, 2.5, 2.5, 4 →
    // R+ = 2.5 + 4 = 6.5 → AUC = (6.5 − 3)/(2·2) = 0.875
    val df = Seq((1.0, 0), (2.0, 0), (2.0, 1), (3.0, 1)).toDF("s", "y")
    assert(Eval.aucRank(df, "s", col("y")).head()
      .getAs[Double]("auc") === 0.875)
  }

  test("gainsTable: top band captures all positives when score separates") {
    // 20 rows, top half positive: band 0..4 hold all positives
    val df = (1 to 20).map(i => (i.toDouble, if (i > 10) 1 else 0))
      .toDF("s", "y")
    val r = Eval.gainsTable(df, "s", col("y"), bins = 10).collect()
    val byBand = r.map(x => x.getAs[Long]("band") ->
      (x.getAs[Long]("n_pos"), x.getAs[Double]("capture"))).toMap
    assert(byBand(0L)._1 === 2L)
    assert(byBand(4L)._2 === 1.0) // all positives captured by band 4
    assert(byBand(9L)._2 === 1.0)
    assert(r.map(_.getAs[Long]("n")).sum === 20L)
  }

  test("abTest: equal rates give z = 0; a real gap moves z") {
    // success = i%4 < 2: 50% in both parities
    val df = (1 to 200).map(i => (i.toLong, i % 4 < 2)).toDF("id", "s")
    val r = Eval.abTest(df, pmod(col("id"), lit(2)), col("s")).head()
    assert(r.getAs[Double]("z") === 0.0 ||
      math.abs(r.getAs[Double]("z")) < 1e-8)

    // variant 0 converts 80%, variant 1 converts 20%
    val gap = (1 to 200).map(i =>
      (i.toLong, if (i % 2 == 0) i % 10 < 8 else i % 10 >= 8))
      .toDF("id", "s")
    val g = Eval.abTest(gap, pmod(col("id"), lit(2)), col("s")).head()
    assert(g.getAs[Double]("z") > 5.0)
  }
}
