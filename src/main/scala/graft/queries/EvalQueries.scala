package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine.{Eval, Glm, Tables}

/** Model-evaluation tier: kNN classification, classifier P/R/F1,
  * probability calibration, and the A/B two-proportion z-test. */
object EvalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  def specs: Seq[QuerySpec] = Seq(

    // Leave-one-out 5-NN over the embedding corpus, majority label vote
    // (exact-cosine candidate tier; integer struct-max vote).
    QuerySpec("q_knn_classify", (s, dir) => {
      Eval.knnClassify(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", k = 5)
        .orderBy("id")
    }, Some(
      s"""WITH ${SimilarityQueries.normCte},
         |p AS (
         |  SELECT a.vec_id AS id, b.vec_id AS nid,
         |         ${SimilarityQueries.dotSql("a.v", "b.v")}
         |           / SQRT(a.n2 * b.n2) AS cos
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
         |top AS (
         |  SELECT id, nid FROM (
         |    SELECT id, nid,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cos DESC, nid) AS rnk
         |    FROM p)
         |  WHERE rnk <= 5),
         |votes AS (
         |  SELECT top.id, CAST(e.label AS BIGINT) AS nlbl,
         |         COUNT(*) AS cnt
         |  FROM top JOIN embeddings e ON e.vec_id = top.nid
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT id, nlbl AS predicted FROM (
         |    SELECT id, nlbl,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cnt DESC, nlbl) AS rn
         |    FROM votes)
         |  WHERE rn = 1)
         |SELECT e.vec_id AS id, CAST(e.label AS BIGINT) AS actual,
         |       predicted, CAST(e.label AS BIGINT) = predicted AS correct
         |FROM embeddings e JOIN pred ON pred.id = e.vec_id
         |ORDER BY id""".stripMargin)),

    // IVF-candidate 5-NN classification — the scale twin of
    // q_knn_classify (measured 36× for 10× rows on the exact tier at
    // sf1): candidates come from the vector's own IVF cell (equi-join
    // on cell id, Σ cell² candidate rows), the vote is the identical
    // struct-max plan. The oracle replays the cell assignment and the
    // cell-local top-k relationally.
    QuerySpec("q_knn_classify_ann", (s, dir) => {
      // numCells <= 0 = AUTO ⌊√n⌋ (the ivfCells contract) — a fixed
      // cell count re-quadratizes as the corpus grows (16 cells: 30 s
      // at 20k vectors, ~100× that at 200k); √n keeps cell-pair work
      // ≈ n^1.5 at every scale
      Eval.knnClassifyIvf(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", k = 5, numCells = 0)
        .orderBy("id")
    }, Some(
      s"""WITH ${SimilarityQueries.normCte},
         |${SimilarityQueries.ivfAssignCteAuto},
         |p AS (
         |  SELECT a.id AS id, b.id AS nid,
         |         ${SimilarityQueries.dotSql("a.v", "b.v")}
         |           / SQRT(a.n2 * b.n2) AS cos
         |  FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.id <> b.id),
         |top AS (
         |  SELECT id, nid FROM (
         |    SELECT id, nid,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cos DESC, nid) AS rnk
         |    FROM p)
         |  WHERE rnk <= 5),
         |votes AS (
         |  SELECT top.id, CAST(e.label AS BIGINT) AS nlbl,
         |         COUNT(*) AS cnt
         |  FROM top JOIN embeddings e ON e.vec_id = top.nid
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT id, nlbl AS predicted FROM (
         |    SELECT id, nlbl,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cnt DESC, nlbl) AS rn
         |    FROM votes)
         |  WHERE rn = 1)
         |SELECT e.vec_id AS id, CAST(e.label AS BIGINT) AS actual,
         |       predicted, CAST(e.label AS BIGINT) = predicted AS correct
         |FROM embeddings e JOIN pred ON pred.id = e.vec_id
         |ORDER BY id""".stripMargin)),

    // Multi-probe IVF 5-NN classification — the LINEAR-candidate-volume
    // ANN twin (vs q_knn_classify_ann's auto-√n tier, whose Σ cell² ≈
    // n^1.5 candidates measured 62.6× for 10× rows at sf10): cells =
    // ⌊n/1024⌋ keep cell size constant, every query probes its 2 nearest
    // cells, so candidate volume is n·2·1024 — linear — and the routing
    // term n·cells crosses it only past n ≈ 2M vectors (the documented
    // contract in Similarity.ivfProbeTopKNeighbors). The vote is the
    // identical struct-max plan; the oracle replays the probe/assign
    // split and the integer-division cell count relationally.
    QuerySpec("q_knn_ann_nprobe", (s, dir) => {
      Eval.knnClassifyIvfProbe(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", k = 5, targetCellSize = 1024, nprobe = 2)
        .orderBy("id")
    }, Some(
      s"""WITH ${SimilarityQueries.normCte},
         |${SimilarityQueries.ivfProbeCte(1024, 2)},
         |p AS (
         |  SELECT q.id AS id, d.id AS nid,
         |         ${SimilarityQueries.dotSql("q.v", "d.v")}
         |           / SQRT(q.n2 * d.n2) AS cos
         |  FROM probes q JOIN assign d
         |    ON q.cell = d.cell AND q.id <> d.id),
         |top AS (
         |  SELECT id, nid FROM (
         |    SELECT id, nid,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cos DESC, nid) AS rnk
         |    FROM p)
         |  WHERE rnk <= 5),
         |votes AS (
         |  SELECT top.id, CAST(e.label AS BIGINT) AS nlbl,
         |         COUNT(*) AS cnt
         |  FROM top JOIN embeddings e ON e.vec_id = top.nid
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT id, nlbl AS predicted FROM (
         |    SELECT id, nlbl,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cnt DESC, nlbl) AS rn
         |    FROM votes)
         |  WHERE rn = 1)
         |SELECT e.vec_id AS id, CAST(e.label AS BIGINT) AS actual,
         |       predicted, CAST(e.label AS BIGINT) = predicted AS correct
         |FROM embeddings e JOIN pred ON pred.id = e.vec_id
         |ORDER BY id""".stripMargin)),

    // Two-level (coarse-quantized) multi-probe IVF 5-NN — the routing
    // fix measured at the third decade: flat multi-probe routing is
    // n·cells rows and crosses the linear candidate term at ~2M vectors
    // (n²/targetCellSize); a ⌊√cells⌋ coarse level in front (each vector
    // probes sprobe=2 super-cells, then scores only their centroids)
    // cuts routing to O(n·√cells) — the FAISS coarse-quantizer shape.
    // Same vote, same tie-breaks; the oracle replays the two-level
    // routing relationally (scent/cmap/sroute CTEs). MEASURED CAVEAT
    // (SCALING.md sf100 finding 3): this tier's coarse
    // level is id-seeded (untrained) — on a drifted corpus it collapses
    // assignment mass and ran 3.3× SLOWER than flat at sf100; the
    // linear-candidate contract holds only when the coarse level
    // spreads. q_knn_ann_trained below is the production form.
    QuerySpec("q_knn_ann_hier", (s, dir) => {
      Eval.knnClassifyIvfHier(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", k = 5, targetCellSize = 1024, nprobe = 2,
          sprobe = 2)
        .orderBy("id")
    }, Some(
      s"""WITH ${SimilarityQueries.normCte},
         |${SimilarityQueries.ivfHierProbeCte(1024, 2, 2)},
         |p AS (
         |  SELECT q.id AS id, d.id AS nid,
         |         ${SimilarityQueries.dotSql("q.v", "d.v")}
         |           / SQRT(q.n2 * d.n2) AS cos
         |  FROM probes q JOIN assign d
         |    ON q.cell = d.cell AND q.id <> d.id),
         |top AS (
         |  SELECT id, nid FROM (
         |    SELECT id, nid,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cos DESC, nid) AS rnk
         |    FROM p)
         |  WHERE rnk <= 5),
         |votes AS (
         |  SELECT top.id, CAST(e.label AS BIGINT) AS nlbl,
         |         COUNT(*) AS cnt
         |  FROM top JOIN embeddings e ON e.vec_id = top.nid
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT id, nlbl AS predicted FROM (
         |    SELECT id, nlbl,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cnt DESC, nlbl) AS rn
         |    FROM votes)
         |  WHERE rn = 1)
         |SELECT e.vec_id AS id, CAST(e.label AS BIGINT) AS actual,
         |       predicted, CAST(e.label AS BIGINT) = predicted AS correct
         |FROM embeddings e JOIN pred ON pred.id = e.vec_id
         |ORDER BY id""".stripMargin)),

    // Two-level multi-probe IVF 5-NN with a K-MEANS-TRAINED coarse
    // quantizer — the production form of q_knn_ann_hier. The id-seeded
    // coarse level measurably INVERTS at sf100 on a drifted corpus
    // (hier 1873.9 s vs flat 574.1 s; maxAssign 45,042 vs
    // 3,242 — a quantizer is only as good as its training), so this tier
    // trains BOTH levels with deterministic fixed-point Lloyd rounds —
    // fine centroids on a md5-ordered corpus sample of 4·cells vectors
    // (so the cell partition spans the drift axis lowest-id seeding
    // never sees), super-centroids on those trained centroids (the
    // coarse level must live in the centroid manifold: half-measures
    // measured at sf100 — coarse-only trained on the replica-0 centroid
    // table 25,273 maxAssign, coarse-only trained on a corpus sample
    // 48,331 — both still far from flat's 3,242). Training is
    // broadcast-scale (~30M dot-equivalents at 2M vectors vs the 3.9e9-
    // dot flat routing scan it replaces). The oracle unrolls the sample
    // and both Lloyd chains relationally (fsamp/f*/fcent/s*/scent CTEs)
    // and replays the identical two-level split.
    QuerySpec("q_knn_ann_trained", (s, dir) => {
      Eval.knnClassifyIvfHierTrained(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", k = 5, targetCellSize = 1024, nprobe = 2,
          sprobe = 2, trainIters = 2)
        .orderBy("id")
    }, Some(
      s"""WITH ${SimilarityQueries.normCte},
         |${SimilarityQueries.ivfHierTrainedProbeCte(1024, 2, 2, 2)},
         |p AS (
         |  SELECT q.id AS id, d.id AS nid,
         |         ${SimilarityQueries.dotSql("q.v", "d.v")}
         |           / SQRT(q.n2 * d.n2) AS cos
         |  FROM probes q JOIN assign d
         |    ON q.cell = d.cell AND q.id <> d.id),
         |top AS (
         |  SELECT id, nid FROM (
         |    SELECT id, nid,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cos DESC, nid) AS rnk
         |    FROM p)
         |  WHERE rnk <= 5),
         |votes AS (
         |  SELECT top.id, CAST(e.label AS BIGINT) AS nlbl,
         |         COUNT(*) AS cnt
         |  FROM top JOIN embeddings e ON e.vec_id = top.nid
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT id, nlbl AS predicted FROM (
         |    SELECT id, nlbl,
         |           ROW_NUMBER() OVER (PARTITION BY id
         |                              ORDER BY cnt DESC, nlbl) AS rn
         |    FROM votes)
         |  WHERE rn = 1)
         |SELECT e.vec_id AS id, CAST(e.label AS BIGINT) AS actual,
         |       predicted, CAST(e.label AS BIGINT) = predicted AS correct
         |FROM embeddings e JOIN pred ON pred.id = e.vec_id
         |ORDER BY id""".stripMargin)),

    // Per-class precision/recall/F1 of the self-trained Naive Bayes
    // source classifier — the quality readout over q_naive_bayes.
    QuerySpec("q_confusion_eval", (s, dir) => {
      val preds = graft.llm.NaiveBayes.trainScore(
        Tables.load(s, dir, "documents"), "doc_id", "text", "source")
      Eval.confusionReport(preds, "source", "predicted")
    }, Some {
      val nbSql = TextQueries.specs.find(_.name == "q_naive_bayes")
        .get.oracle.get
      s"""WITH nb AS ($nbSql),
         |cells AS (
         |  SELECT CAST(source AS VARCHAR) AS a,
         |         CAST(predicted AS VARCHAR) AS p, COUNT(*) AS n
         |  FROM nb GROUP BY 1, 2),
         |classes AS (SELECT DISTINCT a AS cls FROM cells
         |            UNION SELECT DISTINCT p FROM cells),
         |tp AS (SELECT a AS cls, n AS tp FROM cells WHERE a = p),
         |act AS (SELECT a AS cls, CAST(SUM(n) AS BIGINT) AS support
         |        FROM cells GROUP BY a),
         |prd AS (SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS n_pred
         |        FROM cells GROUP BY p),
         |j AS (
         |  SELECT classes.cls AS cls, COALESCE(tp.tp, 0) AS tp,
         |         COALESCE(act.support, 0) AS support,
         |         COALESCE(prd.n_pred, 0) AS n_pred
         |  FROM classes
         |  LEFT JOIN tp ON tp.cls = classes.cls
         |  LEFT JOIN act ON act.cls IS NOT DISTINCT FROM classes.cls
         |  LEFT JOIN prd ON prd.cls IS NOT DISTINCT FROM classes.cls)
         |SELECT cls, support, tp, n_pred - tp AS fp,
         |       support - tp AS fn,
         |       CASE WHEN n_pred > 0
         |            THEN ROUND(CAST(tp AS DOUBLE)
         |                       / CAST(n_pred AS DOUBLE), 8) END
         |         AS precision,
         |       CASE WHEN support > 0
         |            THEN ROUND(CAST(tp AS DOUBLE)
         |                       / CAST(support AS DOUBLE), 8) END
         |         AS recall,
         |       CASE WHEN n_pred > 0 AND support > 0
         |             AND CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
         |                 + CAST(tp AS DOUBLE) / CAST(support AS DOUBLE)
         |                 > 0.0
         |            THEN ROUND(CAST(2.0 AS DOUBLE)
         |                   * (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
         |                   * (CAST(tp AS DOUBLE) / CAST(support AS DOUBLE))
         |                   / (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE)
         |                      + CAST(tp AS DOUBLE)
         |                        / CAST(support AS DOUBLE)), 8) END
         |         AS f1
         |FROM j ORDER BY cls""".stripMargin
    }),

    // Split-conformal regression intervals (α = 0.2) around the
    // per-status mean predictor: md5 train/cal/test split, exact
    // order-statistic conformal quantile (never an interpolated
    // percentile), per-row coverage flags. The oracle replays the hash
    // split, the rank selection, and the interval arithmetic.
    QuerySpec("q_conformal", (s, dir) => {
      Eval.conformalIntervals(t(s, dir, "orders"), "o_orderkey",
          "o_orderstatus", "o_totalprice", alpha = 0.2)
        .orderBy("o_orderkey")
    }, Some {
      val (c1, c2) = ("80000000", "c0000000") // hexThreshold(0.5/0.75)
      s"""WITH s AS (
         |  SELECT o_orderkey, o_orderstatus,
         |         CAST(o_totalprice AS DOUBLE) AS y,
         |         CASE WHEN substr(md5('conf|'
         |                || CAST(o_orderkey AS VARCHAR)), 1, 8) < '$c1'
         |              THEN 'train'
         |              WHEN substr(md5('conf|'
         |                || CAST(o_orderkey AS VARCHAR)), 1, 8) < '$c2'
         |              THEN 'cal' ELSE 'test' END AS sp
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |pred AS (
         |  SELECT o_orderstatus,
         |         CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE)
         |           / CAST(COUNT(*) AS DOUBLE) AS pred
         |  FROM s WHERE sp = 'train' GROUP BY o_orderstatus),
         |cal AS (
         |  SELECT s.o_orderstatus, s.o_orderkey, ABS(s.y - p.pred) AS sc
         |  FROM s JOIN pred p ON p.o_orderstatus = s.o_orderstatus
         |  WHERE sp = 'cal'),
         |r AS (
         |  SELECT o_orderstatus, sc,
         |         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
         |                            ORDER BY sc, o_orderkey) AS rn
         |  FROM cal),
         |nk AS (
         |  SELECT o_orderstatus, ((COUNT(*) + 1) * 800 + 999) // 1000 AS k
         |  FROM cal GROUP BY o_orderstatus),
         |q AS (
         |  SELECT r.o_orderstatus, sc AS qhat
         |  FROM r JOIN nk ON nk.o_orderstatus = r.o_orderstatus
         |              AND r.rn = nk.k)
         |SELECT s.o_orderkey, s.o_orderstatus, y,
         |       ROUND(pred, 8) AS pred, ROUND(qhat, 8) AS qhat,
         |       ROUND(pred - qhat, 8) AS lo, ROUND(pred + qhat, 8) AS hi,
         |       CASE WHEN qhat IS NULL THEN true
         |            ELSE y >= pred - qhat AND y <= pred + qhat END
         |         AS covered
         |FROM s
         |JOIN pred p ON p.o_orderstatus = s.o_orderstatus
         |LEFT JOIN q ON q.o_orderstatus = s.o_orderstatus
         |WHERE sp = 'test'
         |ORDER BY o_orderkey""".stripMargin
    }),

    // Exact isotonic regression (minimax identity = PAVA, relationally)
    // of the return rate against the discount domain — the monotone
    // recalibration step; the (i,j,k) grid is bounded by the 11-value
    // discount domain, never rows.
    QuerySpec("q_isotonic", (s, dir) => {
      Eval.isotonicFit(
          t(s, dir, "lineitem").select(col("l_discount"),
            (col("l_returnflag") === "R").cast("int").as("is_r")),
          "l_discount", "is_r")
        .orderBy("l_discount")
    }, Some(
      """WITH b AS (
        |  SELECT l_discount AS x,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS yy
        |  FROM lineitem WHERE l_discount IS NOT NULL),
        |bins AS (
        |  SELECT x, COUNT(*) AS n, SUM(CAST(yy AS DECIMAL(18,2))) AS s
        |  FROM b GROUP BY x),
        |ip AS (
        |  SELECT x, n, s,
        |         ROW_NUMBER() OVER (ORDER BY x) AS i,
        |         SUM(n) OVER (ORDER BY x) AS cn,
        |         SUM(s) OVER (ORDER BY x) AS cs,
        |         COALESCE(SUM(n) OVER (ORDER BY x) - n, 0) AS cnp,
        |         COALESCE(SUM(s) OVER (ORDER BY x) - s,
        |                  CAST(0 AS DECIMAL(18,2))) AS csp
        |  FROM bins),
        |pairs AS (
        |  SELECT j.i AS j, k.i AS k,
        |         CAST(k.cs - j.csp AS DOUBLE)
        |           / CAST(k.cn - j.cnp AS DOUBLE) AS m
        |  FROM ip j JOIN ip k ON j.i <= k.i),
        |tri AS (
        |  SELECT ii.i AS i, p.j, MIN(p.m) AS inner_m
        |  FROM pairs p JOIN ip ii ON p.j <= ii.i AND ii.i <= p.k
        |  GROUP BY ii.i, p.j),
        |f AS (SELECT i, MAX(inner_m) AS iso FROM tri GROUP BY i)
        |SELECT ip.x AS l_discount, ip.n,
        |       ROUND(CAST(ip.s AS DOUBLE) / ip.n, 8) AS rate,
        |       ROUND(f.iso, 8) AS iso
        |FROM ip JOIN f ON f.i = ip.i ORDER BY l_discount""".stripMargin)),

    // Reliability bins for the fitted logistic scores: fit (3 IRLS
    // rounds) then score and bin in one more pass — predicted
    // probability vs observed rate per decile of p.
    QuerySpec("q_calibration", (s, dir) => {
      // spread BEFORE the sigmoid projection so the scoring pass runs at
      // session parallelism, not the source's 3 scan splits; the fit
      // reuses the same spread frame (identical y/x derivation to the
      // old inline expressions — logregBase IS that projection)
      val base = graft.engine.Partitioning.spread(
        GlmQueries.logregBase(s, dir))
      val beta = Glm.logisticIrls(base, col("y"), col("x"), iters = 3)
      val eta = col("b0") + col("b1") * col("x")
      val scored = base.crossJoin(broadcast(beta))
        .select(round(lit(1.0) / (lit(1.0) + exp(-eta)), 6).as("p"),
          col("y"))
      Eval.calibrationBins(scored, "p", "y", bins = 10)
    }, Some(
      s"""WITH ${GlmQueries.irlsOracleCtes},
         |scored AS (
         |  SELECT ROUND(CAST(1.0 AS DOUBLE)
         |               / (CAST(1.0 AS DOUBLE)
         |                  + EXP(-(b0 + b1 * x))), 6) AS p,
         |         y
         |  FROM base CROSS JOIN beta3),
         |cuts AS (SELECT ${(1 to 9).map(i =>
             s"quantile_cont(p, 0.$i) AS c$i").mkString(", ")}
         |         FROM scored),
         |binned AS (
         |  SELECT CAST(${(1 to 9).map(i =>
             s"(CASE WHEN p > c$i THEN 1 ELSE 0 END)").mkString(" + ")}
         |         AS BIGINT) AS bin,
         |         CAST(ROUND(p * 1000000) AS BIGINT) AS p6u,
         |         CAST(y AS BIGINT) AS y
         |  FROM scored CROSS JOIN cuts)
         |SELECT bin, COUNT(*) AS n,
         |       ROUND(CAST(SUM(p6u) AS DOUBLE) / 1000000.0
         |             / CAST(COUNT(*) AS DOUBLE), 8) AS avg_pred,
         |       ROUND(CAST(SUM(y) AS DOUBLE)
         |             / CAST(COUNT(*) AS DOUBLE), 8) AS obs_rate,
         |       ROUND(CAST(SUM(p6u) AS DOUBLE) / 1000000.0
         |             / CAST(COUNT(*) AS DOUBLE)
         |             - CAST(SUM(y) AS DOUBLE)
         |               / CAST(COUNT(*) AS DOUBLE), 8) AS gap
         |FROM binned GROUP BY bin ORDER BY bin""".stripMargin)),

    // Rank-based AUC of order value as a discriminator for 'R' returns
    // — tie-aware midranks over the distinct-score domain (AUC is
    // monotone-invariant, so this equals any fitted monotone model's).
    QuerySpec("q_auc", (s, dir) => {
      Eval.aucRank(t(s, dir, "lineitem"), "l_extendedprice",
        (col("l_returnflag") === "R").cast("int"))
    }, Some(
      """WITH base AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS s,
        |         CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        |              AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        |t AS (
        |  SELECT s, CAST(SUM(y) AS BIGINT) AS cp,
        |         CAST(SUM(1 - y) AS BIGINT) AS cn, COUNT(*) AS c
        |  FROM base GROUP BY s),
        |r AS (
        |  SELECT cp, cn,
        |         2 * COALESCE(SUM(c) OVER (ORDER BY s
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           + c + 1 AS mr2
        |  FROM t),
        |m AS (
        |  SELECT CAST(SUM(cp) AS BIGINT) AS np,
        |         CAST(SUM(cn) AS BIGINT) AS nn,
        |         SUM(CAST(cp AS DECIMAL(19,0))
        |             * CAST(mr2 AS DECIMAL(19,0))) AS r2p
        |  FROM r)
        |SELECT np AS n_pos, nn AS n_neg,
        |       CASE WHEN np > 0 AND nn > 0
        |            THEN ROUND((CAST(r2p AS DOUBLE) / 2.0
        |                        - CAST(np AS DOUBLE)
        |                          * (CAST(np AS DOUBLE) + 1.0) / 2.0)
        |                       / (CAST(np AS DOUBLE)
        |                          * CAST(nn AS DOUBLE)), 8)
        |       END AS auc
        |FROM m""".stripMargin)),

    // Cumulative-gains / lift table by order-value decile (band 0 =
    // highest scores) — the scorecard targeting readout.
    QuerySpec("q_gains_table", (s, dir) => {
      Eval.gainsTable(t(s, dir, "lineitem"), "l_extendedprice",
        (col("l_returnflag") === "R").cast("int"), bins = 10)
    }, Some {
      val cutCols = (1 to 9).map(i =>
        s"quantile_cont(s, 0.$i) AS c$i").mkString(", ")
      val binExpr = (1 to 9).map(i =>
        s"(CASE WHEN s > c$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH base AS (
         |  SELECT CAST(l_extendedprice AS DOUBLE) AS s,
         |         CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
         |              AS BIGINT) AS y
         |  FROM lineitem
         |  WHERE l_extendedprice IS NOT NULL
         |    AND l_returnflag IS NOT NULL),
         |cuts AS (SELECT $cutCols FROM base),
         |binned AS (
         |  SELECT CAST(9 - ($binExpr) AS BIGINT) AS band, y
         |  FROM base CROSS JOIN cuts),
         |pb AS (SELECT band, COUNT(*) AS n,
         |              CAST(SUM(y) AS BIGINT) AS n_pos
         |       FROM binned GROUP BY band),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
         |               CAST(SUM(n_pos) AS BIGINT) AS tp FROM pb),
         |w AS (
         |  SELECT band, n, n_pos,
         |         SUM(n_pos) OVER (ORDER BY band
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum_pos,
         |         tn, tp
         |  FROM pb CROSS JOIN tot)
         |SELECT band, n, n_pos,
         |       CASE WHEN tp > 0
         |            THEN ROUND(CAST(cum_pos AS DOUBLE)
         |                       / CAST(tp AS DOUBLE), 8) END AS capture,
         |       CASE WHEN tp > 0 AND n > 0
         |            THEN ROUND((CAST(n_pos AS DOUBLE)
         |                        / CAST(n AS DOUBLE))
         |                       / (CAST(tp AS DOUBLE)
         |                          / CAST(tn AS DOUBLE)), 8) END AS lift
         |FROM w ORDER BY band""".stripMargin
    }),

    // A/B two-proportion z-test: variant = user_id parity, success =
    // heavy purchaser (count > 13 — the corpus median).
    QuerySpec("q_ab_test", (s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("pc"))
      Eval.abTest(users, pmod(col("user_id"), lit(2)),
        col("pc") > 13)
    }, Some(
      """WITH u AS (
        |  SELECT user_id,
        |         CAST(SUM(CASE WHEN event_type = 'purchase'
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS pc
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND pc > 13
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 AND pc > 13
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u),
        |d AS (
        |  SELECT n_a, conv_a, n_b, conv_b,
        |         CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |         (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
        |           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM m)
        |SELECT n_a, conv_a, ROUND(pa, 8) AS rate_a,
        |       n_b, conv_b, ROUND(pb, 8) AS rate_b,
        |       CASE WHEN pb > 0.0 THEN ROUND(pa / pb - 1.0, 8) END
        |         AS lift,
        |       CASE WHEN SQRT(pp * (CAST(1.0 AS DOUBLE) - pp)
        |                      * (CAST(1.0 AS DOUBLE)
        |                         / CAST(n_a AS DOUBLE)
        |                         + CAST(1.0 AS DOUBLE)
        |                         / CAST(n_b AS DOUBLE))) > 0.0
        |            THEN ROUND((pa - pb)
        |                   / SQRT(pp * (CAST(1.0 AS DOUBLE) - pp)
        |                          * (CAST(1.0 AS DOUBLE)
        |                             / CAST(n_a AS DOUBLE)
        |                             + CAST(1.0 AS DOUBLE)
        |                             / CAST(n_b AS DOUBLE))), 8) END
        |         AS z
        |FROM d""".stripMargin))
  )
}
