package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Model-evaluation tier: classifier quality (confusion/P/R/F1), kNN
  * classification over embeddings, probability calibration, and the
  * two-proportion A/B z-test — the metrics layer that closes the loop
  * on the classifiers and scores the engine already produces
  * (NaiveBayes, Glm, Similarity).
  *
  * Every metric reduces to counts and exact-int ratios: one or two
  * key-group aggregations, ratios rounded to the 8dp grid at the end —
  * nothing here is row-scale on the output side.
  */
object Eval {

  /** Per-class precision / recall / F1 from (actual, predicted) rows.
    * Classes are the union of both sides (a class never predicted still
    * reports recall; a hallucinated class reports precision 0). NULL
    * metric where the denominator is 0. Output: class, support, tp, fp,
    * fn, precision, recall, f1 — ordered by class.
    *
    * NULL actual or predicted values form their own class (the NULL
    * `cls` row, ordered first) with their real support and predicted
    * counts; a NULL predicted for a NULL actual is not a true positive
    * (SQL `=`), so that row's tp is 0. Filter NULLs first to drop them. */
  def confusionReport(preds: DataFrame, actualCol: String,
      predCol: String): DataFrame = {
    val base = preds.select(col(actualCol).cast("string").as("a"),
      col(predCol).cast("string").as("p"))
    val cells = base.groupBy(col("a"), col("p"))
      .agg(count(lit(1)).as("n"))
    // ONE contribution pass over cells (round 11): the old shape
    // consumed `cells` FOUR times (classes union-distinct, tp filter,
    // actual/predicted rollups) and three-way left-joined the results —
    // every consumer re-embedded the full upstream plan (q_confusion_
    // eval's NaiveBayes subtree: a 210-Exchange formatted plan,
    // plans/r10/q_confusion_eval_before.txt). Exploding each cell into
    // its two per-class contributions (row class: support + tp-when-
    // diagonal; column class: n_pred) and summing per class computes
    // the identical report with `cells` — and the whole upstream
    // subtree — appearing ONCE, and replaces union+distinct+filter+two
    // rollups+three joins with one explode + one bounded groupBy
    // (guide §2.4: remove shuffles outright). Sums over the union of
    // both sides reproduce the old coalesce(·, 0) semantics exactly: a
    // never-predicted class sums n_pred = 0, a hallucinated class sums
    // support = tp = 0.
    val contrib = cells.select(explode(array(
        struct(col("a").as("cls"),
          when(col("a") === col("p"), col("n")).otherwise(lit(0L))
            .as("tp"),
          col("n").as("support"), lit(0L).as("n_pred")),
        struct(col("p").as("cls"), lit(0L).as("tp"),
          lit(0L).as("support"), col("n").as("n_pred")))).as("c"))
    val j = contrib.groupBy(col("c.cls").as("cls"))
      .agg(sum(col("c.tp")).as("tp"),
        sum(col("c.support")).as("support"),
        sum(col("c.n_pred")).as("n_pred"))
    val prec = col("tp").cast("double") / col("n_pred").cast("double")
    val rec = col("tp").cast("double") / col("support").cast("double")
    j.select(col("cls"), col("support"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("support") - col("tp")).as("fn"),
        when(col("n_pred") > 0, round(prec, 8)).as("precision"),
        when(col("support") > 0, round(rec, 8)).as("recall"),
        when(col("n_pred") > 0 && col("support") > 0 &&
            (prec + rec) > 0.0,
          round(lit(2.0) * prec * rec / (prec + rec), 8)).as("f1"))
      .orderBy("cls")
  }

  /** kNN majority-vote classification over the embedding corpus
    * (leave-one-out: each vector is scored by its k nearest OTHER
    * vectors' labels; ties break toward the smaller label). Candidate
    * generation is [[Similarity.topKNeighbors]]'s exact tier — swap in
    * the ANN candidates at corpus scale, the vote is identical. The
    * argmax is a struct-max over (count, −label): exact integers, no
    * float in the vote. Output: id, actual, predicted, correct. */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val labels = emb.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("long").as("lbl"))
    majorityVote(labels, Similarity.topKNeighbors(emb, idCol, vecCol, k))
  }

  /** [[knnClassify]] with IVF cell-local candidates
    * ([[Similarity.ivfTopKNeighbors]]) — the scale twin the sf1 sweep
    * demanded: the exact tier's candidate stage is the all-pairs cross
    * product (measured 36× for 10× rows), this one's is an equi-join on
    * the cell id (Σ cell² candidates; per-cell quadratic only). The
    * vote and tie-break are the identical plan; with numCells = 1 the
    * two classifiers are equal by construction (EvalSpec gate). A
    * vector whose cell holds no other member gets no candidates and
    * emits no row — the same no-neighbor semantics as the exact tier on
    * a 1-vector corpus. Output: id, actual, predicted, correct. */
  def knnClassifyIvf(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, numCells: Int): DataFrame = {
    val labels = emb.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("long").as("lbl"))
    majorityVote(labels,
      Similarity.ivfTopKNeighbors(emb, idCol, vecCol, k, numCells))
  }

  /** [[knnClassify]] with multi-probe IVF candidates
    * ([[Similarity.ivfProbeTopKNeighbors]]) — the LINEAR-candidate-volume
    * twin: cells = ⌊n/targetCellSize⌋ keep cell size constant, queries
    * probe their `nprobe` nearest cells, so candidate volume is
    * n·nprobe·targetCellSize (vs the auto-√n tier's n^1.5 — the measured
    * 62.6× for 10× rows at sf10). The vote and tie-break are the
    * identical plan; with n ≤ targetCellSize there is one cell and the
    * classifier equals the exact tier by construction (EvalSpec gate).
    * Zero-norm vectors are excluded from corpus and queries (no cosine
    * exists), so they emit no row. Output: id, actual, predicted,
    * correct. */
  def knnClassifyIvfProbe(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, targetCellSize: Int,
      nprobe: Int): DataFrame = {
    val labels = emb.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("long").as("lbl"))
    majorityVote(labels, Similarity.ivfProbeTopKNeighbors(
      emb, idCol, vecCol, k, targetCellSize, nprobe))
  }

  /** kNN vote over [[graft.llm.Similarity.ivfHierProbeTopKNeighbors]] —
    * the two-level-routed twin of [[knnClassifyIvfProbe]] (⌊√cells⌋
    * coarse level kills the flat router's n·cells term at its ~2M-vector
    * crossover). Same vote, same tie-breaks; with cells ≤ 3 the coarse
    * level is a no-op and this equals the flat tier by construction
    * (EvalSpec gate). MEASURED CAVEAT: this variant's coarse level is
    * id-seeded (untrained) — on a drifted corpus it collapses assignment
    * mass and ran 3.3× SLOWER than flat at sf100 (SCALING.md finding 3);
    * linear-candidate volume holds only when the coarse
    * level spreads. Prefer [[knnClassifyIvfHierTrained]] at scale. */
  def knnClassifyIvfHier(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, targetCellSize: Int, nprobe: Int,
      sprobe: Int): DataFrame = {
    val labels = emb.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("long").as("lbl"))
    majorityVote(labels, Similarity.ivfHierProbeTopKNeighbors(
      emb, idCol, vecCol, k, targetCellSize, nprobe, sprobe))
  }

  /** kNN vote over
    * [[graft.llm.Similarity.ivfHierProbeTopKNeighborsTrained]] — the
    * two-level tier with a k-means-trained coarse quantizer (the fix for
    * the measured id-seeded inversion above). Same vote, same
    * tie-breaks. */
  def knnClassifyIvfHierTrained(emb: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int, targetCellSize: Int,
      nprobe: Int, sprobe: Int, trainIters: Int): DataFrame = {
    val labels = emb.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("long").as("lbl"))
    majorityVote(labels, Similarity.ivfHierProbeTopKNeighborsTrained(
      emb, idCol, vecCol, k, targetCellSize, nprobe, sprobe, trainIters))
  }

  /** Shared kNN vote: count labels over (id, neighbor_id) candidate
    * rows, argmax by struct-max over (count, −label) — exact integers,
    * ties toward the smaller label, no float anywhere in the vote. */
  private def majorityVote(labels: DataFrame,
      neighbors: DataFrame): DataFrame = {
    val nbrs = neighbors
      .select(col("id"), col("neighbor_id"))
      .join(labels.select(col("id").as("neighbor_id"),
        col("lbl").as("nlbl")), "neighbor_id")
    val votes = nbrs.groupBy(col("id"), col("nlbl"))
      .agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy(col("id"))
      .agg(max(struct(col("cnt"), (-col("nlbl")).as("neg"))).as("m"))
      .select(col("id"), (-col("m.neg")).as("predicted"))
    labels.join(pred, "id")
      .select(col("id"), col("lbl").as("actual"), col("predicted"),
        (col("lbl") === col("predicted")).as("correct"))
  }

  /** Reliability (calibration) bins: EQUAL-COUNT probability bins cut
    * at the score distribution's own percentiles (fixed-width bins
    * collapse when a weak model's scores cluster in one decile — the
    * quantile cut keeps resolution wherever the mass is, the standard
    * reliability-diagram practice), per bin the count, mean predicted
    * probability, observed positive rate, and the gap. Bin edges are
    * one broadcast percentile row (the PSI convention; duplicate edges
    * from tied scores merge bins — ≤ `bins` rows out). Mean-of-
    * probabilities sums EXACT micro units (p·1e6 as long), never raw
    * doubles (order-dependence). Output: bin, n, avg_pred, obs_rate,
    * gap. */
  def calibrationBins(scored: DataFrame, probCol: String, yCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins=$bins")
    val p = col(probCol).cast("double")
    // unscored rows (null p) and unlabeled rows drop — they would land
    // in bin 0 / inflate n while the micro-unit sum skips them.
    // Spread, NO barrier (round 11): `base` feeds TWO passes (the cut
    // aggregation, then the binning aggregation), but both live in ONE
    // plan — the spread repartition (or whatever exchange the caller's
    // lineage already carries) is an identical subtree under both, so
    // ReuseExchange computes the heavy map side once and only the cheap
    // narrow projection replays. Round 10 put an eager localCheckpoint
    // here; the driver bench measured it as a 2.7× LOSS (7.4 → 20.3 s)
    // and at 100 TB it is a §5 storage cliff (full scored projection
    // pinned to executor blocks) bought to save one cheap re-scan.
    val base = Partitioning.spread(scored
      .where(col(probCol).isNotNull && col(yCol).isNotNull)
      .select(p.as("p"), col(yCol).cast("long").as("y")))
    val probs = (1 until bins).map(_.toDouble / bins)
    // Percentiles.pct honors spark.graft.percentile.approx: the 100 TB
    // path swaps the exact value-multiset cut for the GK sketch with the
    // SAME plan shape (FrontierSpec's boundary-rows-only contract); the
    // default stays exact `percentile`, which is what the oracle pins.
    val cuts = base.agg(Percentiles.pct(scored.sparkSession,
      col("p"), typedlit(probs)).as("cuts"))
    val binned = base.crossJoin(broadcast(cuts))
      .select(
        aggregate(col("cuts"), lit(0L),
          (acc, e) => acc + when(col("p") > e, 1L).otherwise(0L))
          .as("bin"),
        // round before the cast: p·1e6 sits within an ulp of the
        // integer and a bare cast truncates the low side
        round(col("p") * 1000000).cast("long").as("p6u"), col("y"))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("p6u")).as("sp"),
        sum(col("y")).as("sy"))
      .select(col("bin"), col("n"),
        round(col("sp").cast("double") / lit(1000000.0) /
          col("n").cast("double"), 8).as("avg_pred"),
        round(col("sy").cast("double") / col("n").cast("double"), 8)
          .as("obs_rate"),
        round(col("sp").cast("double") / lit(1000000.0) /
          col("n").cast("double") -
          col("sy").cast("double") / col("n").cast("double"), 8)
          .as("gap"))
      .orderBy("bin")
  }

  /** Rank-based AUC (area under the ROC curve) of a score against a
    * binary label — exactly the Mann–Whitney U statistic normalized by
    * n⁺·n⁻, computed tie-aware on midranks:
    *
    *   AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻)
    *
    * AUC is invariant under monotone transforms, so scoring a raw
    * feature here equals scoring any calibrated monotone model of it.
    * The rank window runs over the DISTINCT-score table (the ksStat
    * value-domain convention); doubled midranks are integers; the rank
    * sum accumulates in DECIMAL. Output one row: n_pos, n_neg,
    * auc (8dp; NULL when either class is empty). */
  def aucRank(df: DataFrame, scoreCol: String, labelCol: Column)
      : DataFrame = {
    val base = df.where(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("decimal(18,2)").as("s"),
        labelCol.cast("long").as("y"))
      .where(col("y").isNotNull)
    val ties = base.groupBy(col("s"))
      .agg(sum(col("y")).as("cp"), sum(lit(1L) - col("y")).as("cn"),
        count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = ties.withColumn("mr2",
      coalesce(sum(col("c")).over(wCum), lit(0L)) * 2 + col("c") + 1)
    val agg = ranked.agg(
      sum(col("cp")).as("n_pos"), sum(col("cn")).as("n_neg"),
      sum(col("cp").cast("decimal(19,0)") *
        col("mr2").cast("decimal(19,0)")).as("r2p"))
    val np = col("n_pos").cast("double")
    val nn = col("n_neg").cast("double")
    val rPos = col("r2p").cast("double") / 2.0
    agg.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round((rPos - np * (np + 1.0) / 2.0) / (np * nn), 8)).as("auc"))
  }

  /** Cumulative-gains table: rows bin into `bins` equal-count score
    * bands (percentile cuts of the score, highest band first) and each
    * band reports its positives, the CUMULATIVE capture rate walking
    * down from the best band, and the band's lift over the base rate —
    * the scorecard targeting readout beside [[calibrationBins]]'s
    * honesty readout. Counts exact; capture/lift are int ratios
    * rounded 8dp; the cumulative walk is a window over ≤ `bins` rows.
    * Output: band (0 = best), n, n_pos, capture, lift. */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 100, s"bins=$bins")
    // spread, NO barrier: same two-pass-one-plan shape as
    // [[calibrationBins]] — the shared exchange is reused within the
    // single action; an eager checkpoint here was the round-10 loss
    val base = Partitioning.spread(
      df.where(col(scoreCol).isNotNull)
        .select(col(scoreCol).cast("double").as("s"),
          labelCol.cast("long").as("y"))
        .where(col("y").isNotNull))
    val probs = (1 until bins).map(_.toDouble / bins)
    // same session-flagged exact→approx switch as [[calibrationBins]]
    val cuts = base.agg(Percentiles.pct(df.sparkSession,
      col("s"), typedlit(probs)).as("cuts"))
    // band 0 = TOP scores: count of cuts the score does NOT exceed
    val binned = base.crossJoin(broadcast(cuts))
      .select((lit(bins - 1) - aggregate(col("cuts"), lit(0L),
          (acc, e) => acc + when(col("s") > e, 1L).otherwise(0L)))
          .as("band"),
        col("y"))
    val perBand = binned.groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val tot = perBand.agg(sum(col("n")).as("tn"),
      sum(col("n_pos")).as("tp"))
    val wCum = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBand.crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .select(col("band"), col("n"), col("n_pos"),
        when(col("tp") > 0, round(col("cum_pos").cast("double") /
          col("tp").cast("double"), 8)).as("capture"),
        when(col("tp") > 0 && col("n") > 0, round(
          (col("n_pos").cast("double") / col("n").cast("double")) /
            (col("tp").cast("double") / col("tn").cast("double")), 8))
          .as("lift"))
      .orderBy("band")
  }

  /** Two-proportion z-test (pooled variance) between variants `a` and
    * `b`: the A/B conversion readout. All counts exact; the z formula
    * is one shared IEEE expression rounded to 8dp. Output one row:
    * n_a, conv_a, rate_a, n_b, conv_b, rate_b, lift, z. */
  def abTest(df: DataFrame, variantCol: Column, successCol: Column)
      : DataFrame = {
    val agg = df.select(variantCol.as("v"),
        successCol.cast("long").as("s"))
      .agg(
        sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("v") === 0, col("s")).otherwise(0L)).as("conv_a"),
        sum(when(col("v") =!= 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("v") =!= 0, col("s")).otherwise(0L)).as("conv_b"))
    val (na, ca, nb, cb) = (col("n_a").cast("double"),
      col("conv_a").cast("double"), col("n_b").cast("double"),
      col("conv_b").cast("double"))
    val (pa, pb) = (ca / na, cb / nb)
    val pp = (ca + cb) / (na + nb)
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))
    agg.select(col("n_a"), col("conv_a"), round(pa, 8).as("rate_a"),
      col("n_b"), col("conv_b"), round(pb, 8).as("rate_b"),
      when(pb > 0.0, round(pa / pb - 1.0, 8)).as("lift"),
      when(se > 0.0, round((pa - pb) / se, 8)).as("z"))
  }

  /** Split-conformal regression intervals (Vovk et al.; Lei et al.
    * 2018) around a per-group mean predictor, end to end in one plan:
    * rows split 50/25/25 into train/cal/test by the engine's md5-hash
    * ranges (stable, engine-portable); the predictor is the train
    * split's per-group mean (exact DECIMAL moments); the conformal
    * quantile q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest |y−ŷ| of the
    * calibration split — an EXACT order statistic selected by rank
    * (row_number under a (score, key) total order), never an
    * interpolated percentile, so the marginal ≥1−α coverage guarantee
    * AND cross-engine bit-equality both hold. Test rows report
    * [ŷ−q̂, ŷ+q̂] and the coverage flag. A calibration split smaller
    * than the rank (k > n_cal) yields the honest infinite interval:
    * NULL bounds, covered = true.
    *
    * α is taken on the exact milli grid (the mmrRerank λ discipline):
    * values finer than 3 decimals are rejected loudly rather than
    * silently rounded. Groups absent from the train split have no
    * predictor and are omitted from the output (no model, no claim). Scale shape: two narrow per-group aggregations +
    * a per-group rank window over CALIBRATION rows only (25% of one
    * group's rows — bounded like every per-group window here) + two
    * broadcast map-backs; the test side never shuffles.
    * Output: keyCol, groupCol, y, pred, qhat, lo, hi, covered. */
  def conformalIntervals(df: DataFrame, keyCol: String, groupCol: String,
      yCol: String, alpha: Double, seed: String = "conf"): DataFrame = {
    val milli = math.round(alpha * 1000.0)
    require(alpha > 0.0 && alpha < 1.0 &&
      math.abs(alpha * 1000.0 - milli) < 1e-9,
      s"alpha=$alpha must sit on the 3-decimal grid in (0,1)")
    val split = graft.llm.Sampling.assignSplit(
      df.where(col(yCol).isNotNull),
      keyCol, Seq("train" -> 0.5, "cal" -> 0.25, "test" -> 0.25), seed,
      outCol = "__split")
    val y = col(yCol).cast("decimal(18,2)")
    val pred = split.where(col("__split") === "train")
      .groupBy(col(groupCol))
      .agg((sum(y).cast("double") / count(lit(1)).cast("double"))
        .as("pred"))
    // calibration scores: |y - pred| ranked per group under a total
    // order; k-th smallest is the conformal quantile
    val cal = split.where(col("__split") === "cal")
      .join(broadcast(pred), Seq(groupCol))
      .select(col(groupCol), col(keyCol),
        abs(col(yCol).cast("double") - col("pred")).as("__s"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__s").asc, col(keyCol).asc)
    val ranked = cal.withColumn("__rn", row_number().over(w))
    val nCal = cal.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__ncal"))
      // k = ceil((n+1)·(1000−milli)/1000), exact integer arithmetic
      .withColumn("__k",
        expr(s"((__ncal + 1) * ${1000 - milli} + 999) div 1000"))
    val qhat = ranked.join(broadcast(nCal), Seq(groupCol))
      .where(col("__rn") === col("__k"))
      .select(col(groupCol), col("__s").as("qhat"), lit(true).as("__fin"))
    // groups where k > n_cal never match the rank filter → left-join
    // miss → infinite interval below
    split.where(col("__split") === "test")
      .join(broadcast(pred), Seq(groupCol))
      .join(broadcast(qhat), Seq(groupCol), "left")
      .select(col(keyCol), col(groupCol),
        col(yCol).cast("double").as("y"),
        round(col("pred"), 8).as("pred"),
        round(col("qhat"), 8).as("qhat"),
        round(col("pred") - col("qhat"), 8).as("lo"),
        round(col("pred") + col("qhat"), 8).as("hi"),
        when(col("__fin").isNull, lit(true))
          .otherwise(col(yCol).cast("double") >= col("pred") - col("qhat") &&
            col(yCol).cast("double") <= col("pred") + col("qhat"))
          .as("covered"))
  }

  /** Isotonic regression of a rate against an ordered score domain via
    * the exact MINIMAX identity (Ayer et al. 1955; Barlow et al. 1972):
    * iso(i) = max_{j≤i} min_{k≥i} mean(y over bins j..k) — equal to the
    * PAVA fit, but expressible as pure relational algebra with no
    * sequential pooling loop. The monotone-recalibration step a
    * reliability diagram feeds (isotonic calibration).
    *
    * Scale contract: the fit runs over the DISTINCT score domain (one
    * count/sum aggregation reduces rows to bins first — the RankStats
    * discipline); the (i, j, k) grid is domain³-bounded (the Tukey
    * k²-grid convention — calibration domains are tens of bins, never
    * row-scale; a row-scale x belongs in quantile bins first). Interval
    * means derive from exact DECIMAL prefix sums, so both engines
    * compare identical doubles and the min/max pick identical values.
    * Output per bin: xCol, n, rate (8dp), iso (8dp, non-decreasing). */
  def isotonicFit(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val y = col(yCol).cast("decimal(18,2)")
    val bins = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"))
      .agg(count(lit(1)).as("n"), sum(y).as("s"))
    val wOrd = Window.orderBy(col("x").asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val idx = bins
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cn", sum(col("n")).over(wCum))
      .withColumn("cs", sum(col("s")).over(wCum))
      .withColumn("cnp", coalesce(lag(col("cn"), 1).over(wOrd), lit(0L)))
      .withColumn("csp", coalesce(lag(col("cs"), 1).over(wOrd),
        lit(0).cast("decimal(18,2)")))
    // interval means over [j, k] from exact prefix-sum differences
    val jt = idx.select(col("i").as("j"), col("cnp"), col("csp"))
    val kt = idx.select(col("i").as("k"), col("cn"), col("cs"))
    val pairs = jt.join(kt, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cs") - col("csp")).cast("double") /
          (col("cn") - col("cnp")).cast("double")).as("m"))
    val is = idx.select(col("i"))
    val fitted = pairs
      .join(is, col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("m")).as("__inner"))
      .groupBy(col("i")).agg(max(col("__inner")).as("__iso"))
    idx.join(fitted, "i")
      .select(col("x").as(xCol), col("n"),
        round(col("s").cast("double") / col("n").cast("double"), 8)
          .as("rate"),
        round(col("__iso"), 8).as("iso"))
  }

  /** Difference-in-differences estimator (the Card–Krueger 2×2 shape):
    * did = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) — the causal
    * screen under the parallel-trends assumption, reading an effect off
    * observational pre/post data where a naive post-only comparison
    * confounds treatment with time.
    *
    * ONE aggregation computes all four cells (conditional DECIMAL sums
    * + counts, map-side combinable — never four scans); the means and
    * the estimate are one double expression on the 8dp grid. Rows with
    * a NULL outcome, treatment or period flag drop listwise; an EMPTY
    * cell yields NULL means and a NULL estimate (no extrapolation).
    * Output one row: n_/mean_ per cell (c_pre, c_post, t_pre, t_post)
    * and did. */
  def didEstimate(df: DataFrame, treatCol: String, postCol: String,
      yCol: String): DataFrame = {
    val y = col(yCol).cast("decimal(18,2)")
    val t = col(treatCol).cast("boolean")
    val p = col(postCol).cast("boolean")
    val base = df.where(col(yCol).isNotNull && t.isNotNull && p.isNotNull)
    def cell(cond: Column, tag: String) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(cond, y)).as(s"__s_$tag"))
    val aggs = cell(!t && !p, "c_pre") ++ cell(!t && p, "c_post") ++
      cell(t && !p, "t_pre") ++ cell(t && p, "t_post")
    val agg = base.agg(aggs.head, aggs.tail: _*)
    def mean(tag: String) = when(col(s"n_$tag") > 0,
      col(s"__s_$tag").cast("double") / col(s"n_$tag").cast("double"))
    agg.select(
      col("n_c_pre"), col("n_c_post"), col("n_t_pre"), col("n_t_post"),
      round(mean("c_pre"), 8).as("mean_c_pre"),
      round(mean("c_post"), 8).as("mean_c_post"),
      round(mean("t_pre"), 8).as("mean_t_pre"),
      round(mean("t_post"), 8).as("mean_t_post"),
      round((mean("t_post") - mean("t_pre")) -
        (mean("c_post") - mean("c_pre")), 8).as("did"))
  }

  /** 1-NN covariate matching ATT (Abadie–Imbens shape, with
    * replacement): each treated unit is matched to the CONTROL nearest
    * on the covariate axis, and the effect is the mean matched outcome
    * difference — the selection-on-observables causal screen beside
    * [[didEstimate]]'s parallel-trends one.
    *
    * The nearest-control search is the as-of trick on the covariate
    * axis, never a treated×control product: ONE sort of the unioned
    * units by (x, control-first, id) feeds a running last-control
    * window (backward candidate) and its mirror (forward candidate);
    * each treated row picks the closer side (tie → backward), so the
    * whole match costs two windows over one sorted pass. Same-x
    * controls are eligible both ways (distance 0); the control payload
    * rides ONE struct (the multi-column window-payload rule). Treated
    * units with no control on either side drop and are counted.
    *
    * Determinism: candidate choice compares exact double distances of
    * identical values; each matched difference is rounded to the 8dp
    * grid and summed in DECIMAL (the grid-sum rule), divided once.
    * Output one row: n_treated, n_matched, att (8dp). */
  def nnMatchAtt(df: DataFrame, treatCol: String, xCol: String,
      yCol: String, idCol: String): DataFrame = {
    val base = df.where(col(treatCol).isNotNull && col(xCol).isNotNull &&
      col(yCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(treatCol).cast("boolean").as("t"),
        col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
    val ctl = when(!col("t"),
      struct(col("x").as("cx"), col("y").as("cy"), col("id").as("cid")))
    val wB = Window.orderBy(col("x").asc, col("t").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.orderBy(col("x").desc, col("t").asc, col("id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = base
      .withColumn("__b", last(ctl, ignoreNulls = true).over(wB))
      .withColumn("__f", last(ctl, ignoreNulls = true).over(wF))
      .where(col("t"))
    val db = col("x") - col("__b.cx")
    val dfw = col("__f.cx") - col("x")
    // both-null falls out of the first branch (null __b) — no typed
    // null literal needed
    val pick = when(col("__f").isNull, col("__b"))
      .when(col("__b").isNull, col("__f"))
      .when(db <= dfw, col("__b"))
      .otherwise(col("__f"))
    val matched = cand.withColumn("__m", pick)
    matched.agg(
        count(lit(1)).as("n_treated"),
        sum(when(col("__m").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("__m").isNotNull,
          round(col("y") - col("__m.cy"), 8).cast("decimal(38,8)")))
          .as("__s"))
      .select(col("n_treated"), col("n_matched"),
        when(col("n_matched") > 0,
          round(col("__s").cast("double") /
            col("n_matched").cast("double"), 8)).as("att"))
  }

  /** Average precision / PR-AUC (the step-wise AP of the TREC eval
    * tradition) over a scored binary-label set — the precision-recall
    * companion of [[aucRank]] for class-imbalanced retrieval: AP =
    * Σ_positives precision@rank / n_pos, with TIES handled by the block
    * convention (all rows sharing a score take the precision at the END
    * of their block — rank order inside a tie is not observable, so no
    * engine's sort order can leak in).
    *
    * One distinct-score aggregation (map-side combinable), then one
    * window over the BOUNDED distinct-score grid; per-block terms are
    * rounded to the 10dp grid and summed in DECIMAL (order-free).
    * Output one row: n, n_pos, avg_precision. */
  def averagePrecision(df: DataFrame, scoreCol: String, label: Column)
      : DataFrame = {
    // NULL scores are unrankable: their block position would depend on
    // the engine's NULL sort order (the fdrBh NULL-drop rationale)
    val base = df.where(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("decimal(18,2)").as("__s"),
        when(label, 1L).otherwise(0L).as("__y"))
    val blocks = base.groupBy(col("__s"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = blocks
      .withColumn("__cn", sum(col("__n")).over(w))
      .withColumn("__cp", sum(col("__p")).over(w))
      .withColumn("__term",
        round(col("__p").cast("double") * col("__cp").cast("double") /
          col("__cn").cast("double"), 10).cast("decimal(38,10)"))
    scored.agg(sum(col("__n")).as("n"), sum(col("__p")).as("n_pos"),
        sum(col("__term")).as("__ap"))
      .select(col("n"), col("n_pos"),
        when(col("n_pos") > 0,
          round(col("__ap").cast("double") / col("n_pos").cast("double"),
            8)).as("avg_precision"))
  }

  /** Cohen's κ (Cohen 1960): chance-corrected agreement between two
    * categorical labelings — κ = (p_o − p_e)/(1 − p_e) with p_e from the
    * marginal class frequencies. Three count aggregations (overall +
    * one per rater marginal, all map-side combinable) joined on the
    * bounded class domain; every input to the final formula is an exact
    * integer, so the one double expression is bit-identical across
    * engines. Rows where either label is NULL are listwise-dropped (the
    * fdrBh convention): keeping them would count NULL rows in n and the
    * p_o denominator (null === null agrees as 0) while the inner
    * marginal join drops the NULL class from p_e — biasing κ whenever a
    * rater column has NULLs. Output one row: n, po, pe, kappa (NULL
    * when p_e = 1). */
  def cohensKappa(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val base = df.select(aCol.cast("string").as("__a"),
      bCol.cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
    val tot = base.agg(count(lit(1)).as("n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("__agree"))
    val ma = base.groupBy(col("__a").as("__cls")).agg(count(lit(1)).as("__na"))
    val mb = base.groupBy(col("__b").as("__cls")).agg(count(lit(1)).as("__nb"))
    val cross = ma.join(mb, Seq("__cls"))
      .agg(sum(col("__na") * col("__nb")).as("__ee"))
    val nd = col("n").cast("double")
    val po = col("__agree").cast("double") / nd
    val pe = col("__ee").cast("double") / (nd * nd)
    tot.crossJoin(broadcast(cross))
      .select(col("n"), round(po, 8).as("po"), round(pe, 8).as("pe"),
        when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 8)).as("kappa"))
  }

  /** Stratified IPW average-treatment-effect (Horvitz & Thompson 1952
    * weighting, Hájek-normalized): given a KNOWN per-stratum propensity
    * p(treat | stratum) in (0,1), the treated and control means are
    * reweighted by 1/p and 1/(1−p) — the design-based member of the
    * causal tier beside q_did (parallel trends) and q_nn_match
    * (selection on observables).
    *
    * One stratum-keyed aggregation; the per-stratum weighted terms are
    * rounded to the 8dp grid and summed in DECIMAL over the BOUNDED
    * stratum domain, the Hájek ratios run once at the end. Rows with a
    * NULL outcome or a NULL / out-of-(0,1) propensity are
    * listwise-dropped (visible in the n_treat/n_ctrl counts — an
    * unmodelled stratum or unscored unit must shrink the sample, not
    * drag the weighted mean toward 0). Output one row: n_treat,
    * n_ctrl, mu_treat, mu_ctrl, ate. */
  def ipwAte(df: DataFrame, stratumCol: String, treat: Column,
      yCol: String, pCol: String): DataFrame = {
    val p = col(pCol).cast("double")
    val perS = df
      .where(p.isNotNull && p > 0.0 && p < 1.0 && col(yCol).isNotNull)
      .groupBy(col(stratumCol).as("__s"), p.as("__p"))
      .agg(
        sum(when(treat, col(yCol).cast("decimal(18,2)"))).as("__syt"),
        sum(when(treat, 1L).otherwise(0L)).as("__nt"),
        sum(when(!treat, col(yCol).cast("decimal(18,2)"))).as("__syc"),
        sum(when(!treat, 1L).otherwise(0L)).as("__nc"))
    val r8 = (c: Column) => round(c, 8).cast("decimal(38,8)")
    val tot = perS.agg(
      sum(col("__nt")).as("n_treat"), sum(col("__nc")).as("n_ctrl"),
      sum(r8(coalesce(col("__syt").cast("double"), lit(0.0)) / col("__p")))
        .as("__wy_t"),
      sum(r8(col("__nt").cast("double") / col("__p"))).as("__w_t"),
      sum(r8(coalesce(col("__syc").cast("double"), lit(0.0)) /
        (lit(1.0) - col("__p")))).as("__wy_c"),
      sum(r8(col("__nc").cast("double") / (lit(1.0) - col("__p"))))
        .as("__w_c"))
    val muT = when(col("__w_t").cast("double") > 0.0,
      col("__wy_t").cast("double") / col("__w_t").cast("double"))
    val muC = when(col("__w_c").cast("double") > 0.0,
      col("__wy_c").cast("double") / col("__w_c").cast("double"))
    tot.select(col("n_treat"), col("n_ctrl"),
      round(muT, 8).as("mu_treat"), round(muC, 8).as("mu_ctrl"),
      round(muT - muC, 8).as("ate"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013): adjust
    * the experiment metric y by the pre-period covariate x,
    * y' = y − θ(x − x̄) with θ = cov(x,y)/var(x) pooled across arms —
    * the industry-standard A/B sensitivity boost. The adjustment leaves
    * every arm's mean unbiased (E[x] is arm-independent by
    * randomization) while cancelling the pre-period component of the
    * variance.
    *
    * One global moment aggregation (exact DECIMAL sums of cent-grid
    * products), θ/x̄ broadcast back via the 1-row crossJoin convention,
    * per-row adjusted values on the 8dp grid summed in DECIMAL per arm.
    * Degenerate var(x) = 0 yields NULL adjusted means (no covariate to
    * adjust on) rather than a fabricated θ. Output per arm: arm, n,
    * mean_raw, mean_adj — ordered by arm. */
  def cuped(df: DataFrame, armCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(armCol).cast("string").as("__arm"),
        col(xCol).cast("decimal(18,2)").as("__x"),
        col(yCol).cast("decimal(18,2)").as("__y"))
    val mom = base.agg(count(lit(1)).as("__n"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum((col("__x") * col("__x")).cast("decimal(38,4)")).as("__sxx"),
      sum((col("__x") * col("__y")).cast("decimal(38,4)")).as("__sxy"))
    val nd = col("__n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val den = col("__sxx").cast("double") - sx * sx / nd
    val num = col("__sxy").cast("double") - sx * sy / nd
    val prior = mom.select(
      when(den > 0.0, num / den).as("__theta"), (sx / nd).as("__xbar"))
    base.crossJoin(broadcast(prior))
      .withColumn("__adj",
        round(col("__y").cast("double") - col("__theta") *
          (col("__x").cast("double") - col("__xbar")), 8)
          .cast("decimal(38,8)"))
      .groupBy(col("__arm").as(armCol))
      .agg(count(lit(1)).as("n"),
        round(sum(col("__y")).cast("double") /
          count(lit(1)).cast("double"), 8).as("mean_raw"),
        round(sum(col("__adj")).cast("double") /
          count(lit(1)).cast("double"), 8).as("mean_adj"))
  }

  /** Sample-ratio-mismatch check (the pre-flight every experimentation
    * platform runs before reading an A/B result): χ² goodness-of-fit of
    * the observed arm counts against the DESIGNED ratios — a triggered
    * alarm means the assignment or logging pipeline is dropping one arm
    * and every downstream metric is suspect. One count aggregation;
    * exact integers into per-arm (o−e)²/e terms on the 8dp grid, summed
    * in DECIMAL over the bounded arm domain. Arms in `expected` that
    * never appear still contribute their full e (o = 0) via the full
    * join — a vanished arm must inflate the statistic, not disappear —
    * and an OBSERVED arm missing from the design yields a NULL chi2
    * (the design is wrong, no statistic is honest — the fail-loud
    * stance of the conformal monitor's unmodelled-group branch).
    * Output one row: n, n_arms, chi2. */
  def srmCheck(df: DataFrame, armCol: String,
      expected: Seq[(String, Double)]): DataFrame = {
    require(expected.nonEmpty, "srmCheck: no expected ratios")
    // a designed-zero arm has no finite χ² term: (o−0)²/0 would pass
    // through as Infinity and VANISH in the decimal cast+sum — reject
    // the design up front instead of under-reporting the exact failure
    // SRM exists to catch
    require(expected.forall(_._2 > 0.0),
      s"srmCheck: every designed ratio must be > 0, got $expected")
    require(math.abs(expected.map(_._2).sum - 1.0) < 1e-9,
      s"srmCheck: ratios sum to ${expected.map(_._2).sum}")
    val spark = df.sparkSession
    import spark.implicits._
    val exp0 = broadcast(expected.toDF(armCol, "__ratio"))
    val counts = df.groupBy(col(armCol)).agg(count(lit(1)).as("__o"))
    val joined = counts.join(exp0, Seq(armCol), "full")
      .select(col(armCol), coalesce(col("__o"), lit(0L)).as("__o"),
        col("__ratio"))
      .withColumn("__n", sum(col("__o")).over(Window.partitionBy()))
    val e = col("__ratio") * col("__n").cast("double")
    joined
      .withColumn("__term",
        round((col("__o").cast("double") - e) *
          (col("__o").cast("double") - e) / e, 8).cast("decimal(38,8)"))
      .agg(sum(col("__o")).as("n"), count(lit(1)).as("n_arms"),
        max(col("__ratio").isNull).as("__unmodelled"),
        sum(col("__term")).as("__chi2"))
      .select(col("n"), col("n_arms"),
        when(!col("__unmodelled"),
          round(col("__chi2").cast("double"), 8)).as("chi2"))
  }

  /** Empirical-Bayes shrinkage of per-key binomial rates (beta-binomial
    * with a method-of-moments prior; Robbins 1956 lineage, the
    * "add-α/add-β from the data itself" smoothing used for CTR /
    * return-rate league tables): the prior Beta(α, β) is fit from the
    * across-key mean and variance of the raw rates, and each key
    * reports the posterior mean (k + α)/(n + α + β) — low-n keys shrink
    * toward the global mean, high-n keys keep their own rate.
    *
    * Input is already aggregated (key, k, n); the prior moments are
    * DECIMAL sums of 8dp-rounded rates (order-free over the bounded
    * key domain; rounded ONCE — a 10dp-then-8dp double-round lands on
    * 8dp ties where the engines' intermediate doubles differ by 1 ulp,
    * caught by the sf1 sweep), the two prior scalars broadcast back via
    * a one-row crossJoin. Keys with n = 0 are dropped; a degenerate prior
    * (variance 0 or var ≥ μ(1−μ), i.e. no overdispersion to shrink
    * against) yields NULL posteriors rather than a fabricated prior.
    * Output per key: key, n, k, rate, posterior. */
  def ebSmooth(df: DataFrame, keyCol: String, kCol: String,
      nCol: String): DataFrame = {
    val base = df
      .select(col(keyCol), col(kCol).cast("long").as("__k"),
        col(nCol).cast("long").as("__n"))
      .where(col("__n") > 0)
      .withColumn("__r",
        round(col("__k").cast("double") / col("__n").cast("double"), 8))
    val prior = Stats.gridMoments(base, "__r")
      .select(col("__mu"),
        when(col("__vr").isNotNull && col("__vr") > 0.0 &&
          col("__vr") < col("__mu") * (lit(1.0) - col("__mu")),
          col("__mu") * (lit(1.0) - col("__mu")) / col("__vr") - lit(1.0))
          .as("__s"))
    base.crossJoin(broadcast(prior))
      .select(col(keyCol), col("__n").as("n"), col("__k").as("k"),
        col("__r").as("rate"),
        round((col("__k").cast("double") + col("__mu") * col("__s")) /
          (col("__n").cast("double") + col("__s")), 8).as("posterior"))
  }
  /** Sharp regression-discontinuity estimate (Thistlethwaite & Campbell
    * 1960; the local-linear form of Imbens & Lemieux 2008): fit y on
    * (x − c) separately within the bandwidth on each side of the cutoff
    * and report the gap between the two intercepts AT the cutoff — the
    * fourth member of the causal tier (DiD trends, IPW weighting, 1-NN
    * matching, RDD thresholds).
    *
    * One aggregation computes BOTH sides' exact DECIMAL moment sets
    * (cent-grid x−c and y products); the two OLS solves and the gap are
    * one double formula over those sums. Degenerate sides (n ≤ 1 or
    * zero x-variance) yield NULL intercepts and a NULL gap — never a
    * fabricated line. Output one row: n_left, n_right, alpha_left,
    * alpha_right, gap. */
  def rddGap(df: DataFrame, xCol: String, yCol: String, cutoff: Double,
      bandwidth: Double): DataFrame = {
    require(bandwidth > 0.0, s"rddGap: bandwidth=$bandwidth")
    // (12,2) keeps the x·x / x·y products at precision 25 — a (18,2)
    // square would hit 39 and trip Spark's silent scale adjustment (the
    // pageHinkley lesson); |x−c| < bandwidth by construction and the
    // cent-grid outcome contract caps y at 1e10
    val x = col(xCol).cast("decimal(12,2)")
    val y = col(yCol).cast("decimal(12,2)")
    val base = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((x - lit(cutoff).cast("decimal(12,2)")).as("__x"),
        y.as("__y"))
      .where(col("__x") >= -bandwidth && col("__x") < bandwidth)
      .withColumn("__r", col("__x") >= 0)
    def side(tag: String, cond: Column) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(cond, col("__x"))).as(s"sx_$tag"),
      sum(when(cond, col("__y"))).as(s"sy_$tag"),
      sum(when(cond, (col("__x") * col("__x")).cast("decimal(38,4)")))
        .as(s"sxx_$tag"),
      sum(when(cond, (col("__x") * col("__y")).cast("decimal(38,4)")))
        .as(s"sxy_$tag"),
      min(when(cond, col("__x"))).as(s"xmin_$tag"),
      max(when(cond, col("__x"))).as(s"xmax_$tag"))
    val moments = side("l", !col("__r")) ++ side("r", col("__r"))
    val agg = base.agg(moments.head, moments.tail: _*)
    def alpha(tag: String): Column = {
      val nd = col(s"n_$tag").cast("double")
      val sx = col(s"sx_$tag").cast("double")
      val sy = col(s"sy_$tag").cast("double")
      val den = col(s"sxx_$tag").cast("double") - sx * sx / nd
      val b = (col(s"sxy_$tag").cast("double") - sx * sy / nd) / den
      // zero x-variance is decided by the EXACT decimal min/max compare
      // — `den > 0` alone tests floating-point noise (an all-equal side
      // can land at den ≈ 2.8e-17 and emit a fabricated line)
      when(col(s"n_$tag") > 1 &&
        col(s"xmin_$tag") =!= col(s"xmax_$tag") && den > 0.0,
        sy / nd - b * (sx / nd))
    }
    agg.select(col("n_l").as("n_left"), col("n_r").as("n_right"),
      round(alpha("l"), 8).as("alpha_left"),
      round(alpha("r"), 8).as("alpha_right"),
      round(alpha("r") - alpha("l"), 8).as("gap"))
  }
  /** UCB1 arm scores (Auer, Cesa-Bianchi & Fischer 2002): per arm the
    * mean reward plus the exploration bonus sqrt(c·ln N / n), and which
    * arm the policy would pull next — the allocation readout an
    * experimentation platform computes between batches (the bandit
    * complement of the fixed-split q_srm / q_ab_test machinery).
    *
    * One count/sum aggregation (exact DECIMAL reward sums); N and the
    * argmax derive from one-row/bounded-arm broadcasts; ties on the
    * UCB break toward the lexicographically smaller arm. Output per
    * arm: arm, n, mean_reward, ucb, chosen — ordered by arm. */
  def ucbArms(df: DataFrame, armCol: String, rewardCol: String,
      c: Double = 2.0): DataFrame = {
    require(c > 0.0, s"ucbArms: c=$c")
    val base = df
      .where(col(armCol).isNotNull && col(rewardCol).isNotNull)
      .select(col(armCol).cast("string").as("arm"),
        col(rewardCol).cast("decimal(18,2)").as("__r"))
    val per = base.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("__r")).as("__sr"))
    val tot = per.agg(sum(col("n")).as("__nn"))
    val mean = col("__sr").cast("double") / col("n").cast("double")
    val ucb = round(mean + sqrt(lit(c) * log(col("__nn").cast("double")) /
      col("n").cast("double")), 8)
    val scored = per.crossJoin(broadcast(tot))
      .select(col("arm"), col("n"), round(mean, 8).as("mean_reward"),
        ucb.as("ucb"))
    // argmax with the smaller-arm tie-break over the BOUNDED arm set:
    // two full-frame windows on the per-arm rows (never a re-aggregation
    // of the raw input — a second scored subtree would re-scan the
    // corpus per use)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    scored
      .withColumn("__mu", max(col("ucb")).over(wAll))
      .withColumn("__ca",
        min(when(col("ucb") === col("__mu"), col("arm"))).over(wAll))
      .select(col("arm"), col("n"), col("mean_reward"), col("ucb"),
        (col("arm") === col("__ca")).as("chosen"))
  }
}
