package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and ordering for training-data exports.
  *
  * Random sampling via RNG state (`df.sample`, `sampleBy`) is not
  * reproducible across engines, partitionings, or reruns — a training
  * pipeline needs the SAME subset on every run and on every engine that
  * audits it. These operators derive uniformity from md5 of the row key
  * instead (the engine's standard portable-randomness trick): a row is in
  * the sample iff the first 8 hex chars of `md5(seed|key)` fall below the
  * fraction's threshold, a pure per-row predicate.
  *
  * Scale: both operators are map-only (no shuffle, no state); the sample
  * predicate pushes no work to the driver and composes with scan pruning.
  * The shuffle ordering is a total sort — at 100 TB it range-partitions
  * like any global ORDER BY (used at the export edge, once).
  */
object Sampling {

  /** Hex threshold on [0, 16^8) equivalent to `fraction`; md5 hex compares
    * lexicographically identically in any engine. */
  private[graft] def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction=$fraction")
    // 1.0 must keep EVERY row, including md5 prefixes of "ffffffff":
    // 'g' sorts after every hex char, so `hex < "g"` is always true
    if (fraction >= 1.0) "g"
    else f"${math.min((fraction * 4294967296.0).round, 4294967295L)}%08x"
  }

  /** The md5-uniform key both sampling and shuffling order by — public so
    * queries/pipelines can surface the exact key the library uses instead
    * of re-deriving it. */
  def uniformHex(seed: String, key: Column): Column =
    substring(md5(concat(lit(s"$seed|"), key.cast("string"))), 1, 8)

  /** Keep ~`fraction` of rows, deterministically by `keyCol`: the same
    * key is kept or dropped on every run and engine (sample stability
    * under reruns + joinability of samples across tables sharing the key).
    * Per-stratum fractions (e.g. language re-balancing for a training mix);
    * strata absent from the map keep `default`, so an empty map samples
    * every row at `default`. */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
      fractions: Map[String, Double], default: Double = 0.0,
      seed: String = "sample"): DataFrame = {
    val threshold = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(hexThreshold(default))) {
        case (acc, (stratum, f)) =>
          when(col(stratumCol) === lit(stratum), lit(hexThreshold(f)))
            .otherwise(acc)
      }
    df.filter(uniformHex(seed, col(keyCol)) < threshold)
  }

  /** Deterministic global shuffle: a reproducible training order via
    * ORDER BY md5(seed|key) — same permutation on every run/engine; change
    * `seed` per epoch for a fresh order. */
  def deterministicShuffle(df: DataFrame, keyCol: String,
      seed: String = "epoch0"): DataFrame =
    df.orderBy(uniformHex(seed, col(keyCol)).asc, col(keyCol).asc)

  /** Exactly-k-per-group deterministic sample: the k rows with the
    * smallest md5(seed|key) within each group (fraction-based sampling
    * can't promise a count; balanced eval sets need exactly k per
    * stratum). One shuffle on the group key; ties are impossible given
    * distinct keys, and the md5 tiebreak makes equal-hash collisions
    * deterministic anyway. */
  def samplePerGroup(df: DataFrame, keyCol: String, groupCol: String, k: Int,
      seed: String = "sample"): DataFrame = {
    require(k > 0, s"k=$k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(uniformHex(seed, col(keyCol)).asc, col(keyCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Training-mixture assembly: exactly `counts(stratum)` rows per stratum
    * (the smallest-md5 ones — deterministic), strata absent from the map
    * contribute nothing. The step that turns per-source corpora into a
    * target data mix (e.g. 60% web / 30% code / 10% books expressed as
    * absolute document counts). Under-filled strata return every row they
    * have — the caller decides whether to re-weight or accept the
    * shortfall. One shuffle on the stratum key, like [[samplePerGroup]].
    *
    * Scale contract: each stratum is ONE window unit (a per-stratum sort
    * task) and ranks are 64-bit (a running count, not int row_number —
    * no wrap past 2^31 rows). Exact counts inherently serialize per
    * stratum; when a single stratum outgrows one task, use the rate-based
    * [[stratifiedSample]] (map-only) or pre-shard the stratum and split
    * its count across shards. */
  def mixToCounts(df: DataFrame, keyCol: String, stratumCol: String,
      counts: Map[String, Long], seed: String = "mix"): DataFrame = {
    require(counts.values.forall(_ >= 0), s"negative count in $counts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(uniformHex(seed, col(keyCol)).asc, col(keyCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val kCol = counts.toSeq.sortBy(_._1).foldLeft(lit(0L): Column) {
      case (acc, (stratum, k)) =>
        when(col(stratumCol) === lit(stratum), lit(k)).otherwise(acc)
    }
    // running count over the total (hash, key) order = a long rank with
    // no ties — row_number semantics without its int32 ceiling
    df.withColumn("__rn", sum(lit(1L)).over(w))
      .filter(col("__rn") <= kCol)
      .drop("__rn")
  }

  /** Temperature-flattened mixture resampling (the multilingual
    * rebalancing of mT5/ROOTS-style corpora): stratum s is sampled at a
    * rate that redistributes a `budget` of rows proportionally to
    * n_s^tau — tau < 1 upweights small strata, tau = 1 keeps natural
    * proportions. Row selection is the same md5-threshold rule as
    * [[stratifiedSample]], so the sample is stable across runs,
    * engines and partitionings; rates > 1 saturate (a stratum cannot
    * yield more rows than it has).
    *
    * Determinism: per-stratum weights quantize to exact 2^20 fixed-point
    * longs, so the weight TOTAL is an order-free integer sum; the rate is
    * one IEEE division chain from exact integers; and the hex threshold
    * derives in-plan (floor(x+0.5), lowercase hex) — replayable in SQL
    * verbatim. tau = 0.5 uses sqrt (IEEE-exact); other tau use pow,
    * whose last-ulp behavior is libm-specific — fine in one engine,
    * but only the sqrt path is oracle-pinned.
    *
    * Scale shape: one count aggregation over the stratum key, a
    * broadcast of |strata| rates, then a MAP-ONLY filter. */
  def temperatureMix(df: DataFrame, keyCol: String, stratumCol: String,
      budget: Long, tau: Double = 0.5, seed: String = "tmix"): DataFrame = {
    require(budget >= 0 && tau > 0, s"budget=$budget tau=$tau")
    val nD = col("n").cast("double")
    val wExpr = floor(
      (if (tau == 0.5) sqrt(nD) else pow(nD, tau)) * lit(1048576.0))
      .cast("long")
    val weights = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n")).withColumn("w", wExpr)
    val total = weights.agg(sum(col("w")).as("__wtot"))
    // budget and w multiply as DOUBLES: the long product budget·w
    // overflows int64 for corpus-scale strata (n = 10^11 ⇒ w ≈ 3·10^11,
    // wraps past budget ≈ 3·10^7) — the double product is exact below
    // 2^53 and deterministically rounded beyond, on both engines
    val rate = lit(budget).cast("double") * col("w").cast("double") /
      col("__wtot") / nD
    val thr = when(rate >= 1.0, lit("g"))
      .otherwise(lower(lpad(hex(
        least(floor(rate * lit(4294967296.0) + lit(0.5)),
          lit(4294967295.0)).cast("long")), 8, "0")))
    val rates = weights.crossJoin(broadcast(total))
      .select(col(stratumCol), thr.as("__thr"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(uniformHex(seed, col(keyCol)) < col("__thr"))
      .drop("__thr")
  }

  /** Probability-proportional-to-size (Poisson/PPS) sampling: row i is
    * kept with rate `budget`·wᵢ/W (capped at 1), so the expected sample
    * size is ≤ `budget` and heavy rows (longer / higher-quality docs) are
    * favored proportionally to `weightCol` — the quality-weighted
    * subsample step of a curation pipeline, without the sequential pass a
    * weighted-reservoir would need.
    *
    * Determinism: W is an exact integer sum of the weight column; the
    * per-row rate is one IEEE double product/division chain from exact
    * integers (long·long products can overflow at corpus scale — the
    * double product is exact below 2^53 and deterministically rounded
    * beyond, on both engines); inclusion reuses the md5-hex threshold of
    * [[stratifiedSample]], derived in-plan per row.
    *
    * Scale shape: one SUM aggregation, a 1-row broadcast, then a MAP-ONLY
    * filter — no shuffle of the data itself. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      budget: Long, seed: String = "wpps"): DataFrame = {
    require(budget >= 0, s"budget=$budget")
    // INTEGER-weight contract (scale fractional scores to fixed point
    // first, as temperatureMix does): the long cast is applied to BOTH
    // the total and the per-row rate so a fractional weight column can't
    // make the two sides disagree about what a weight is
    val w = col(weightCol).cast("long")
    val total = df.agg(sum(w).as("__wtot"))
    val rate = lit(budget).cast("double") * w.cast("double") /
      col("__wtot").cast("double")
    val thr = when(rate >= 1.0, lit("g"))
      .otherwise(lower(lpad(hex(
        least(floor(rate * lit(4294967296.0) + lit(0.5)),
          lit(4294967295.0)).cast("long")), 8, "0")))
    df.crossJoin(broadcast(total))
      .filter(uniformHex(seed, col(keyCol)) < thr)
      .drop("__wtot")
  }

  /** Contiguous sequence packing (the concat-and-cut loader shape):
    * documents are concatenated in a deterministic md5-shuffled order
    * within `numShards` hash shards and cut at `seqLen`-unit boundaries;
    * each document is assigned the pack in which it STARTS (`pack_id`)
    * and its offset there (`pack_offset`). `lenCol` is whatever length
    * unit the loader packs by (tokens, chars, bytes).
    *
    * Doc-preserving first-fit bin packing is inherently sequential;
    * sharded concat-and-cut is the distributed contract production
    * loaders actually use — each shard's running sum is an independent
    * window, so the job parallelizes across shards (size numShards to
    * cluster cores; one shard's data, not the corpus, is the window
    * unit) and the result is bit-deterministic under any partitioning.
    * Output: keyCol, shard, pack_id, pack_offset. */
  def packSequences(df: DataFrame, keyCol: String, lenCol: String,
      seqLen: Int, numShards: Int, seed: String = "pack"): DataFrame = {
    require(seqLen > 0 && numShards > 0,
      s"packSequences: seqLen=$seqLen numShards=$numShards")
    val hex = md5(concat(lit(s"$seed|"), col(keyCol).cast("string")))
    // first md5 byte → shard, next 8 hex chars → order within shard:
    // the same engine-portable digest arithmetic as uniformHex
    val hashed = df.select(col(keyCol), col(lenCol),
      conv(substring(hex, 1, 2), 16, 10).cast("int").mod(numShards).as("shard"),
      substring(hex, 3, 8).as("__ord"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("__ord").asc, col(keyCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    hashed
      .withColumn("__start", sum(col(lenCol)).over(w) - col(lenCol))
      .select(col(keyCol), col("shard"),
        expr(s"__start div $seqLen").as("pack_id"),
        pmod(col("__start"), lit(seqLen.toLong)).as("pack_offset"))
  }

  /** Deterministic train/val/test split: hash-range assignment per key
    * (e.g. 0.8/0.1/0.1). Map-only, stable under reruns, and consistent
    * across tables sharing the key — a document and its embeddings land
    * in the same split. Weights must sum to ~1; the last split absorbs
    * the rounding tail. */
  def assignSplit(df: DataFrame, keyCol: String,
      splits: Seq[(String, Double)], seed: String = "split",
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "assignSplit needs at least one split")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9, s"split weights sum to $total")
    // materialize the digest once; the when-chain then compares a plain
    // attribute instead of re-hashing per branch
    val hashed = df.withColumn("__h", uniformHex(seed, col(keyCol)))
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val assign = splits.init.zip(cum.init).reverse
      .foldLeft(lit(splits.last._1): Column) {
        case (acc, ((name, _), cumW)) =>
          when(col("__h") < lit(hexThreshold(cumW)), lit(name)).otherwise(acc)
      }
    hashed.withColumn(outCol, assign).drop("__h")
  }

  /** Deterministic k-fold assignment for cross-validation: fold i is the
    * hash-range slice [i/k, (i+1)/k) of the same md5-uniform key every
    * split uses — stable under reruns, consistent across tables sharing
    * the key, and map-only (a when-chain over one digest; no shuffle).
    * Output: df's columns + `fold` (int, 0-based). */
  def kfold(df: DataFrame, keyCol: String, k: Int,
      seed: String = "fold"): DataFrame = {
    require(k >= 2 && k <= 1000, s"kfold: k=$k")
    val even = (0 until k).map(i => i.toString -> (1.0 / k))
    assignSplit(df, keyCol, even, seed, outCol = "fold")
      .withColumn("fold", col("fold").cast("int"))
  }

  /** Balanced inverse-frequency class weights (the sklearn
    * `class_weight='balanced'` heuristic): w_c = n / (k·n_c), so every
    * class contributes equal total weight to a loss. NULL labels are
    * excluded (imputation owns them). One count aggregation; output is
    * class-cardinality-sized. Output: labelCol, n (count), weight
    * (8dp). */
  def classWeights(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.where(col(labelCol).isNotNull)
      .groupBy(col(labelCol)).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("__tot"),
      count(lit(1)).as("__k"))
    counts.crossJoin(broadcast(tot))
      .select(col(labelCol), col("n"),
        round(col("__tot").cast("double") /
          (col("__k").cast("double") * col("n").cast("double")), 8)
          .as("weight"))
  }

  /** Deterministic minority oversampling: every row of class c is
    * replicated ceil(max_class_n / n_c) times (integer ceil — exact in
    * any engine), so each class lands within one copy of the majority
    * count — the replication flavor of imbalance correction (the
    * weighting flavor is [[classWeights]]; SMOTE-style synthesis needs a
    * feature space and is out of scope). Shape: one count aggregation +
    * a broadcast factor map-back + a map-side explode — no shuffle of
    * the fact side; output size Σ n_c·f_c ≤ k·max_n is the caller's
    * documented budget. NULL-label rows are dropped (they belong to no
    * class). Output: df's columns + `copy` (0-based replica index). */
  def oversample(df: DataFrame, labelCol: String,
      copyCol: String = "copy"): DataFrame = {
    require(!df.columns.contains(copyCol),
      s"input already has a '$copyCol' column — pass a different copyCol")
    val counts = df.where(col(labelCol).isNotNull)
      .groupBy(col(labelCol)).agg(count(lit(1)).as("__n"))
    val mx = counts.agg(max(col("__n")).as("__mx"))
    // integer ceil-div on positive counts (Column `/` is double division)
    val factors = counts.crossJoin(broadcast(mx))
      .select(col(labelCol),
        expr("(__mx + __n - 1) div __n").as("__fac"))
    df.where(col(labelCol).isNotNull)
      .join(broadcast(factors), Seq(labelCol))
      .withColumn(copyCol,
        explode(sequence(lit(0L), col("__fac") - 1)))
      .drop("__fac")
  }

  /** Deterministic uniform negative sampling for contrastive / two-tower
    * training: for every distinct positive (user, item) pair, draw `k`
    * md5-uniform candidate items from the item CATALOG, then anti-join
    * away any candidate the user actually interacted with (the standard
    * accept–reject trade: a user keeps ≤ k·|positives| negatives, with
    * collisions dropped rather than redrawn — redraw loops are not
    * expressible as one deterministic pass and the loss is ~|user
    * positives|/|catalog| per draw).
    *
    * The draw maps `md5(seed|user|item|i) mod N` through a DENSE RANK
    * over the catalog ids, so any id space (gapped, non-zero-based)
    * samples uniformly — the ivfCells lowest-id lesson. The rank window
    * is catalog-domain-sized (a dimension, like indexEncode's); the
    * catalog count rides a 1-row broadcast. Everything else is map-side
    * arithmetic + two equi-joins (rank attach, positive anti-join) — no
    * shuffle of the positives beyond their own key.
    *
    * Output: userCol, itemCol (the positive), draw (0-based), negCol
    * (the sampled negative item) — one row per SURVIVING draw. */
  def negativeSample(positives: DataFrame, userCol: String, itemCol: String,
      catalog: DataFrame, catItemCol: String, k: Int,
      seed: String = "neg", negCol: String = "neg_item"): DataFrame = {
    require(k >= 1 && k <= 1000, s"negativeSample: k=$k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("__item").asc)
    val ranked = catalog.select(col(catItemCol).as("__item")).distinct()
      .withColumn("__rk", (row_number().over(w) - 1).cast("long"))
    val cnt = ranked.agg(count(lit(1)).as("__N"))
    val pos = positives.select(col(userCol), col(itemCol)).distinct()
    val draws = pos
      .crossJoin(broadcast(cnt))
      .select(col(userCol), col(itemCol), col("__N"),
        explode(sequence(lit(0), lit(k - 1))).as("draw"))
      .withColumn("__hx", md5(concat(lit(s"$seed|"),
        col(userCol).cast("string"), lit("|"),
        col(itemCol).cast("string"), lit("|"),
        col("draw").cast("string"))))
      .withColumn("__rk",
        pmod(conv(substring(col("__hx"), 1, 8), 16, 10).cast("long"),
          col("__N")))
    draws
      .join(broadcast(ranked), Seq("__rk"))
      .select(col(userCol), col(itemCol), col("draw").cast("long"),
        col("__item").as(negCol))
      .join(pos.select(col(userCol), col(itemCol).as(negCol)),
        Seq(userCol, negCol), "left_anti")
      // the USING-style anti-join moves its keys first — restore the
      // documented (user, item, draw, neg) order
      .select(col(userCol), col(itemCol), col("draw"), col(negCol))
  }
}
