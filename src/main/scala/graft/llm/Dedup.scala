package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale design:
  *  - exact dedup is a hash-groupBy on md5(text) — one narrow shuffle of
  *    (16-byte key, id), never the documents themselves;
  *  - all-pairs Jaccard is quadratic and exists as the small-scale oracle /
  *    verification path; the 100 TB path is MinHash-LSH: candidates come
  *    from equi-joins on (band, band_key) — a standard shuffle join on a
  *    short key — and only candidates pay the exact-Jaccard verification;
  *  - MinHash permutations use lexicographic MIN over 16-hex-char halves
  *    of `md5(seed|shingle)` (two independent 64-bit permutations per md5
  *    evaluation): a valid random permutation min, associative (map-side
  *    combinable), and reproducible in any engine with md5 + substr — no
  *    engine-specific hash seeds in the contract;
  *  - SimHash is a single-pass native expression (see [[SimHash64Expr]]).
  */
object Dedup {

  /** Exact-duplicate groups: one row per distinct text.
    * Output: text_md5, keeper_id (min id), n_copies. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** n-gram shingles from an ALREADY-MATERIALIZED token array column.
    * The token expression must be a bound column, not an inline
    * `tokens(text)` tree: higher-order functions evaluate their argument
    * subtree per lambda element (no common-subexpression elimination in
    * the interpreted HOF path), so inlining the tokenizer re-splits the
    * document once per shingle — a ~100x blowup measured at sf0.1. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - n + 1),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array())

  /** Word n-gram shingles of a text column (empty array when too short).
    * Convenience form for single-expression use; pipelines should project
    * tokens first (see [[shingleSets]]). */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(TextAnalysis.tokens(text), n)

  /** Distinct (id, shingle) pairs — the set representation used by both
    * exact Jaccard and MinHash. Runs the native [[WordShinglesExpr]]
    * kernel (one byte-scan per document; same contract as the declarative
    * [[wordShingles]] spec). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    docs.select(col(idCol),
        explode(Shingles.wordShingles(col(textCol), n)).as("shingle"))
      .distinct()
  }

  /** All-pairs n-gram Jaccard ≥ threshold (quadratic — verification/oracle
    * path; use [[minhashNearDups]] at scale).
    * Output: id1, id2, jaccard. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    // materialize the shingle set once (it feeds sizes + both
    // intersection sides — 3 evaluations otherwise). localCheckpoint, NOT
    // persist: checkpoint blocks free when the RDD is GC'd after the plan
    // becomes unreachable, while Dataset caches are pinned by the session
    // CacheManager until explicitly unpersisted — a leak for callers that
    // never get a handle to unpersist (e.g. per-batch use).
    val sh = shingleSets(docs, idCol, textCol, n).localCheckpoint()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.toDF("id1", "shingle")
    val b = sh.toDF("id2", "shingle")
    val inter = a.join(b, Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("i"))
    val j = col("i").cast("double") /
      (col("sz1") + col("sz2") - col("i")).cast("double")
    inter
      .join(sizes.toDF("id1", "sz1"), Seq("id1"))
      .join(sizes.toDF("id2", "sz2"), Seq("id2"))
      .select(col("id1"), col("id2"), round(j, 8).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signatures: numPerms independent permutation-mins per doc.
    * Output: idCol, sig_0 … sig_{numPerms-1} (16-hex md5-half strings).
    * Computed by the native map-side kernel (`llm.MinHashSigsExpr` — one
    * pass per document, no explode/aggregation); the declarative
    * [[minhashSignaturesFromShingles]] remains as the readable spec it is
    * equivalence-tested against. Docs with no shingles emit no row (same
    * as the aggregation formulation).
    *
    * PRECONDITION: `idCol` must uniquely identify rows (a document table).
    * The old aggregation formulation silently merged duplicate ids'
    * shingle sets; with the per-row kernel, duplicate ids produce one
    * signature row each. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numPerms: Int): DataFrame =
    minhashSignaturesWithSize(docs, idCol, textCol, n, numPerms).drop("sz")

  /** Signatures + distinct-shingle size in one map-only kernel pass (the
    * fused signature/size scan of [[minhashNearDups]]). The null filter
    * rides ABOVE an `explode(array(kernel))` generate: a plain
    * `.where(isNotNull(alias))` would be pushed below the projection and
    * re-evaluate the whole kernel per row in the Filter — the Generate is
    * the optimizer barrier that keeps it at exactly one evaluation. */
  private def minhashSignaturesWithSize(docs: DataFrame, idCol: String,
      textCol: String, n: Int, numPerms: Int): DataFrame = {
    docs.select(col(idCol),
        explode(array(
          graft.GraftFunctions.column("minhash_sigs", col(textCol), lit(n),
            lit(numPerms))))
          .as("__m"))
      .where(col("__m").isNotNull)
      .select(col(idCol) +:
        (0 until numPerms).map(p => col("__m.sigs")(p).as(s"sig_$p")) :+
        col("__m.sz").as("sz"): _*)
  }

  /** Permutation key p: half (p%2) of the md5 hex of seed ⌊p/2⌋ — one
    * md5 evaluation feeds TWO independent 64-bit permutations (the halves
    * of a cryptographic digest are independently uniform), halving the
    * md5 work of the signature scan. Still engine-portable:
    * `SUBSTR(md5(seed || '|' || shingle), 1|17, 16)` in any SQL. */
  private[llm] def permKey(p: Int, shingle: Column): Column =
    substring(md5(concat(lit(s"${p / 2}|"), shingle)), (p % 2) * 16 + 1, 16)

  def minhashSignaturesFromShingles(sh: DataFrame, idCol: String,
      numPerms: Int): DataFrame = {
    val sigs = (0 until numPerms).map(p =>
      min(permKey(p, col("shingle"))).as(s"sig_$p"))
    sh.groupBy(col(idCol)).agg(sigs.head, sigs.tail: _*)
  }

  /** LSH banding: (id, band, band_key) — docs agreeing on all rows of any
    * band land in the same bucket. */
  def lshBands(signatures: DataFrame, idCol: String, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      val sigCols = (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}"))
      md5(concat(sigCols: _*))
    }
    signatures.select(col(idCol), posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
  }

  /** Candidate pairs sharing any LSH bucket (distinct, id1 < id2). */
  def candidatePairsFromBands(bd: DataFrame): DataFrame = {
    val a = bd.toDF("id1", "band", "band_key")
    val b = bd.toDF("id2", "band", "band_key")
    a.join(b, Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Candidate pairs from LSH buckets (distinct, id1 < id2). */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, n, bands * rowsPerBand)
    candidatePairsFromBands(lshBands(sig, idCol, bands, rowsPerBand))
  }

  /** Raw (id, shingle) rows WITHOUT set-dedup — one narrow projection +
    * explode, no shuffle. MIN-based signatures and countDistinct sizes are
    * insensitive to duplicate shingles, so the expensive full-data
    * `distinct` of [[shingleSets]] is unnecessary on the scale path. */
  def rawShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    docs.select(col(idCol),
      explode(Shingles.wordShingles(col(textCol), n)).as("shingle"))
  }

  /** MinHash-LSH near-dups: candidates verified with exact Jaccard —
    * the full scale path. Shuffle budget: ONE kernel pass for signatures
    * + set sizes (map-only, no pre-distinct), one banded equi-join on
    * short keys for candidates, the SOUND [[sizePrefilter]] (two narrow
    * joins — kills banding false positives whose Jaccard upper bound
    * cannot reach the threshold before any set payload exists), and a
    * verification join that first prunes the shingle stream to candidate
    * docs with a broadcast semi join — set-dedup happens only on that
    * pruned sliver, so nothing quadratic or full-data-wide ever
    * shuffles, and the one pairs×set-bytes exchange (the measured
    * sf100-spread disk frontier) pays only for pairs that can still
    * pass. Output: id1, id2, jaccard ≥ threshold. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val shRaw = rawShingles(docs, idCol, textCol, n)
    // signatures come from the native per-document kernel — a map-only
    // projection over the scan; the old explode → groupBy(min…,
    // countDistinct) formulation shuffled every shingle occurrence and
    // paid an Expand for the distinct count. The kernel output now has
    // TWO consumers (the band join and the size prefilter below, added
    // with the prefilter) whose exchanges differ (band/band_key vs id) —
    // no ReusedExchange applies, so WITHOUT a barrier the md5-heavy
    // kernel ran over the whole corpus twice. Materialized once: the
    // signature rows are (id, perms longs, sz), a sliver of the corpus.
    val sigSz = graft.engine.Checkpoints.iterationBarrier(
      minhashSignaturesWithSize(docs, idCol, textCol, n,
        bands * rowsPerBand))
    val cand = candidatePairsFromBands(
      lshBands(sigSz, idCol, bands, rowsPerBand))
    // verification (candidate-id pruning + exact Jaccard) lives in
    // verifiedJaccard, which semi-joins the raw shingle stream down to
    // candidate docs before any set-dedup; the SOUND size prefilter
    // drops banding false positives whose Jaccard upper bound cannot
    // reach the threshold BEFORE any shingle-set payload exists.
    val sizes = sigSz.select(col(idCol), col("sz"))
    verifiedJaccard(sizePrefilter(cand, sizes, threshold), shRaw,
      idCol, threshold)
  }

  /** SOUND verify-stage prefilter: with i = |A∩B| ≤ min(sz1, sz2),
    *   J = i/(sz1+sz2−i) ≤ min/(sz1+sz2−min),
    * so a candidate pair whose size-only UPPER BOUND sits below the
    * threshold can never pass exact verification — it is dropped here,
    * BEFORE the verification join attaches the two ~KB shingle-hash
    * arrays per pair (the measured sf100-spread disk frontier: the
    * pair⋈sets exchange was the one shuffle whose volume is
    * pairs × set-bytes, and banding false positives between
    * different-length documents pay it for nothing). The sizes input is
    * the kernel's exact distinct-shingle count, costing two narrow
    * equi-joins on the candidate list. The 1e-8 slack absorbs the
    * division ulp plus the verifier's 8dp output rounding, so the filter
    * is conservative by construction: results are bit-identical to the
    * unfiltered plan (the oracle needs no counterpart — it verifies every
    * candidate and filters on the same rounded threshold). */
  private[graft] def sizePrefilter(cand: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val mn = least(col("sz1"), col("sz2")).cast("double")
    val bound = mn /
      (col("sz1") + col("sz2") - least(col("sz1"), col("sz2"))).cast("double")
    cand
      .join(sizes.toDF("id1", "sz1"), "id1")
      .join(sizes.toDF("id2", "sz2"), "id2")
      .filter(bound >= threshold - 1e-8)
      .select("id1", "id2")
  }

  /** Shared verification tail: exact Jaccard over candidate pairs, with
    * the shingle stream pruned to candidate docs by a broadcast semi-join
    * BEFORE the set-dedup, and sizes counted on that same pruned sliver
    * (never a second full-corpus pass). */
  private def verifiedJaccard(cand: DataFrame, shRaw: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    // a positive threshold is part of the contract: verifiedOverlap emits
    // empty-intersection pairs with i = 0 (see its scaladoc), which this
    // filter must exclude
    require(threshold > 0, s"threshold must be positive, got $threshold")
    val j = col("i").cast("double") /
      (col("sz1") + col("sz2") - col("i")).cast("double")
    verifiedOverlap(cand, shRaw, idCol, jaccardBound = Some(threshold))
      .select(col("id1"), col("id2"), round(j, 8).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact overlap statistics per candidate pair: (id1, id2, i, sz1, sz2)
    * with i = |A∩B| as a MAP-SIDE array intersection. The corpus shingle
    * scan is id-pruned to candidate docs, collapsed to one set-array per
    * doc, and joined to the pair list by id — the per-pair intersection
    * then runs inside the projection (hash-set `array_intersect`, O(|A|+|B|)),
    * so the heavy exchange of the old formulation (pairs × exploded
    * shingles, then a (id2, shingle) hash join over the blow-up) is gone.
    * Pairs with an EMPTY intersection emit i = 0 (the exploded
    * formulation dropped them pre-threshold; callers filter on a positive
    * score, so results are identical).
    *
    * localCheckpoint, not persist — blocks free on RDD GC once the
    * returned plan is unreachable; Dataset caches would pin in the session
    * CacheManager forever (a per-batch leak for repeated incremental
    * dedup). The set-array side is deliberately NOT broadcast-hinted:
    * it is bounded by the candidate doc count, which AQE can still
    * broadcast when small but must stay a shuffle join at corpus scale. */
  private def verifiedOverlap(cand: DataFrame, shRaw: DataFrame,
      idCol: String, jaccardBound: Option[Double] = None): DataFrame = {
    val candCached = cand.localCheckpoint()
    val candIds = candCached
      .select(explode(array(col("id1"), col("id2"))).as(idCol))
      .distinct()
    // shingles intersect as 64-bit hashes, not strings: long-array
    // array_intersect skips per-element UTF8 hashing/equality (measured
    // ~4x on the pair verification). Set sizes and intersection counts
    // are unchanged absent an xxhash64 collision inside a candidate
    // pair's sets (~2^-65 per pair — the same collision-freeness the md5
    // signature contract already assumes).
    // NO broadcast hint on candIds: the candidate-id set is unbounded
    // (boilerplate-heavy corpora band into billions of pairs → the
    // distinct id side can reach tens of GB), and a forced broadcast
    // bypasses AQE's size check — the 8 GB hard error / driver OOM land
    // exactly in the at-scale regime this path serves. AQE still picks
    // broadcast on its own whenever the set is actually small.
    val sets = shRaw.join(candIds, Seq(idCol), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_set(xxhash64(col("shingle"))).as("shs"))
      .localCheckpoint()
    // Jaccard callers get the SOUND size-bound pre-drop HERE, from the
    // set sizes themselves, BEFORE the joins that attach the two ~KB
    // hash arrays per pair (that exchange was the measured sf100-spread
    // disk frontier). The batch path also prefilters earlier from its
    // signature-stage sizes; this covers the paths with no signature
    // stage — notably the INCREMENTAL batch-vs-corpus join, whose
    // banding false positives otherwise carried full arrays. Containment
    // callers pass None: a small set fully inside a large one reaches
    // containment 1.0 at ANY size ratio, so no sound size bound exists.
    val pruned = jaccardBound match {
      case Some(t) => sizePrefilter(candCached,
        sets.select(col(idCol), size(col("shs")).cast("long").as("sz")), t)
      case None => candCached
    }
    pruned
      .join(sets.select(col(idCol).as("id1"), col("shs").as("shs1")), Seq("id1"))
      .join(sets.select(col(idCol).as("id2"), col("shs").as("shs2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("shs1"), col("shs2"))).cast("long").as("i"),
        size(col("shs1")).cast("long").as("sz1"),
        size(col("shs2")).cast("long").as("sz2"))
  }

  /** Containment scoring over LSH candidates: c1 = |A∩B|/|A| and
    * c2 = |A∩B|/|B| per candidate pair, kept when either reaches
    * `minContainment` — the asymmetric relation symmetric Jaccard
    * underweights (a short document fully quoted inside a long one has
    * containment 1 but low Jaccard). Shares the banded candidate
    * generation and the exact-overlap verification with
    * [[minhashNearDups]].
    *
    * CAVEAT (documented recall bound): MinHash collision probability
    * tracks JACCARD, so extreme-asymmetry pairs (tiny ∩ huge) may miss
    * candidacy — for exhaustive containment at scale, feed candidates
    * from winnowing fingerprints ([[TextAnalysis.winnow]]; shared local
    * substrings guarantee shared fingerprints) into the same verifier.
    * Output: id1, id2, containment_1, containment_2, jaccard. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int,
      minContainment: Double): DataFrame = {
    containmentFromCandidates(
      minhashCandidates(docs, idCol, textCol, n, bands, rowsPerBand),
      rawShingles(docs, idCol, textCol, n), idCol, minContainment)
  }

  /** Candidate pairs from shared winnowing fingerprints: ANY pair sharing
    * a substring of length ≥ k+w−1 whose fingerprint lands in ≤ maxDf
    * documents is guaranteed a candidate, INDEPENDENT of Jaccard — the
    * candidate source that closes [[containmentPairs]]' banding recall
    * bound for low-Jaccard subset/quotation pairs. A standard short-key
    * equi-join on the fingerprint (same shuffle shape as the LSH band
    * join).
    *
    * maxDf is the scale contract, not an optimization: a fingerprint in f
    * documents emits f² join rows, so corpus-boilerplate substrings
    * (template headers, frequent phrases — document frequency in the
    * thousands) turn the candidate join quadratic while carrying no
    * discriminative signal. Dropping them is standard winnowing practice
    * (MOSS ignores too-common fingerprints for exactly this reason);
    * recall stays complete for every pair sharing a RARE (df ≤ maxDf)
    * substring, and Σf² is bounded by maxDf·Σf — linear in the
    * fingerprint volume. */
  def winnowCandidates(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxDf: Int = Int.MaxValue): DataFrame = {
    val fp = TextAnalysis.winnow(docs, idCol, textCol, k, w)
    if (maxDf == Int.MaxValue) {
      // unbounded buckets: the equi-join formulation (a collect_list
      // bucket could not hold a corpus-frequency fingerprint's id list)
      val a = fp.toDF("id1", "fingerprint")
      val b = fp.toDF("id2", "fingerprint")
      a.join(b, Seq("fingerprint"))
        .filter(col("id1") < col("id2"))
        .select("id1", "id2").distinct()
    } else {
      // df-capped path: a COUNT aggregation (map-side combinable — safe
      // for any bucket size) finds the rare fingerprints first, a
      // semi-join drops hot ones BEFORE any id list exists, and only the
      // surviving ≤ maxDf-row buckets collect into a row, where pairs
      // explode bucket-locally (≤ maxDf²/2 each) — no self-join, no
      // window sort, and a boilerplate fingerprint never materializes
      // its id list (collect_list first would buffer the full hot-bucket
      // array — the exact failure the unbounded branch avoids).
      val rare = fp.groupBy("fingerprint")
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df").between(2, maxDf))
        .select("fingerprint")
      val sorted = array_sort(col("ids"))
      val pairs = flatten(transform(sorted, (x, i) =>
        transform(slice(sorted, i + 2, size(col("ids")) - i - 1),
          y => struct(x.as("id1"), y.as("id2")))))
      fp.join(rare, Seq("fingerprint"), "left_semi")
        .groupBy("fingerprint")
        .agg(collect_list(col(idCol)).as("ids"))
        .select(explode(pairs).as("p"))
        .select(col("p.id1"), col("p.id2"))
        .distinct()
    }
  }

  /** Containment over winnowing candidates ([[winnowCandidates]]) — full
    * recall for quotation pairs whose shared substrings reach k+w−1
    * characters AND are rarer than maxDf documents, whatever their
    * Jaccard (see [[winnowCandidates]] for why the df cap is part of the
    * contract). Scoring (word n-gram overlap ratios) is identical to
    * [[containmentPairs]]. */
  def containmentPairsWinnow(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, w: Int, minContainment: Double,
      maxDf: Int = Int.MaxValue): DataFrame =
    containmentFromCandidates(
      winnowCandidates(docs, idCol, textCol, k, w, maxDf),
      rawShingles(docs, idCol, textCol, n), idCol, minContainment)

  /** Shared containment projection over any candidate source. */
  private def containmentFromCandidates(cand: DataFrame, shRaw: DataFrame,
      idCol: String, minContainment: Double): DataFrame = {
    require(minContainment > 0,
      s"minContainment must be positive, got $minContainment")
    val c1 = col("i").cast("double") / col("sz1").cast("double")
    val c2 = col("i").cast("double") / col("sz2").cast("double")
    val j = col("i").cast("double") /
      (col("sz1") + col("sz2") - col("i")).cast("double")
    verifiedOverlap(cand, shRaw, idCol)
      .select(col("id1"), col("id2"),
        round(c1, 8).as("containment_1"), round(c2, 8).as("containment_2"),
        round(j, 8).as("jaccard"))
      .filter(greatest(col("containment_1"), col("containment_2"))
        >= minContainment)
  }

  /** The persistable LSH state of a corpus: its (id, band, band_key)
    * table. Written once (e.g. bucketed by band_key), it lets every future
    * batch dedup against the corpus WITHOUT re-shingling or re-hashing
    * it — the incremental-ingest shape of a production dedup pipeline. */
  def bandTable(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int): DataFrame =
    lshBands(minhashSignatures(docs, idCol, textCol, n, bands * rowsPerBand),
      idCol, bands, rowsPerBand)

  /** Incremental near-dups: match a NEW batch against an EXISTING corpus.
    * Only the new batch is shingled/hashed; the corpus contributes its
    * persisted [[bandTable]] (candidate generation) and its raw text ONLY
    * for docs that land in a candidate pair (the verification scan is
    * pruned by a broadcast semi-join, so at 100 TB the corpus read is
    * id-pruned, not a full pass). Pairs among corpus docs are NOT
    * re-examined (the corpus is assumed already deduped) — output is
    * exactly the all-docs result restricted to pairs touching the batch.
    * Output: id1, id2, jaccard ≥ threshold (id1 < id2). */
  def minhashNearDupsIncremental(newDocs: DataFrame, corpus: DataFrame,
      corpusBands: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val bNew = bandTable(newDocs, idCol, textCol, n, bands, rowsPerBand)
    val cand = incrementalCandidates(bNew, corpusBands)
    val shRaw = rawShingles(newDocs.unionByName(corpus), idCol, textCol, n)
    verifiedJaccard(cand, shRaw, idCol, threshold)
  }

  /** Candidate pairs of an incremental batch against a persisted corpus
    * band table: batch-internal bucket pairs plus batch × corpus bucket
    * collisions. The corpus side is consumed AS STORED — persist it
    * bucketed by (band, band_key) and this join never reshuffles it
    * (asserted in BucketingSpec); only the small batch side pays a band
    * exchange. */
  def incrementalCandidates(bNew: DataFrame, corpusBands: DataFrame): DataFrame = {
    val candNew = candidatePairsFromBands(bNew)
    val a = bNew.toDF("ida", "band", "band_key")
    val b = corpusBands.toDF("idb", "band", "band_key")
    val candCross = a.join(b, Seq("band", "band_key"))
      .filter(col("ida") =!= col("idb"))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
      .distinct()
    candNew.unionByName(candCross).distinct()
  }

  /** SimHash near-dup pipeline: band blocking + exact Hamming verify.
    * The 64-bit fingerprint is split into `maxHamming + 1` contiguous
    * bit-ranges: two fingerprints within Hamming distance ≤ maxHamming
    * must agree on at least one range (pigeonhole — at most maxHamming
    * ranges can contain a differing bit), so candidate generation is
    * ALWAYS complete for the requested distance, whatever its value.
    * Candidates come from an equi-join on (band, word) — O(n) candidate
    * generation, the same blocking trick as MinHash-LSH but over a 1-word
    * signature; with the default maxHamming = 3 this is the classic
    * 4 × 16-bit blocking. Verification is `bit_count(xor)` per word,
    * summed — codegen'd built-ins, no UDF.
    *
    * Scale: the fingerprint scan is map-only; the band join shuffles
    * (band, word, id) triples only (20 bytes/row), never documents; at
    * 100 TB materialize `fp` once (write/checkpoint) instead of letting
    * the three references below recompute the scan. Note the selectivity
    * trade-off: larger maxHamming ⇒ more, narrower bands ⇒ bigger
    * candidate buckets (an 8-bit band has only 256 distinct values) —
    * past maxHamming ≈ 7 consider multi-probe over wider bands instead. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    wordBandNearDups(simhashFingerprints(docs, idCol, textCol), idCol, maxHamming)

  /** Banded Hamming near-dup over ANY 64-bit fingerprint presented as
    * 4×16-bit words (`w0..w3`) — the blocking/verification engine behind
    * [[simhashNearDups]], shared by image perceptual hashes
    * ([[Multimodal.imagePhash]]) and any other 64-bit sketch. Same
    * completeness contract: `maxHamming + 1` contiguous bit-ranges,
    * pigeonhole guarantees every qualifying pair shares a band word. */
  def wordBandNearDups(fpIn: DataFrame, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val numBands = maxHamming + 1
    // The fingerprint frame feeds FOUR plan references (band self-join ×2,
    // verification ×2) — materialize it once (it is 5 longs/row; the
    // upstream can be an expensive scan: text kernel or image decode)
    // instead of re-deriving it per reference. Same barrier contract as
    // the iterative CC rounds (local default, reliable under conf).
    val fp = graft.engine.Checkpoints.iterationBarrier(fpIn)
    // rebuild the 64-bit fingerprint from its 16-bit words, then slice it
    // into numBands contiguous ranges (widths differ by at most one bit)
    // cast to long BEFORE shifting: shiftleft on an IntegerType column
    // is a Java int shift (amount mod 32), so int-typed w2/w3 from an
    // external caller would shift by 0/16 and scramble the band keys —
    // a SILENT recall loss (verification still runs, over wrong
    // candidates). Internal producers emit Long; the cast is a no-op
    // there and the public any-4×16-bit-words contract holds otherwise.
    val h64 = (0 until 4).map(k => shiftleft(col(s"w$k").cast("long"),
        k * 16))
      .reduce(_ bitwiseOR _)
    val widths = Array.tabulate(numBands)(k =>
      64 / numBands + (if (k < 64 % numBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def mask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1
    val words = (0 until numBands).map(k =>
      struct(lit(k).as("band"),
        shiftrightunsigned(col("__h"), offsets(k))
          .bitwiseAND(lit(mask(widths(k)))).as("word")))
    val bands = fp.withColumn("__h", h64)
      .select(col(idCol), explode(array(words: _*)).as("bw"))
      .select(col(idCol), col("bw.band").as("band"), col("bw.word").as("word"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.word") === col("b.word") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()
    val f1 = fp.toDF(fp.columns.map(c => if (c == idCol) "id1" else s"${c}_1"): _*)
    val f2 = fp.toDF(fp.columns.map(c => if (c == idCol) "id2" else s"${c}_2"): _*)
    val ham = (0 until 4).map(k =>
        bit_count(col(s"w${k}_1").bitwiseXOR(col(s"w${k}_2"))))
      .reduce(_ + _).cast("long")
    cand.join(f1, "id1").join(f2, "id2")
      .select(col("id1"), col("id2"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Benchmark decontamination (training-data hygiene): training documents
    * sharing at least one word n-gram with an EVALUATION corpus — the
    * GPT-3-style n-gram-overlap contamination check that keeps test sets
    * out of pretraining data.
    *
    * Scale shape: eval corpora are benchmark-sized (thousands of docs), so
    * their distinct shingle set BROADCASTS; the training side is a
    * map-only shingle scan joined map-side against that broadcast — only
    * MATCHED (id, shingle) occurrences enter the one aggregation shuffle,
    * and contamination is rare, so that shuffle is tiny regardless of
    * corpus size. Never a full-corpus distinct.
    * Output: idCol, n_shared (distinct shared n-grams per flagged doc). */
  def contaminatedDocs(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // rawShingles, not shingleSets: the per-(id, shingle) distinct would
    // shuffle once just to be re-distincted down to shingles — one
    // corpus-keyed exchange for nothing
    val evalSh = rawShingles(eval, idCol, textCol, n)
      .select("shingle").distinct()
    rawShingles(train, idCol, textCol, n)
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("n_shared"))
  }

  /** [[contaminatedDocs]] for eval corpora TOO LARGE to broadcast as a
    * shingle SET: a Bloom filter over the eval shingles (a few MiB of bits
    * for hundreds of millions of n-grams at 3% fpp) broadcasts instead,
    * prefiltering the training shingle scan MAP-SIDE; only probable hits
    * (true matches + fpp false positives) enter the exact verification
    * join — a SHUFFLE join on the shingle key, not a broadcast, so neither
    * side's size is ever a driver/executor-memory constraint.
    *
    * Correctness never depends on the filter: Bloom filters have no false
    * negatives, so the output is IDENTICAL to [[contaminatedDocs]] — false
    * positives are discarded by the exact join. The probe is the native
    * [[graft.engine.BloomMightContain]] expression (codegen'd — the probe
    * runs inside the whole-stage loop over the exploded shingle stream,
    * the hottest row rate in the engine); the filter build is EAGER (one
    * job over eval shingles, mirroring the eager filter build of
    * `LoadDedup.antiJoinBloomPruned`).
    * Output: idCol, n_shared — bit-identical to [[contaminatedDocs]]. */
  def contaminatedDocsBloom(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int, expectedShingles: Long,
      fpp: Double = 0.03): DataFrame = {
    // built from rawShingles (one distinct, not shingleSets' two) and
    // materialized ONCE: evalSh feeds BOTH the eager bloom build and the
    // exact verification join, and this variant exists precisely for
    // eval corpora with hundreds of millions of n-grams — without the
    // barrier that whole scan + distinct ran twice
    val evalSh = graft.engine.Checkpoints.iterationBarrier(
      rawShingles(eval, idCol, textCol, n).select("shingle").distinct())
    val bloom = evalSh.stat.bloomFilter("shingle", expectedShingles, fpp)
    val bc = train.sparkSession.sparkContext.broadcast(bloom)
    // null-safe: <=> TRUE keeps the old udf's null→false routing
    rawShingles(train, idCol, textCol, n)
      .where(graft.engine.BloomProbe.mightContain(bc, col("shingle")) <=> lit(true))
      .join(evalSh, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("shingle")).as("n_shared"))
  }

  /** Near-dup clusters with EXACT-DUP PRE-COLLAPSE — the composition that
    * survives the adversarial hot-bucket case. A group of identical
    * documents shares every band key, so feeding them straight into LSH
    * creates one bucket whose candidate join is quadratic in the group
    * size (AQE skew-split balances the tasks, but the total work remains
    * |group|²). Collapsing exact groups FIRST (md5-groupBy, min-id
    * representative) means each distinct text enters the banded join
    * once: candidate work is quadratic only in bucket DIVERSITY, never in
    * duplication, and the member → representative expansion at the end is
    * a linear join.
    *
    * Labels are identical to running [[dupClusters]] over the full near-dup
    * pair set (each representative is its group's min id, so the cluster
    * minimum over representatives IS the cluster minimum over all
    * members) — with one deliberate improvement: shingle-less documents
    * (e.g. empty/whitespace texts) are invisible to MinHash and would all
    * label themselves, but identical ones are still exact duplicates and
    * cluster here through the md5 collapse.
    * Output: (id, canonical_id) for EVERY input document. */
  def nearDupClustersExactFirst(docs: DataFrame, idCol: String,
      textCol: String, n: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    // null text gets a sentinel key: md5(NULL) is NULL and the equi-join
    // below uses EqualTo semantics (NULL never equals NULL), so without
    // the coalesce every null-text document silently VANISHED from the
    // output — violating the every-input-document contract. Null texts
    // now form one exact-dup group (they are byte-identical "content")
    // whose rep carries no shingles and so never pairs in the LSH stage.
    val keyed = docs.select(col(idCol),
      coalesce(md5(col(textCol)), lit("__null_text__")).as("__k"))
    val groups = keyed.groupBy(col("__k")).agg(min(col(idCol)).as("rep"))
    // rep-id set is corpus-sized (one per distinct text) — a plain
    // shuffled semi-join; never broadcast it
    val reps = docs.join(groups.select(col("rep").as(idCol)),
      Seq(idCol), "left_semi")
    val pairs = minhashNearDups(reps, idCol, textCol, n, bands, rowsPerBand,
      threshold).select("id1", "id2")
    val repClusters = dupClusters(pairs).withColumnRenamed("id", "rep")
    keyed.join(groups, Seq("__k"))
      .join(repClusters, Seq("rep"), "left")
      .select(col(idCol).as("id"),
        coalesce(col("canonical_id"), col("rep")).as("canonical_id"))
  }

  /** Duplicate clusters from near-dup pairs: connected components, so
    * each document maps to a canonical id (the smallest id in its
    * component) — the "keep one per cluster" step of a dedup pipeline.
    *
    * Two tiers: edge sets that fit on the driver go through exact
    * union-find ([[localUnionFind]] — zero shuffles); larger graphs go
    * through [[dupClustersStar]]'s large/small-star contraction, which
    * converges in O(log n) rounds REGARDLESS of component diameter and
    * fails loud if the round budget is ever exceeded.
    *
    * History (the round-7 sf1 lesson): the distributed path used to be
    * min-label relax propagation capped at 20 rounds. Relax moves labels
    * ONE hop per round, so the supercritical sf1 grid-DBSCAN component
    * (150k nodes spanning the fixed geo box, ~200-hop diameter) exited
    * the cap UNCONVERGED and silently under-merged — the sweep caught
    * engine label 6 vs the true component min on 86k rows. Adding a
    * Shiloach–Vishkin pointer jump barely helped on that graph (measured
    * 59 rounds: spatially-local minima don't form long label chains for
    * the jump to contract), while star contraction converged it in 7.
    * One converged implementation + fail-loud replaced two capped loops.
    * Input: pairs (id1, id2). Output: (id, canonical_id). */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
      localEdgeThreshold: Long = 1000000L): DataFrame = {
    // materialize the pair set BEFORE mirroring it: the input is typically
    // an expensive similarity plan and both union branches reference it —
    // without this checkpoint the whole similarity computation runs twice
    // (and the propagation loop would recompute it every iteration).
    val p = graft.engine.Checkpoints.iterationBarrier(
      pairs.select(col("id1"), col("id2")))
    // Adaptive small-graph fast path (same reasoning as Spark's broadcast
    // threshold): the near-dup edge set after LSH banding is orders of
    // magnitude smaller than the corpus — when it fits comfortably on the
    // driver, exact union-find there replaces O(diameter) shuffle rounds
    // with zero. The count runs over the already-checkpointed pairs (one
    // cheap pass); ids must be integral for order parity with Spark's min.
    if (localEdgeThreshold > 0 && p.count() <= localEdgeThreshold) {
      localUnionFind(p) match {
        case Some(labels) => return labels
        case None => () // non-integral ids: fall through to the loop
      }
    }
    dupClustersStar(p, maxIter)
  }

  /** Driver-side exact union-find over a collected edge set (the
    * [[dupClusters]] small-graph fast path). Roots are component minima —
    * identical labels to the distributed propagation — via union-by-min
    * with path compression. Only integral id types (order parity with
    * Spark's `min` is then trivial); anything else returns None. */
  private def localUnionFind(p: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val dt = p.schema.fields(0).dataType
    val integral = dt == LongType || dt == IntegerType ||
      dt == ShortType || dt == ByteType
    if (!integral || p.schema.fields(1).dataType != dt) return None
    def toL(a: Any): Long = a match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
    }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nx = parent(c); parent(c) = r; c = nx
      }
      r
    }
    val rows = p.collect()
    // null ids: bail to the distributed loop (which tolerates them)
    // rather than crashing the fast path
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    rows.foreach { row =>
      val a = toL(row.get(0)); val b = toL(row.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val spark = p.sparkSession
    import spark.implicits._
    val labels = parent.keys.toSeq.sorted.map(id => (id, find(id)))
    Some(labels.toDF("id", "canonical_id")
      .select(col("id").cast(dt).as("id"),
        col("canonical_id").cast(dt).as("canonical_id")))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (the MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each round
    * rewires every node's strictly-larger neighbors (large-star), then its
    * smaller neighbors (small-star), to the neighborhood minimum. Rounds
    * needed are O(log n) REGARDLESS of component diameter — the scale
    * path when clusters can be long chains (e.g. transitive near-dup
    * chains at 100 TB), where [[dupClusters]]' min-label propagation
    * needs O(diameter) shuffles. Per round: two groupBy-min aggregations
    * + two joins on the (small) edge set.
    *
    * Same contract as [[dupClusters]]: input pairs (id1, id2), output
    * (id, canonical_id) with canonical_id = min id of the component.
    */
  def dupClustersStar(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val p = graft.engine.Checkpoints.iterationBarrier(
      pairs.select(col("id1"), col("id2")))
    val nodes = p.select(col("id1").as("id"))
      .unionByName(p.select(col("id2").as("id"))).distinct()

    // edges kept oriented (a, b) with a > b; both stars preserve this
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.filter(col("v") > col("u")).join(mins, "u")
        .select(col("v").as("a"), col("m").as("b")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("a").agg(min(col("b")).as("m"))
      val relinked = e.join(mins, "a")
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
      relinked.unionByName(mins.select(col("a"), col("m").as("b"))).distinct()
    }
    // order-insensitive edge-set signature: (count, sum of per-edge hashes).
    // Sum in decimal — ANSI mode throws on bigint overflow, and 2^33 edges
    // of ~2^63 hashes overflow a long.
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var edges = p
      .select(greatest(col("id1"), col("id2")).as("a"),
        least(col("id1"), col("id2")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    edges = graft.engine.Checkpoints.iterationBarrier(edges)
    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = graft.engine.Checkpoints.iterationBarrier(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      converged = nextSig == sig
      edges = next
      sig = nextSig
      iter += 1
    }
    // an unconverged exit would return an UNDER-MERGED clustering — the
    // silent-wrong-answer class the round-7 sf1 sweep caught on the
    // relax-propagation predecessor. Star contraction needs O(log n)
    // rounds (the 150k-node sf1 geo component converged in 7), so the
    // default budget has orders-of-magnitude headroom; if it's ever hit,
    // fail loud instead of shipping wrong labels.
    require(converged,
      s"dupClustersStar: edge set not at fixpoint after $maxIter " +
        "large/small-star rounds — raise maxIter (O(log n) expected)")
    // fixed point = disjoint stars rooted at each component's minimum:
    // every edge is (member, root); roots/isolated nodes label themselves
    nodes.join(edges.select(col("a").as("id"), col("b").as("root")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("root"), col("id")).as("canonical_id"))
  }

  /** Canonical-document retention: collapse each near-dup cluster to its
    * single best member (highest `scoreCol`, ties to the smallest id) —
    * the policy step that turns cluster labels into a deduplicated corpus.
    * Docs absent from `clusters` (the (id, canonical_id) output of
    * [[dupClusters]]/[[dupClustersStar]]) are singletons and keep
    * themselves. Best-per-cluster is a struct-min AGGREGATION, not a
    * row_number window: min(struct(−score, id)) picks the identical
    * (score desc NULLS LAST, id asc) winner but combines MAP-SIDE, so a
    * giant boilerplate cluster (millions of near-identical docs — the
    * common case this policy step exists for) collapses per mapper
    * instead of sorting in one unsplittable window partition (AQE
    * cannot split a window's hot key). The join ships (id, score) pairs
    * only, never documents.
    *
    * Score contract: `scoreCol` must be a finite numeric whose values
    * are exactly representable as doubles — the struct-min negates it
    * through a double cast, so DECIMAL/LONG magnitudes beyond 2^53 lose
    * the sub-ULP orderings an exact window sort would keep, and a NaN
    * score sorts GREATEST after negation (loser) where the old desc
    * window put NaN first (winner). Quality scores on the engine's 8dp
    * grid (every producer in this codebase) satisfy both. */
  def keepCanonical(docs: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    val assign = docs.select(col(idCol), col(scoreCol))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("canonical_id"), col(idCol)))
    assign
      .groupBy(col("cluster_id"))
      .agg(min(struct(
          // NULL score sorts FIRST under struct-min (null < non-null) —
          // map it to +inf so it stays the loser, matching the window
          // formulation's desc-NULLS-LAST
          coalesce((-col(scoreCol)).cast("double"),
            lit(Double.PositiveInfinity)).as("negs"),
          col(idCol).as("kid"))).as("__m"),
        count(lit(1)).as("n_docs"))
      .select(col("cluster_id"), col("__m.kid").as("kept_id"),
        col("n_docs"))
  }

  /** Segment-level exact dedup (the "line dedup" pass of RefinedWeb-style
    * corpora, with a deterministic fixed-width segmenter since the corpus
    * has no line structure): each document splits into consecutive k-token
    * segments; a segment survives only at its FIRST corpus occurrence
    * (ordered by doc id, then position), including repeats within one
    * document; documents are reassembled from their surviving segments.
    *
    * Scale shape — the shuffles never carry document text twice:
    *  1. keep-first runs over a SLIM frame (md5(segment), doc, seg_idx):
    *     the window shuffle moves 16-byte keys, not segments;
    *  2. winners (doc, seg_idx) join back to the segment table derived
    *     map-side from the same scan, keyed on (doc, seg_idx);
    *  3. reassembly groups by doc id.
    *
    * Output: idCol, clean_text ('' when fully deduplicated away),
    * n_segs, n_kept. */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"segmentDedup: k=$k")
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= lit(""))
    val base = docs.select(col(idCol), toks.as("__toks"))
      .withColumn("n_segs", ceil(size(col("__toks")) / lit(k.toDouble)).cast("long"))
    val segs = base
      // token-less docs (n_segs = 0) must emit NO segments: Spark's
      // sequence(start, stop) steps DOWNWARD when start > stop, so
      // sequence(0, -1) is [0, -1], not empty — filter first
      .filter(col("n_segs") > 0)
      .select(col(idCol), col("n_segs"),
        explode(sequence(lit(0L), col("n_segs") - 1)).as("seg_idx"),
        col("__toks"))
      .select(col(idCol), col("seg_idx"),
        array_join(slice(col("__toks"),
          (col("seg_idx") * k + 1).cast("int"), lit(k)), " ").as("seg_text"))
    // keep-first as a struct-min AGGREGATION, not a row_number window:
    // min(struct(id, seg_idx)) is field-lexicographic — the identical
    // (id asc, seg_idx asc) winner — but combines MAP-SIDE, so a
    // boilerplate segment repeated 10^9 times collapses per mapper
    // instead of sorting in one unsplittable window partition (AQE
    // cannot split a window's hot key; it was the straggler/OOM on the
    // exact workload segment dedup exists for)
    val kept = segs
      .select(col(idCol), col("seg_idx"), md5(col("seg_text")).as("__key"))
      .groupBy(col("__key"))
      .agg(min(struct(col(idCol), col("seg_idx"))).as("__m"))
      .select(col(s"__m.$idCol").as(idCol),
        col("__m.seg_idx").as("seg_idx"))
    val rebuilt = kept.join(segs, Seq(idCol, "seg_idx"))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg_text")))),
          s => s.getField("seg_text")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    base.select(col(idCol), col("n_segs"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        // null text: size(split(NULL)) is NULL under ANSI — coalesce to
        // 0 so null-text rows match the empty-string rows' (\'\', 0, 0)
        // shape instead of leaking a NULL n_segs into NOT NULL sinks
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** SimHash fingerprints via the native expression; emitted as 4×16-bit
    * words (w0..w3) so the value is oracle-comparable without unsigned
    * int64 headaches. */
  def simhashFingerprints(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val h = graft.GraftFunctions.column("simhash64", col(textCol))
    val words = (0 until 4).map(k =>
      shiftrightunsigned(col("h"), k * 16).bitwiseAND(lit(0xffffL)).as(s"w$k"))
    docs.select(col(idCol), h.as("h"))
      .select((col(idCol) +: words): _*)
  }
}
