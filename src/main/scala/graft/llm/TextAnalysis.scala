package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * Everything is built from codegen'd Catalyst expressions (split /
  * regexp_extract_all / higher-order functions) — no UDFs in the hot path,
  * so a 100 TB document scan stays inside whole-stage codegen. Language ID
  * is a broadcast join against a tiny stopword lexicon followed by a
  * per-document argmax window; at scale the lexicon side is constant-size
  * and the only shuffle is the per-document aggregation.
  */
object TextAnalysis {

  /** Word tokens: lowercase, split on non-alphanumeric runs, drop empties. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= lit(""))

  /** Hashing-trick featurization (Weinberger et al. 2009, "Feature
    * Hashing for Large Scale Multitask Learning"): each token maps to a
    * fixed bucket via its first md5 byte mod `dim`, yielding a sparse
    * per-document term-frequency vector of FIXED dimension with no
    * vocabulary table — the featurizer that feeds linear quality
    * classifiers over an unbounded corpus vocabulary.
    *
    * Scale shape: a map-only tokenize/hash scan followed by ONE
    * aggregation on (id, bucket) with map-side partial counts — output
    * cardinality is bounded by docs × dim regardless of vocabulary size,
    * and no driver-side dictionary ever exists. `dim` must divide 256 so
    * the byte → bucket map is exactly uniform (same contract as the
    * Count-Min cell derivation).
    * Output: idCol, bucket (0..dim-1), tf. */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim >= 1 && 256 % dim == 0,
      s"dim must divide 256 for an unbiased byte->bucket map, got $dim")
    val bucket = pmod(
      conv(substring(md5(concat(lit("fh|"), col("token"))), 1, 2), 16, 10)
        .cast("long"),
      lit(dim.toLong))
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .select(col(idCol), bucket.as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Per-document mean unigram log-probability under the corpus' own
    * unigram LM — the CCNet-style perplexity-proxy quality score (docs of
    * improbable tokens score low; higher = more "in-distribution").
    * Add-one smoothing over the corpus vocabulary keeps unseen-token
    * probability finite; the LM is the corpus itself, so this is the
    * self-scoring pass a quality-filter pipeline runs before thresholding.
    *
    * Scale shape: token counts are ONE vocabulary-bounded aggregation;
    * the per-doc score is a token→vocabulary equi-join (vocabulary side
    * pre-aggregated, broadcastable) followed by a doc-keyed aggregation.
    * Determinism: counts and totals are exact longs; each token's
    * log-prob rounds to 8dp BEFORE the per-doc mean (pinning the
    * cross-libm ln() ulp, same contract as the KS-test's exp). The mean
    * itself is computed ENTIRELY in integers: per-token log-probs scale
    * to exact 1e-8 units (decimal→long), and the divide-by-n rounds
    * half-away via (2a+n) div 2n — a float mean of 8dp values lands on
    * exact half-grid ties (sum/n has more decimals than the output),
    * where engines' double ROUND disagrees.
    *
    * Output: idCol, n_tokens, avg_logprob (8dp). */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = vocab.agg(sum(col("cnt")).as("__tot"),
      count(lit(1)).as("__vsz"))
    val lp = round(
      log((col("cnt") + 1).cast("double") /
        (col("__tot") + col("__vsz")).cast("double")), 8)
    // -lp in exact 1e-8 units (log-probs are ≤ 0; negate to stay in the
    // positive range where `div` truncation IS floor division)
    val lpNegScaled = (lp.cast("decimal(20,8)") * lit(-100000000L)).cast("long")
    // vocabulary side NOT broadcast-hinted: AQE broadcasts it when small,
    // but a web-scale vocabulary (billions of distinct tokens) must stay
    // a shuffle join — same convention as verifiedOverlap's set side
    toks
      .join(vocab.crossJoin(totals), Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(lpNegScaled).as("__a"))
      .withColumn("avg_logprob",
        -(expr("(2 * __a + n_tokens) div (2 * n_tokens)").cast("double") /
          lit(100000000.0)))
      .drop("__a")
  }

  /** Per-document mean bigram log-probability under the corpus' own
    * add-one-smoothed bigram LM — the context-aware tier of
    * [[unigramLogProb]]'s perplexity-proxy score: `P(w2|w1) =
    * (c(w1 w2)+1) / (h(w1)+V)` with `h(w1)` = bigram-start count and `V`
    * the corpus unigram vocabulary. Word salad that sails through a
    * unigram filter (common words, shuffled order) scores low here —
    * the standard step up a quality pipeline takes before paying for a
    * neural perplexity model.
    *
    * Scale shape: bigrams derive map-side from each doc's own token
    * array (zip of the array with its tail — no positional self-join);
    * the LM is ONE bigram-keyed count aggregation; history counts and
    * the vocabulary size are two smaller aggregations; the score is a
    * bigram→LM equi-join plus a doc-keyed aggregation. The LM side is
    * NOT broadcast-hinted — a web-scale bigram table must stay a
    * shuffle join (same convention as [[unigramLogProb]]).
    *
    * Determinism: identical to [[unigramLogProb]] — 8dp-rounded ln per
    * bigram on the exact 1e-8 integer grid, integer half-away mean.
    * Docs with fewer than two tokens have no bigrams and are absent.
    * Output: idCol, n_bigrams, avg_logprob (8dp). */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
    val bigrams = toks
      .select(col(idCol), explode(zip_with(
        slice(col("__tk"), lit(1), greatest(size(col("__tk")) - 1, lit(0))),
        slice(col("__tk"), lit(2), greatest(size(col("__tk")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val lm = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
    val hist = lm.groupBy(col("__w1")).agg(sum(col("cb")).as("ch"))
    val vocab = toks
      .select(explode(col("__tk")).as("token"))
      .agg(countDistinct(col("token")).as("__vsz"))
    val lp = round(
      log((col("cb") + 1).cast("double") /
        (col("ch") + col("__vsz")).cast("double")), 8)
    val lpNegScaled = (lp.cast("decimal(20,8)") * lit(-100000000L)).cast("long")
    bigrams
      .join(lm.join(hist, Seq("__w1")).crossJoin(vocab), Seq("bigram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(lpNegScaled).as("__a"))
      .withColumn("avg_logprob",
        -(expr("(2 * __a + n_bigrams) div (2 * n_bigrams)").cast("double") /
          lit(100000000.0)))
      .drop("__a")
  }

  /** Mean bigram log-probability under an interpolated Kneser–Ney LM
    * (Kneser & Ney 1995; Chen & Goodman 1998's interpolated form with
    * fixed discount D = 0.75) — the smoothing family behind the KenLM
    * perplexity filter CCNet-style pipelines rank web text with.
    * Absolute discounting redistributes mass to a CONTINUATION
    * unigram ("how many contexts does w appear after"), so frequent-but-
    * context-bound words (the "Francisco" effect) stop inflating scores
    * the way add-one smoothing lets them:
    *
    *   P(w2|w1) = (c(w1w2) − D)/c(w1·) + D·N1+(w1·)/c(w1·) · N1+(·w2)/B
    *
    * with N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    * left contexts of w2, B = distinct bigram types. Scoring the corpus
    * under its own LM keeps every bigram observed (c ≥ 1 > D, so p > 0).
    *
    * Scale shape: the bigram LM and both continuation-type tables are
    * aggregations of the ONE bigram count table (|bigram types|-sized,
    * not corpus-sized); scoring is an equi-join of doc bigrams against
    * the model. Determinism: all model counts are exact integers, the
    * probability is ONE pinned double expression tree on both engines,
    * per-bigram ln rounds to the 8dp integer grid and per-doc sums are
    * exact (the [[bigramLogProb]] contract).
    * Output: idCol, n_bigrams, avg_logprob. */
  def knBigramLogProb(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
    val bigrams = toks
      .select(col(idCol), explode(zip_with(
        slice(col("__tk"), lit(1), greatest(size(col("__tk")) - 1, lit(0))),
        slice(col("__tk"), lit(2), greatest(size(col("__tk")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val lm = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
      .withColumn("__w2", substring_index(col("bigram"), " ", -1))
    val hist = lm.groupBy(col("__w1"))
      .agg(sum(col("cb")).as("ch"), count(lit(1)).as("n1f"))
    val cont = lm.groupBy(col("__w2")).agg(count(lit(1)).as("n1b"))
    val btot = lm.agg(count(lit(1)).as("__b"))
    val p = (col("cb").cast("double") - lit(0.75)) / col("ch").cast("double") +
      (lit(0.75) * col("n1f").cast("double") / col("ch").cast("double")) *
        (col("n1b").cast("double") / col("__b").cast("double"))
    val lpNegScaled =
      (round(log(p), 8).cast("decimal(20,8)") * lit(-100000000L)).cast("long")
    bigrams
      .join(lm.join(hist, Seq("__w1")).join(cont, Seq("__w2"))
        .crossJoin(btot), Seq("bigram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(lpNegScaled).as("__a"))
      .withColumn("avg_logprob",
        -(expr("(2 * __a + n_bigrams) div (2 * n_bigrams)").cast("double") /
          lit(100000000.0)))
      .drop("__a")
  }

  /** Vocabulary coverage curve: the smallest frequency-ranked vocabulary
    * prefix covering p% of all token OCCURRENCES, for each requested
    * percentage — the tokenizer-design question ("how big must the vocab
    * be for 99% coverage") and the OOV-budget planning input
    * ([[oovRate]] measures a chosen vocab; THIS chooses one).
    *
    * Exactness: coverage crossings compare `100·cumcount ≥ p·total` in
    * exact integers — no float share ever computed. The rank window runs
    * over the VOCABULARY (not the corpus); a web-scale vocab makes that
    * a range-partitioned global sort, the standard top-k-vocabulary
    * shape. Ties: count desc, token asc — deterministic.
    * Output: threshold_pct, vocab_size (min prefix length), total vocab
    * and token counts for context. */
  def vocabCoverage(docs: DataFrame, textCol: String,
      thresholds: Seq[Int]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t >= 1 && t <= 100),
      s"thresholds=$thresholds")
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token").asc)
    val wCum = win.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val ranked = vocab
      .withColumn("rnk", row_number().over(win).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
    val tot = vocab.agg(sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("total_vocab"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("threshold_pct", explode(array(thresholds.map(lit): _*)))
      .where(col("cum") * 100 >= col("threshold_pct") * col("total_tokens"))
      .groupBy(col("threshold_pct"))
      .agg(min(col("rnk")).as("vocab_size"),
        max(col("total_vocab")).as("total_vocab"),
        max(col("total_tokens")).as("total_tokens"))
  }

  /** Flesch–Kincaid grade level (Kincaid et al. 1975) — the classic
    * readability screen curation pipelines use as a cheap quality
    * feature (too-low grade = fragment soup, too-high = OCR garbage or
    * legalese):
    *
    *   grade = 0.39·(words/sentences) + 11.8·(syllables/word) − 15.59
    *
    * with the standard heuristics: sentences = runs of [.!?] (min 1),
    * syllables(word) = vowel-group count (min 1) — both deterministic
    * regex counts, no dictionary. Map-only per doc: one
    * `regexp_extract_all` over the raw text plus a fold over the token
    * array; the grade is one pinned double formula, 8dp.
    * Output: idCol, n_sentences, n_words, n_syllables, fk_grade
    * (NULL for token-less docs). */
  def readability(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sentences = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"))
    // tokens materialize as a projection column first — HOF lambdas
    // re-evaluate non-attribute argument subtrees per element
    val syllables = aggregate(col("__tk"), lit(0L),
      (acc, t) => acc + greatest(lit(1L),
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))).cast("long")))
    docs.select(col(idCol), sentences.as("n_sentences"),
        tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("n_sentences"),
        size(col("__tk")).cast("long").as("n_words"),
        syllables.as("n_syllables"))
      .withColumn("fk_grade",
        when(col("n_words") > 0,
          round(lit(0.39) *
            (col("n_words").cast("double") / col("n_sentences").cast("double")) +
            lit(11.8) *
              (col("n_syllables").cast("double") / col("n_words").cast("double")) -
            lit(15.59), 8)))
  }

  /** Zipf-law fit per group (Zipf 1949; Piantadosi 2014 review): OLS
    * slope of ln(frequency) against ln(rank) over each group's top
    * `topN` tokens — the corpus-health screen that flags synthetic or
    * template-heavy text (natural language sits near slope −1; boiler-
    * plate floods flatten the head, gibberish steepens it).
    *
    * Scale shape: one (group, token) count aggregation, a top-N-per-
    * group rank window (rank ≤ topN keeps the window output bounded),
    * then a |groups|-row closed-form fit. Determinism: ranks are exact
    * integers (count desc, token asc total order), each ln rounds to the
    * 8dp DECIMAL grid before the EXACT decimal moment sums, and the
    * slope/intercept algebra is one pinned double formula — the same
    * contract as [[graft.engine.Stats.olsMulti]].
    * Output: groupCol, n_ranks, zipf_slope, intercept. */
  def zipfFit(docs: DataFrame, textCol: String, groupCol: String,
      topN: Int): DataFrame = {
    require(topN >= 2, s"topN=$topN")
    val counts = docs
      .select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("cnt").desc, col("token").asc)
    val ranked = counts.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topN)
      .select(col(groupCol),
        round(log(col("rnk").cast("double")), 8).cast("decimal(12,8)").as("x"),
        round(log(col("cnt").cast("double")), 8).cast("decimal(12,8)").as("y"))
    val m = ranked.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_ranks"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val (nd, sxd, syd, sxyd, sxxd) = (col("n_ranks").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"))
    val den = nd * sxxd - sxd * sxd
    m.select(col(groupCol), col("n_ranks"),
      when(den > 0.0, round((nd * sxyd - sxd * syd) / den, 8)).as("zipf_slope"),
      when(den > 0.0,
        round((syd - (nd * sxyd - sxd * syd) / den * sxd) / nd, 8))
        .as("intercept"))
  }

  /** Out-of-vocabulary rate per document against the corpus' own
    * frequency-thresholded vocabulary (tokens with corpus count ≥
    * `minCount`): the tokenizer-coverage diagnostic a training pipeline
    * runs before committing to a vocab — docs with high OOV under the
    * production vocab are mis-tokenized (wrong language, encoding damage,
    * code-as-prose).
    *
    * Scale shape: ONE vocabulary count aggregation, then a token→vocab
    * equi-join (the vocab side broadcasts when small but is NOT hinted —
    * a web-scale vocabulary must stay a shuffle join, same convention as
    * [[unigramLogProb]]) and a doc-keyed aggregation. The rate is one
    * IEEE division of exact counts. Zero-token docs are absent.
    * Output: idCol, n_tokens, n_oov, oov_rate. */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount=$minCount")
    val toks = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("token"), lit(1).as("__v"))
    toks.join(vocab, Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Gopher quality rules (Rae et al. 2021, appendix A1.1): the composite
    * document gate production corpora apply before anything expensive —
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    * fraction of words containing a letter, and a minimum stop-word count.
    * Words are whitespace tokens (Gopher filters on words, not the
    * normalized LM tokens).
    *
    * Entirely MAP-ONLY (one projection, no shuffle, no state) — the gate
    * runs at scan speed however large the corpus. All ratios are single
    * IEEE divisions of exact integer counts, so `passes` is bit-stable
    * on any engine/partitioning. Zero-word documents have no ratios and
    * are absent from the output (they fail any word-count floor anyway).
    * Output: idCol, n_words, mean_word_len, symbol_ratio, alpha_frac,
    * n_stop, passes. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 30, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): DataFrame = {
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val words = filter(split(col(textCol), "\\s+"), w => w =!= lit(""))
    val nWords = size(col("__w")).cast("long")
    val charSum = aggregate(transform(col("__w"), w => length(w)),
      lit(0L), (acc, x) => acc + x)
    val nSymbol = size(filter(col("__w"),
      w => w.contains("#") || w.contains("...")))
    val nAlpha = size(filter(col("__w"), w => w.rlike("[A-Za-z]")))
    val nStop = size(filter(col("__w"),
      w => lower(w).isInCollection(stopwords)))
    docs.select(col(idCol), words.as("__w"))
      .filter(size(col("__w")) > 0)
      .select(col(idCol), nWords.as("n_words"),
        (charSum.cast("double") / nWords.cast("double")).as("mean_word_len"),
        (nSymbol.cast("double") / nWords.cast("double")).as("symbol_ratio"),
        (nAlpha.cast("double") / nWords.cast("double")).as("alpha_frac"),
        nStop.cast("long").as("n_stop"))
      .withColumn("passes",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen &&
        col("symbol_ratio") <= maxSymbolRatio &&
        col("alpha_frac") >= minAlphaFrac &&
        col("n_stop") >= minStopwords)
  }

  /** DSIR-style hashed importance weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each document
    * by how much more likely its tokens are under a TARGET distribution
    * (e.g. wiki-like, or one language) than under the full SOURCE corpus —
    * log w_d = Σ_tokens [ln p_tgt(b) − ln p_src(b)] over hashed token
    * buckets (the hashing trick bounds both LMs at `buckets` cells
    * regardless of vocabulary size), add-one smoothed. Selecting top
    * documents by this weight is the DSIR recipe for carving a
    * domain-matched subset out of a web-scale corpus.
    *
    * Determinism: both ln() results round to 8 dp BEFORE differencing
    * (pins the libm ulp — same contract as [[unigramLogProb]]); the
    * per-bucket log-ratio then lives on the exact 1e-8 grid and the
    * per-doc sum is exact int64 arithmetic.
    *
    * Scale shape: two bucket-count aggregations (≤ `buckets` cells each,
    * map-side partials), a `buckets`-row broadcast, then one doc-keyed
    * aggregation — token text never shuffles. Docs with zero tokens have
    * no distribution to score and are absent from the output.
    * Output: idCol, n_tokens, log_ratio. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 64): DataFrame = {
    require(buckets >= 1 && 256 % buckets == 0,
      s"buckets must divide 256 for an unbiased byte->bucket map, got $buckets")
    val bucket = pmod(
      conv(substring(md5(concat(lit("ds|"), col("token"))), 1, 2), 16, 10)
        .cast("long"),
      lit(buckets.toLong))
    val tb = docs
      .select(col(idCol), isTarget.cast("boolean").as("__t"),
        explode(tokens(col(textCol))).as("token"))
      .select(col(idCol), col("__t"), bucket.as("b"))
    // one pass builds both LMs: conditional count for the target side
    val counts = tb.groupBy(col("b"))
      .agg(count(lit(1)).as("sc"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("tc"))
    val tot = counts.agg(sum(col("sc")).as("__s"), sum(col("tc")).as("__tt"))
    val lnTgt = round(log((col("tc") + 1).cast("double") /
      (col("__tt") + buckets).cast("double")), 8).cast("decimal(20,8)")
    val lnSrc = round(log((col("sc") + 1).cast("double") /
      (col("__s") + buckets).cast("double")), 8).cast("decimal(20,8)")
    val lrTab = counts.crossJoin(broadcast(tot))
      .select(col("b"),
        ((lnTgt - lnSrc) * lit(100000000L)).cast("long").as("lr"))
    tb.join(broadcast(lrTab), Seq("b")) // ≤ `buckets` rows — always broadcast
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("__a"))
      .select(col(idCol), col("n_tokens"),
        (col("__a").cast("double") / lit(100000000.0)).as("log_ratio"))
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= lit("")))

  /** BPE-ish pre-tokenizer count: letter runs, single digits, single
    * punctuation marks (the GPT-2-style pre-tokenization shape). */
  val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeIshTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Overlapping token-window chunking (the RAG/embedding-prep shape):
    * windows of `size` whitespace tokens starting every `stride` tokens,
    * so consecutive chunks overlap by size − stride. The last window may
    * be short; a document shorter than one window yields exactly one
    * chunk. Map-only (explode over an in-row index sequence — no
    * shuffle); chunk_idx is the 0-based window ordinal.
    * Output: idCol, chunk_idx, chunk_text, n_tokens. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"chunkTokens: size=$size stride=$stride")
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= lit(""))
    // number of windows: 1 + floor((max(0, n - size) + stride - 1) / stride)
    // — the double division is floor-exact at these magnitudes and the
    // oracle mirrors the identical expression
    val n = org.apache.spark.sql.functions.size(col("__toks")).cast("long")
    val nChunks = lit(1L) +
      floor((greatest(n - size, lit(0L)) + stride - 1).cast("double") /
        lit(stride.toDouble)).cast("long")
    docs.select(col(idCol), toks.as("__toks"))
      .filter(org.apache.spark.sql.functions.size(col("__toks")) > 0)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(size)), " ")
          .as("chunk_text"),
        org.apache.spark.sql.functions.size(slice(col("__toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(size)))
          .cast("long").as("n_tokens"))
  }

  /** Rolling polynomial fingerprint over characters:
    * h = fold(h*31 + codepoint) mod p. Sequential left fold → deterministic
    * and engine-portable (exact int64 arithmetic). */
  def rollingFingerprint(text: Column, mod: Long = 1000000007L): Column =
    aggregate(
      transform(filter(split(text, ""), c => c =!= lit("")),
        c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % mod)

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * local-fingerprint scheme): hash every character k-gram (md5 hex
    * prefix — fixed-width, so lexicographic min = numeric min in any
    * engine), slide a window of `w` hashes, keep each window's minimum,
    * dedupe. Guarantees a shared fingerprint for any matching substring
    * of length ≥ k + w − 1 — position-robust local dedup where shingle
    * sets are whole-document-global.
    *
    * Scale: map-only per document (explode at the end); k-gram hashes are
    * materialized into a projection column FIRST so the window transform
    * doesn't re-evaluate the md5 chain per window (HOF lambdas re-run
    * their argument subtree per element).
    * Output: (idCol, fingerprint) distinct rows. */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k w=$w")
    df.select(col(idCol),
      explode(graft.GraftFunctions.column("winnow_fps", col(textCol), lit(k), lit(w)))
        .as("fingerprint"))
  }

  /** Declarative winnowing — the readable spec the native [[winnow]]
    * kernel (`llm.WinnowExpr`) is equivalence-tested against; the DuckDB
    * oracle replays this same shape. */
  private[graft] def winnowDeclarative(df: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame = {
    val hashes = expr(
      s"""CASE WHEN length(`$textCol`) >= $k
         |  THEN transform(sequence(1, length(`$textCol`) - $k + 1),
         |         i -> substring(md5(substring(`$textCol`, i, $k)), 1, 8))
         |  ELSE array() END""".stripMargin)
    val wins = expr(
      s"""CASE WHEN size(__hs) >= $w
         |  THEN transform(sequence(1, size(__hs) - $w + 1),
         |         j -> array_min(slice(__hs, j, $w)))
         |  WHEN size(__hs) > 0 THEN array(array_min(__hs))
         |  ELSE array() END""".stripMargin)
    df.select(col(idCol), hashes.as("__hs"))
      .select(col(idCol), explode(array_distinct(wins)).as("fingerprint"))
  }

  /** Tiny per-language stopword lexicons (public, common function words). */
  val Lexicon: Seq[(String, String)] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "was", "for", "on",
      "as", "with", "that", "it", "at", "by"),
    "fr" -> Seq("le", "la", "les", "de", "des", "du", "et", "un", "une",
      "en", "est", "que", "qui", "dans", "pour"),
    "es" -> Seq("el", "los", "las", "de", "del", "y", "un", "una", "en",
      "es", "que", "se", "con", "por", "para"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "in", "ist",
      "von", "mit", "den", "zu", "auf", "als", "im")
  ).flatMap { case (lang, words) => words.map(lang -> _) }

  /** Per-language argmax over (lang, hit-count) columns with deterministic
    * (count desc, lang asc) tiebreak; ('und', 0) when nothing hits. The
    * input must be asc-sorted by lang: strict > keeps the earlier lang on
    * ties. Returns (bestLang, bestCount) column expressions. */
  def argmaxByLang(counts: Seq[(String, Column)]): (Column, Column) =
    counts.foldLeft((lit("und"), lit(0L))) { case ((bl, bn), (l, n)) =>
      (when(n > bn, lit(l)).otherwise(bl), when(n > bn, n).otherwise(bn))
    }

  /** Per-language stopword OCCURRENCE counts from a materialized token
    * array, asc-sorted by lang. InSet membership per token — map-side,
    * no explode/join. */
  def wordHitCounts(toks: Column): Seq[(String, Column)] =
    Lexicon.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, ps) =>
      l -> size(filter(toks, t => t.isInCollection(ps.map(_._2)))).cast("long")
    }

  /** N-gram-heuristic language ID: stopword hits per language, argmax with
    * deterministic (hits desc, lang asc) tiebreak; 'und' when nothing hits.
    * Output: idCol, lang_pred, hits.
    *
    * Scale shape: the lexicon is a constant ~60 words, so this is a
    * shuffle-free projection (per-language InSet counts over the token
    * array + when-chain argmax) — no explode, no join; a 100 TB scan stays
    * embarrassingly parallel. */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = wordHitCounts(col("__toks"))
    val counted = docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol) +:
        counts.map { case (l, n) => n.as(s"__n_$l") }: _*)
    val (bestLang, bestN) =
      argmaxByLang(counts.map { case (l, _) => l -> col(s"__n_$l") })
    counted.select(col(idCol), bestLang.as("lang_pred"), bestN.as("hits"))
  }

  val EnStopwords: Seq[String] = Lexicon.filter(_._1 == "en").map(_._2)

  /** Lowercased, non-alphanumeric-collapsed, space-padded text — the
    * classic Cavnar-Trenkle profile representation. Materialize this as a
    * projection column BEFORE sliding trigrams over it: HOF lambdas
    * re-evaluate their argument subtree per element, so inlining this
    * regexp under [[slidingTrigrams]] costs O(len²) regexp evaluations
    * per document. */
  def paddedProfileText(text: Column): Column =
    concat(lit(" "), regexp_replace(lower(text), "[^a-z0-9]+", " "), lit(" "))

  /** All length-3 substrings of an already-materialized padded column.
    * `padded` should be a plain attribute reference (see
    * [[paddedProfileText]]) so the per-element work is just a substring. */
  def slidingTrigrams(padded: Column): Column =
    transform(sequence(lit(1), greatest(length(padded) - 2, lit(1))),
      i => substr(padded, i, lit(3)))

  /** Per-language char-trigram profiles, derived deterministically from the
    * stopword lexicons (padded " word "): distinct (lang, trigram) pairs. */
  val TrigramProfiles: Seq[(String, String)] = Lexicon.flatMap {
    case (lang, word) =>
      val padded = s" $word "
      (0 until padded.length - 2).map(i => lang -> padded.substring(i, i + 3))
  }.distinct

  /** Char-n-gram-profile language ID (Cavnar-Trenkle-style): score each
    * language by the count of document trigram OCCURRENCES found in its
    * profile; argmax with (score desc, lang asc) tiebreak, 'und' when no
    * trigram hits. Complementary to [[langId]] (word-level): profiles catch
    * morphology that whole-word matching misses.
    *
    * Scale shape: the profiles are a few hundred constant trigrams, so the
    * whole operator is a shuffle-free projection — per-language hit counts
    * via `filter(trigrams, t ∈ profile)` (InSet, O(1) per trigram) and a
    * literal when-chain argmax. No explode, no join, no shuffle: a 100 TB
    * scan stays embarrassingly parallel. (The trigram array is projected in
    * its own step and referenced by all four counts; CollapseProject keeps
    * non-cheap multi-referenced projections separate, so it is built once
    * per document.) */
  def langIdNgram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = TrigramProfiles.map(_._1).distinct.sorted
    val profileOf = TrigramProfiles.groupBy(_._1)
      .map { case (l, ps) => l -> ps.map(_._2) }
    val tris = docs
      .select(col(idCol), paddedProfileText(col(textCol)).as("__padded"))
      .select(col(idCol), slidingTrigrams(col("__padded")).as("__tris"))
    val counted = tris.select(
      col(idCol) +: langs.map { l =>
        size(filter(col("__tris"), t => t.isInCollection(profileOf(l))))
          .cast("long").as(s"__n_$l")
      }: _*)
    val (bestLang, bestN) =
      argmaxByLang(langs.map(l => l -> col(s"__n_$l")))
    counted.select(col(idCol),
      bestLang.as("lang_pred"), bestN.as("tri_hits"))
  }

  /** Composite quality score as a single column expression (same formula
    * as [[qualityFeatures]]'s quality_score). `toks` must be a
    * materialized token-array attribute (see [[tokens]]). Divisions are
    * guarded with greatest(·,1): DuckDB yields NULL on double/0 where
    * Spark yields Infinity, so a zero denominator must never reach the
    * division. */
  def qualityScore(text: Column, toks: Column): Column = {
    val nChars = length(text)
    val nTokens = wsTokenCount(text)
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val stop = size(filter(toks, t => t.isInCollection(EnStopwords)))
    round(lit(0.3) * least(lit(1.0), nTokens.cast("double") / 100.0)
      + lit(0.3) * (lit(1.0) - punct.cast("double") / greatest(nChars, lit(1)))
      + lit(0.4) * (stop.cast("double") / greatest(nTokens, lit(1))), 8)
  }

  /** PII redaction: emails → `<EMAIL>`, phone-shaped numbers (optional
    * leading `+`/`(`, then 3+ short digit groups joined by space/()./-
    * separators — bare digit runs do NOT qualify) → `<PHONE>`, remaining
    * 6+ digit runs → `<ID>`. Order matters: emails first (their digits
    * must not half-match the phone rule), phones before bare ID runs.
    * Map-only codegen'd regexes, deliberately within the common Java/RE2
    * dialect (no backrefs or lookaround), so the same patterns run
    * anywhere. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email,
      "[+(]?[0-9]{1,4}([ ()./-]+[0-9]{1,4}){2,}", "<PHONE>")
    regexp_replace(phone, "[0-9]{6,}", "<ID>")
  }

  /** Token repetition ratio: share of the total token count held by the
    * single most repeated token — high values flag boilerplate/spam docs.
    * The explode pre-aggregates to one row per DISTINCT (doc, token)
    * before the per-doc rollup, so the shuffle is vocabulary-bounded, not
    * token-count-bounded. Docs with zero tokens produce no row. */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(max(col("__n")).as("max_token_freq"),
        sum(col("__n")).as("n_tokens"))
      .select(col(idCol), col("max_token_freq"), col("n_tokens"),
        round(col("max_token_freq").cast("double") / col("n_tokens"), 8)
          .as("repetition_ratio"))

  /** Jensen–Shannon divergence between two groups' token distributions
    * (Lin 1991) — the corpus-drift / mixture-QA measure: how far does
    * source A's language drift from source B's? (0 = identical, ln 2 =
    * disjoint vocabularies; symmetric and always finite, unlike KL.)
    * The dataset-comparison pass a training pipeline runs when a new
    * crawl snapshot or source joins the mix.
    *
    * Scale shape: ONE token-keyed count aggregation with conditional
    * per-group sums (no join of two count tables), one 2-scalar total,
    * and a vocabulary-bounded term scan. Determinism: the per-token
    * ln(p/m) ratios are computed double-BEFORE-multiply (integer products
    * of corpus-scale counts wrap), rounded to 8dp (the libm pin),
    * weighted by EXACT integer counts on the DECIMAL(38,8) grid, and
    * divided by the totals once at the end — the [[graft.engine.Stats]]
    * mutual-information discipline. p/m = 2·c1·n2/(c1·n2 + c2·n1), so
    * |ln| < ln(2·n1·n2) ≈ 90 fits DECIMAL(10,8).
    * Output: one row — n1, n2, vocab, jsd (nats, 8dp). */
  def jsDivergence(docs: DataFrame, textCol: String, groupCol: String,
      g1: String, g2: String): DataFrame = {
    require(g1 != g2, s"jsDivergence: identical groups '$g1'")
    val counts = docs
      .filter(col(groupCol).isin(g1, g2))
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("g") === g1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("g") === g2, 1L).otherwise(0L)).as("c2"))
    val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      count(lit(1)).as("vocab"))
    val (c1d, c2d) = (col("c1").cast("double"), col("c2").cast("double"))
    val (n1d, n2d) = (col("n1").cast("double"), col("n2").cast("double"))
    val denom = c1d * n2d + c2d * n1d
    // denom > 0 guards the ANSI division for the degenerate one-group
    // case (the other group empty ⇒ denom = 0); with both groups
    // populated it is implied by c > 0, so the conjunct never changes a
    // defined value
    def term(cd: Column, nd: Column, c: Column): Column =
      when(c > 0 && denom > 0,
        (round(log(lit(2.0) * cd * nd / denom), 8).cast("decimal(10,8)") *
          c.cast("decimal(19,0)")).cast("decimal(38,8)"))
        .otherwise(lit(0).cast("decimal(38,8)"))
    counts.crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"), col("vocab"),
        term(c1d, n2d, col("c1")).as("ta"),
        term(c2d, n1d, col("c2")).as("tb"))
      .groupBy(col("n1"), col("n2"), col("vocab"))
      .agg(sum(col("ta")).as("a"), sum(col("tb")).as("b"))
      .select(col("n1"), col("n2"), col("vocab"),
        // degenerate guard (the jsDriftByGroup convention): an empty or
        // token-less group has no distribution to diverge from — return
        // null, not the NaN a 0/0 division would smuggle through
        when(col("n1") > 0 && col("n2") > 0,
          round((col("a").cast("double") / col("n1").cast("double") +
            col("b").cast("double") / col("n2").cast("double")) / lit(2.0), 8))
          .as("jsd"))
  }

  /** Per-group drift ranking: [[jsDivergence]] of EVERY group against the
    * rest of the corpus, in ONE plan — the "which source drifted?"
    * leaderboard a mixture pipeline monitors, at one token-keyed
    * aggregation + one join for ALL groups (a per-group loop would scan
    * the corpus g times).
    *
    * The group-vs-rest split derives from two count tables: per-(group,
    * token) counts cg and per-token totals ct (c1 = cg, c2 = ct − cg,
    * n1 = n_g, n2 = N − n_g). Rows exist only where cg > 0, so the
    * rest-side mass of tokens ABSENT from g is folded in analytically:
    * for such tokens q/m = 2 exactly, so their contribution is
    * round8(ln 2)·(n2 − Σ_{t∈g}(ct − cg)) — no missing-row
    * materialization. Same determinism discipline as [[jsDivergence]].
    * Output: one row per group — group, n_g, jsd (8dp), descending. */
  def jsDriftByGroup(docs: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val perGroup = docs
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("g"), col("token"))
      .agg(count(lit(1)).as("cg"))
    val perToken = perGroup.groupBy(col("token")).agg(sum(col("cg")).as("ct"))
    val groupTot = perGroup.groupBy(col("g")).agg(sum(col("cg")).as("ng"))
    val grandTot = groupTot.agg(sum(col("ng")).as("nn"))
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val joined = perGroup.join(perToken, "token")
      .join(broadcast(groupTot), "g")
      .crossJoin(broadcast(grandTot))
      .withColumn("c2", col("ct") - col("cg"))
      .withColumn("n2", col("nn") - col("ng"))
    val (c1d, c2d) = (col("cg").cast("double"), col("c2").cast("double"))
    val (n1d, n2d) = (col("ng").cast("double"), col("n2").cast("double"))
    val denom = c1d * n2d + c2d * n1d
    // denom > 0 guards the ANSI division for the degenerate one-group
    // case (the other group empty ⇒ denom = 0); with both groups
    // populated it is implied by c > 0, so the conjunct never changes a
    // defined value
    def term(cd: Column, nd: Column, c: Column): Column =
      when(c > 0 && denom > 0,
        (round(log(lit(2.0) * cd * nd / denom), 8).cast("decimal(10,8)") *
          c.cast("decimal(19,0)")).cast("decimal(38,8)"))
        .otherwise(lit(0).cast("decimal(38,8)"))
    joined
      .groupBy(col("g"), col("ng"), col("n2"))
      .agg(sum(term(c1d, n2d, col("cg"))).as("a"),
        sum(term(c2d, n1d, col("c2"))).as("bSeen"),
        sum(col("c2")).as("c2Seen"))
      // tokens absent from g: q/m = 2 exactly, so their mass folds in as
      // round8(ln 2)·(n2 − Σ(ct − cg)) — added in DOUBLE with the same
      // operation order on both engines (a decimal add here would exceed
      // DuckDB's width-38 addition rule)
      .select(col("g").as(groupCol), col("ng").as("n_g"),
        when(col("ng") > 0 && col("n2") > 0,
          round((col("a").cast("double") / col("ng").cast("double") +
            (col("bSeen").cast("double") + lit(ln2) *
              (col("n2") - col("c2Seen")).cast("double")) /
              col("n2").cast("double")) / lit(2.0), 8))
          .as("jsd"))
      .orderBy(col("jsd").desc, col(groupCol))
  }

  /** Gopher-style duplicate n-gram fraction (Rae et al. 2021, A1.1 "rep"
    * filters): the share of a document's n-gram OCCURRENCES that are
    * repeats of an earlier occurrence — high values flag boilerplate
    * loops and degenerate generations that the max-token metric
    * ([[repetitionRatio]]) misses (a doc can repeat whole phrases while
    * no single token dominates).
    *
    * Scale shape: same as [[repetitionRatio]] — one explode + two
    * aggregations keyed by (doc, gram) then doc, both with map-side
    * partials; per-doc state is its distinct-gram set, never the corpus.
    * Docs with fewer than n tokens have no n-grams and are absent.
    * Output: idCol, n_ngrams, n_dup, dup_ngram_frac (8dp). */
  def dupNgramFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"dupNgramFraction: n=$n")
    df.select(col(idCol), explode(Shingles.wordShingles(col(textCol), n)).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_ngrams"),
        sum(col("__c") - 1).as("n_dup"))
      .select(col(idCol), col("n_ngrams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_ngrams").cast("double"), 8)
          .as("dup_ngram_frac"))
  }

  /** Corpus-level length gate: keep docs whose character length falls in
    * the [lo, hi] percent-rank band WITHIN its language — per-language
    * outlier trimming with no global magic threshold. percent_rank is
    * value-based (equal lengths share a rank), so ties land on the same
    * side of the cut under any partitioning or engine. */
  def lengthBand(df: DataFrame, idCol: String, textCol: String,
      langCol: String, lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(length(col(textCol)))
    df.select(col(idCol), col(langCol),
        length(col(textCol)).cast("long").as("n_chars"),
        round(percent_rank().over(w), 8).as("len_pr"))
      .where(col("len_pr") >= lo && col("len_pr") <= hi)
  }

  /** Boilerplate line removal (CCNet/RefinedWeb-style web-corpus
    * cleaning): a line occurring in at least `minDocs` DISTINCT documents
    * (nav menus, cookie banners, copyright footers) is removed from every
    * document; line order and within-document duplicates of non-boilerplate
    * lines are preserved.
    *
    * Scale shape: one explode + a line-keyed count-distinct aggregation
    * (the shuffle carries (line, id) pairs — vocabulary-bounded once
    * counts pre-reduce map-side); the frequent-line set is SMALL BY
    * DEFINITION (at most total-lines / minDocs entries), so it broadcasts
    * and the removal anti-join is map-side; reconstruction is one
    * aggregation keyed by the document id (cardinality ≫ executors).
    * Documents whose every line was boilerplate survive with empty text.
    * Output: idCol, clean_text. */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // split() takes a REGEX; quote the separator so "|" or "." callers
    // get literal line splitting (array_join below is literal either way)
    val sepRe = java.util.regex.Pattern.quote(sep)
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), sepRe)).as(Seq("pos", "line")))
    // materialize the SMALL side eagerly (frequent lines are bounded by
    // total-lines/minDocs) instead of caching the corpus-sized exploded
    // line set: two corpus scans total, zero cache residency — caching
    // the full line explosion would be infeasible at 100 TB and Dataset
    // caches are session-pinned until explicitly unpersisted.
    val frequent = lines.groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("line")
      .localCheckpoint()
    val kept = lines.join(broadcast(frequent), Seq("line"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")),
        sep).as("clean_text"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Heuristic quality features + composite score. Divisions guarded as in
    * [[qualityScore]]. */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val withToks = df.select(col(idCol), text, tokens(text).as("__toks"))
    val nChars = length(text)
    val nTokens = wsTokenCount(text)
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val meanTokLen = length(regexp_replace(text, "\\s", "")).cast("double") /
      greatest(nTokens, lit(1))
    val punctRatio = punct.cast("double") / greatest(nChars, lit(1))
    val stopRatio = size(filter(col("__toks"), t => t.isInCollection(EnStopwords)))
      .cast("double") / greatest(nTokens, lit(1))
    withToks.select(col(idCol),
      nChars.cast("long").as("n_chars"),
      nTokens.cast("long").as("n_tokens"),
      round(meanTokLen, 8).as("mean_token_len"),
      round(punctRatio, 8).as("punct_ratio"),
      round(stopRatio, 8).as("stopword_ratio"),
      qualityScore(text, col("__toks")).as("quality_score"))
  }

  /** Sparse TF-IDF cosine pair similarity via an inverted index — the
    * lexical complement of the embedding tier ([[Similarity]]): document
    * pairs score by the cosine of their TF-IDF vectors, computed WITHOUT
    * materializing vectors. Postings (doc, term, weight) join on the term
    * — the inverted-index self-join — so a pair's dot product accumulates
    * only over SHARED terms, with map-side partial sums.
    *
    * Scale shape: `maxDf` caps posting lists (terms in more than maxDf
    * docs carry ~no IDF signal AND dominate the pair blowup — candidate
    * volume is Σ_t df(t)² ≤ maxDf·Σ_t df(t), linear in corpus token count
    * for fixed maxDf; the same df-cap contract as the winnowing
    * candidates). Norms are computed over the SAME capped term space, so
    * the score is the exact cosine of the pruned vectors. `n` sets the
    * term unit (word n-grams via [[Shingles.wordShingles]]): unigrams for
    * topical similarity where the vocabulary has a rare tail; 3-grams for
    * near-duplicate detection on small-vocabulary corpora, where single
    * words are all common but shared PHRASES are the signal.
    *
    * Determinism: weights land on the exact 1e-8 grid (8dp-rounded
    * tf·ln(N/df), scaled to int64); dot products and norms are exact
    * DECIMAL sums of int64 products; the only float steps are the final
    * single-rounded double conversion, IEEE-exact sqrt, one division and
    * an 8dp round — bit-equal on any engine and partitioning.
    * Output: id1 < id2, cos (≥ minCos), 8dp. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      maxDf: Long, minCos: Double, n: Int = 1): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"),
        explode(Shingles.wordShingles(col(textCol), n)).as("word"))
      .groupBy("id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // df-adaptive guard: a maxDf that empties the index (every term's df
    // above the cap — e.g. a unigram index over a tiny vocabulary) would
    // otherwise return silently-empty pairs. The check rides in the
    // single-row broadcast the weights already need, so a misconfigured
    // cap fails loudly at zero extra plan cost.
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
      .crossJoin(dfreq.select(count(lit(1)).as("n_idx_terms")))
      .select(
        when(col("n_docs") > 0 && col("n_idx_terms") === 0, raise_error(lit(
          s"tfidfCosinePairs: maxDf=$maxDf empties the $n-gram inverted " +
            "index (every term's df exceeds the cap) — raise maxDf or " +
            "change the term granularity n")))
          .otherwise(col("n_docs")).as("n_docs"))
    // wi = round8(tf·ln(N/df)) on the integer 1e-8 grid (exact: the 8dp
    // decimal scales to int64 without a float multiply)
    val postings = tf.join(dfreq, "word").crossJoin(broadcast(nDocs))
      .select(col("id"), col("word"),
        (round(col("tf") * log(col("n_docs").cast("double") /
            col("df").cast("double")), 8).cast("decimal(20,8)") *
          lit(100000000L)).cast("long").as("wi"))
    val wiDec = col("wi").cast("decimal(19,0)")
    // zero-norm docs (every surviving term at df == N ⇒ all weights 0)
    // would make cos = 0/0 = NaN, and NaN compares GREATER than minCos in
    // Spark — drop them: a doc with no weighted terms has no similarity
    val norms = postings.groupBy(col("id"))
      .agg(sum(wiDec * wiDec).as("n2"))
      .filter(col("n2") > 0)
    val a = postings.toDF("id1", "word", "w1")
    val b = postings.toDF("id2", "word", "w2")
    val dots = a.join(b, Seq("word"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(sum(col("w1").cast("decimal(19,0)") *
        col("w2").cast("decimal(19,0)")).as("dot"))
    val cosv = col("dot").cast("double") /
      (sqrt(col("n21").cast("double")) * sqrt(col("n22").cast("double")))
    dots
      .join(norms.toDF("id1", "n21"), "id1")
      .join(norms.toDF("id2", "n22"), "id2")
      .select(col("id1"), col("id2"), round(cosv, 8).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** HTML → text extraction (the step after the WARC walk in a crawl
    * pipeline): drops script/style blocks and comments, strips tags,
    * unescapes the five basic entities, collapses whitespace. Pure
    * map-side Column chain (codegen'd regexp_replace — no UDF); every
    * pattern is RE2-compatible (non-greedy + embedded (?s), no
    * backreferences or lookaround) so an oracle replays it verbatim.
    * `&amp;` unescapes LAST — the classic ordering that keeps an
    * escaped "&amp;lt;" from turning into a live "<". This is the
    * boilerplate-light tier: readability-grade main-content extraction
    * needs a DOM and is out of scope (stripBoilerplate handles the
    * line-frequency cleanup downstream). */
  def htmlToText(html: Column): Column = {
    // (?i): HTML tag names are case-insensitive and uppercase <SCRIPT>
    // occurs in older pages — without it the block BODY leaks into the
    // text once the generic tag strip removes only the tags
    val noScript = regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        replace(c, lit(from), lit(to))
      }
    // explicit class, not \s: Java's \s includes \x0B, RE2's does not —
    // the one dialect gap in this chain, spelled out so the oracle IS a
    // verbatim replay
    trim(regexp_replace(ent, "[ \\t\\n\\r\\f\\x0B]+", " "))
  }

  /** Scale-safe dense-range ids over a distinct key domain WITHOUT any
    * global sort: id = (spark_partition_id << 40) | per-partition
    * row_number — the zipWithIndex idea with bit composition instead of
    * running offsets. Injective by construction (a partition holds far
    * fewer than 2^40 rows; Spark caps partition ids far below 2^23),
    * and — unlike an offsets variant that aggregates the partition
    * counts and joins them back — the whole index is ONE plan subtree
    * consumed once, so there is no second evaluation of
    * `spark_partition_id` that could disagree with the first (a torn
    * assignment would silently drop or collide vocabulary ids). The
    * only window partitions by `__pid`; nothing sorts the domain on one
    * task (a web-corpus vocabulary is billions of strings).
    *
    * Id VALUES depend on the physical partitioning, so use this only
    * where the consumer is relabeling-invariant (PageRank/HITS-style
    * solves, join-through indices) — NOT where the id itself is output
    * (that is [[graft.engine.Encode.indexEncode]]'s frequency-ranked
    * contract, which pins an order and caps the domain instead).
    * Callers that consume the index MORE THAN ONCE must barrier it
    * ([[graft.engine.Checkpoints.iterationBarrier]]): each job would
    * otherwise re-evaluate the subtree, and two evaluations under
    * different runtime partitionings assign different ids — consistent
    * within themselves, torn across the consumers. Output: keyCol, id. */
  private[graft] def zipIndex(domain: DataFrame, keyCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    domain.withColumn("__pid", spark_partition_id())
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(col(keyCol)))
        .cast("long"))
      .select(col(keyCol),
        (shiftleft(col("__pid").cast("long"), 40) + col("__rn")).as("id"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    * Bringing Order into Text"): PageRank over the word co-occurrence
    * graph — adjacent-token edges, undirected, DISTINCT (the unweighted
    * TextRank variant) — then the top-k words by rank. Centrality beats
    * raw frequency for keywords because a word that CONNECTS many
    * contexts outranks a word that merely repeats in one.
    *
    * Composition, not new machinery: the co-occurrence pairs are the
    * q_bigram_pmi adjacency projection; the solve is
    * [[graft.llm.Graph.pageRank]]'s exact 2^30 fixed point (engine-
    * portable integer arithmetic), run over a dense word index built
    * WITHOUT any global sort: per-partition row numbers composed with
    * running partition offsets (the zipWithIndex shape, declaratively).
    * A web-corpus adjacent-token vocabulary is billions of strings — a
    * vocabulary-wide `row_number` window would drag them all onto ONE
    * partition; here the only global window runs over #partitions rows,
    * bounded by cluster config, never by data. PageRank is invariant
    * under any injective relabeling (every step joins on the id; n,
    * base and the per-node sums are label-free), so the id VALUES are
    * free — only injectivity matters, which the offset composition
    * gives exactly. The index is barriered so all three consumers join
    * against the SAME materialized assignment (spark_partition_id may
    * differ between duplicated plan subtrees otherwise). Ranks are
    * rounded to 8dp BEFORE the top-k so the boundary is portable (ties
    * break on the word). Output: word, rank — top k. */
  def textRank(docs: DataFrame, textCol: String, iters: Int,
      k: Int): DataFrame = {
    require(iters >= 1 && k >= 1, s"iters=$iters k=$k")
    val toks = docs.select(tokens(col(textCol)).as("l"))
    val pairs = toks.where(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(l)-1), " +
          "i -> struct(l[i-1] AS w1, l[i] AS w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .where(col("w1") =!= col("w2"))
      .distinct()
    val vocab = pairs.select(col("w1").as("w"))
      .unionByName(pairs.select(col("w2").as("w"))).distinct()
    val idx = graft.engine.Checkpoints.iterationBarrier(
      zipIndex(vocab, "w"))
    // vocabulary-sized sides join as plain equi-joins — no broadcast
    // hint: at web scale the index does not fit an executor, and at
    // test scale AQE broadcasts it on its own
    val ids = pairs
      .join(idx.toDF("w1", "src"), "w1")
      .join(idx.toDF("w2", "dst"), "w2")
      .select(col("src"), col("dst"))
    // undirected: both directions feed the directed solve (pageRank
    // distincts internally, so a pair present both ways stays simple)
    val dir = ids.unionByName(
      ids.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRank(dir, "src", "dst", iters)
      .join(idx.toDF("word", "node"), "node")
      .select(col("word"), col("rank"))
      .orderBy(col("rank").desc, col("word").asc)
      .limit(k)
  }

  /** χ² feature selection over document-term PRESENCE (the sklearn
    * SelectKBest(chi2) shape for text): for each term, the 2×2
    * term-presence × label contingency χ² with 1 df, top-k terms by
    * statistic. Presence (DISTINCT doc-term), not counts — the classic
    * feature-selection convention; a term present in every document (or
    * absent from a whole class margin) has an empty margin and carries
    * no signal: its χ² is NULL and it never ranks.
    *
    * Determinism/scale (the keyness discipline): one distinct
    * (doc, term) projection feeds ONE term-keyed count aggregation;
    * corpus totals ride a 1-row broadcast; every product is cast double
    * BEFORE multiplying (long n11·n00 wraps at web-corpus scale); χ² is
    * rounded to 8dp BEFORE the rank so the top-k boundary is
    * cross-engine portable (ties break on the term). Output: term, df,
    * n11, chi2 — top `k` by (chi2 desc, term asc). */
  def chi2Select(docs: DataFrame, idCol: String, textCol: String,
      positive: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 10000, s"chi2Select: k=$k")
    val labeled = docs.select(col(idCol).as("__id"),
      when(positive, 1L).otherwise(0L).as("__y"))
    val present = docs
      .select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("term"))
      .distinct()
    val tot = labeled.agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    val per = present.join(labeled, "__id")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("__y")).as("n11"))
    val d = (c: Column) => c.cast("double")
    val withTot = per.crossJoin(broadcast(tot))
      .withColumn("__n10", col("df") - col("n11"))
      .withColumn("__n01", col("__p") - col("n11"))
      .withColumn("__n00", (col("__n") - col("__p")) - col("__n10"))
    val num = d(col("n11")) * d(col("__n00")) -
      d(col("__n10")) * d(col("__n01"))
    val denom = d(col("df")) * d(col("__n") - col("df")) *
      d(col("__p")) * d(col("__n") - col("__p"))
    withTot
      .select(col("term"), col("df"), col("n11"),
        when(denom > 0.0, round(d(col("__n")) * num * num / denom, 8))
          .as("chi2"))
      .where(col("chi2").isNotNull)
      .orderBy(col("chi2").desc, col("term").asc)
      .limit(k)
  }
  /** URL canonicalization (the normalize-before-dedup step of the URL
    * tier beside the per-host cap): lowercase scheme+host, strip the
    * scheme's default port (:443 https / :80 http), drop the fragment,
    * delete tracking parameters (utm_*, fbclid, gclid, msclkid), sort
    * the surviving query parameters byte-wise, and drop an empty
    * trailing `?`. Two URLs that differ only in these dimensions are
    * the same fetch — canonical-key dedup folds them.
    *
    * All map-only string/array kernels (regexp_extract, split,
    * filter, array_sort, array_join) — codegen-friendly, no UDF, no
    * shuffle; paths are left byte-exact (case-significant per RFC
    * 3986). Output: the input columns + `canon_url`. */
  def canonicalizeUrl(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_extract(hostPort, "^([^:]*)", 1))
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !((scheme === "https" && port === "443") ||
        (scheme === "http" && port === "80"))
    val path = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    // anchor the query BEFORE the fragment: a '?' inside '#…' is
    // fragment text, not a query (SPA-style '#/route?a=1' URLs)
    val query = regexp_extract(u, "^[^#]*?\\?([^#]*)", 1)
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|msclkid)="))
    val sortedQ = array_join(array_sort(params), "&")
    df.withColumn("canon_url",
      concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        when(path === "", lit("/")).otherwise(path),
        when(sortedQ === "", lit(""))
          .otherwise(concat(lit("?"), sortedQ))))
  }
  /** Heaps'-law fit (Heaps 1978; Herdan 1960): vocabulary growth
    * V(n) ≈ K·n^β over corpus prefixes — the corpus statistic that
    * predicts how a tokenizer's vocabulary demand scales with data (the
    * growth-side companion of the Zipf rank fit). β for natural text
    * sits in ~0.4–0.6; a β drifting toward 1 flags boilerplate-free
    * synthetic noise, toward 0 heavy duplication.
    *
    * Scale discipline: docs map to `buckets` id-range prefixes (pure
    * arithmetic on the broadcast max id — no sort, no row-scale
    * window); each term contributes its FIRST bucket via one min
    * aggregation, so cumulative vocabulary is a cumsum over the BUCKET
    * grid; the log-log OLS runs on ≤`buckets` points with 8dp ln grids
    * and DECIMAL product sums. Output one row: n_points, beta, ln_k. */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, s"heapsLaw: buckets=$buckets")
    val mx = docs.agg(max(col(idCol).cast("long")).as("__mx"))
    val toks = docs
      .select(col(idCol).cast("long").as("__id"),
        explode(tokens(col(textCol))).as("__t"))
      .crossJoin(broadcast(mx))
      .withColumn("__b", expr(s"(__id * $buckets) div (__mx + 1)"))
    val perBucket = toks.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nt"))
    val newPerBucket = toks.groupBy(col("__t"))
      .agg(min(col("__b")).as("__fb"))
      .groupBy(col("__fb").as("__b"))
      .agg(count(lit(1)).as("__nv"))
    val wc = org.apache.spark.sql.expressions.Window.orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val pts = perBucket.join(newPerBucket, Seq("__b"), "left")
      .withColumn("__cn", sum(col("__nt")).over(wc))
      .withColumn("__cv", sum(coalesce(col("__nv"), lit(0L))).over(wc))
      .where(col("__cn") > 0 && col("__cv") > 0)
      .select(round(log(col("__cn").cast("double")), 8).as("__x"),
        round(log(col("__cv").cast("double")), 8).as("__y"))
    val mom = pts.agg(count(lit(1)).as("__m"),
      sum(col("__x").cast("decimal(38,8)")).as("__sx"),
      sum(col("__y").cast("decimal(38,8)")).as("__sy"),
      sum(round(col("__x") * col("__x"), 16).cast("decimal(38,16)"))
        .as("__sxx"),
      sum(round(col("__x") * col("__y"), 16).cast("decimal(38,16)"))
        .as("__sxy"))
    val md = col("__m").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val den = col("__sxx").cast("double") - sx * sx / md
    val beta = when(col("__m") > 1 && den > 0.0,
      (col("__sxy").cast("double") - sx * sy / md) / den)
    mom.select(col("__m").as("n_points"),
      round(beta, 8).as("beta"),
      round(sy / md - beta * (sx / md), 8).as("ln_k"))
  }

  /** Sentence-integral training chunks: rule-split sentences (runs of
    * `.!?` followed by whitespace — the RE2-portable boundary, no
    * lookbehind), then assign each sentence to chunk
    * ⌊words-before / maxWords⌋ — chunks never split a sentence and
    * track the word budget without any sequential fold (the
    * pack_sequences convention on the sentence axis).
    *
    * One posexplode + one doc-partitioned window (bounded by sentences
    * per doc) + one group-by. Output per (doc, chunk): idCol, chunk,
    * n_sentences, n_words — ordered by the caller. */
  def sentenceChunks(docs: DataFrame, idCol: String, textCol: String,
      maxWords: Int): DataFrame = {
    require(maxWords >= 1, s"sentenceChunks: maxWords=$maxWords")
    val sents = docs
      .select(col(idCol),
        posexplode(filter(split(col(textCol), "[.!?]+\\s+"),
          x => trim(x) =!= "")).as(Seq("__pos", "__sent")))
      .withColumn("__w",
        size(filter(split(col("__sent"), "\\s+"), x => x =!= "")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    sents
      .withColumn("__before", sum(col("__w")).over(w) - col("__w"))
      .withColumn("chunk", expr(s"__before div $maxWords"))
      .groupBy(col(idCol), col("chunk"))
      .agg(count(lit(1)).as("n_sentences"), sum(col("__w")).as("n_words"))
  }
  /** License-mention detection (the SPDX-screen tier of training-data
    * governance: code/text corpora must route copyleft and
    * attribution-bound documents differently): first-match over a fixed
    * priority ladder of RE2-portable phrase patterns on the lowercased
    * text. A HEURISTIC screen by contract — the production upgrade is
    * full SPDX text matching; the pipeline shape (map-only rlike
    * ladder, zero shuffle) is identical. Output: input columns +
    * `license` ('mit' | 'apache' | 'gpl' | 'cc_by' | 'none'). */
  def licenseDetect(df: DataFrame, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    df.withColumn("license",
      when(t.rlike("permission is hereby granted|mit license"), "mit")
        .when(t.rlike("apache license|licensed under the apache"),
          "apache")
        .when(t.rlike("gnu general public license|gpl-[23]\\.0"), "gpl")
        .when(t.rlike("creative commons attribution|cc-by-[0-9]"),
          "cc_by")
        .otherwise("none"))
  }
}
