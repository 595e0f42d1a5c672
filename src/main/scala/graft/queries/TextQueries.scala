package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine.Tables
import graft.llm.TextAnalysis

/** Text-analysis operators over `documents` (lang-id, quality, tokens,
  * fingerprints) — the training-data-pipeline surface. */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The en/fr/es/de stopword lexicon as a SQL VALUES list. */
  private[queries] val lexValues: String = TextAnalysis.Lexicon
    .map { case (lang, word) => s"('$lang','$word')" }.mkString(", ")

  def specs: Seq[QuerySpec] = Seq(

    // Language ID: stopword-hit argmax with deterministic tiebreak.
    QuerySpec("q_lang_id", (s, dir) => {
      TextAnalysis.langId(docs(s, dir), "doc_id", "text").orderBy("doc_id")
    }, Some(
      s"""WITH lex(lang, word) AS (VALUES $lexValues),
         |tok AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                            x -> x <> '')) AS word
         |  FROM documents),
         |hits AS (
         |  SELECT doc_id, lang, COUNT(*) AS n
         |  FROM tok JOIN lex USING (word) GROUP BY doc_id, lang),
         |best AS (
         |  SELECT doc_id, lang, n,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, lang) AS rn
         |  FROM hits)
         |SELECT d.doc_id, COALESCE(b.lang, 'und') AS lang_pred,
         |       COALESCE(b.n, 0) AS hits
         |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
         |ORDER BY d.doc_id""".stripMargin), headline = true),

    // Char-trigram-profile language ID (Cavnar-Trenkle-style n-gram
    // heuristic): document trigram occurrences scored against per-language
    // profiles derived from the same lexicons.
    QuerySpec("q_lang_id_ngram", (s, dir) => {
      TextAnalysis.langIdNgram(docs(s, dir), "doc_id", "text").orderBy("doc_id")
    }, Some {
      val profValues = TextAnalysis.TrigramProfiles
        .map { case (lang, tri) => s"('$lang','${tri.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH prof(lang, tri) AS (VALUES $profValues),
         |padded AS (
         |  SELECT doc_id,
         |         ' ' || regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') || ' ' AS p
         |  FROM documents),
         |tris AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, GREATEST(length(p) - 2, 1) + 1),
         |                               i -> substr(p, CAST(i AS INT), 3))) AS tri
         |  FROM padded),
         |hits AS (
         |  SELECT doc_id, lang, COUNT(*) AS n
         |  FROM tris JOIN prof USING (tri) GROUP BY doc_id, lang),
         |best AS (
         |  SELECT doc_id, lang, n,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, lang) AS rn
         |  FROM hits)
         |SELECT d.doc_id, COALESCE(b.lang, 'und') AS lang_pred,
         |       COALESCE(b.n, 0) AS tri_hits
         |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
         |ORDER BY d.doc_id""".stripMargin
    }),

    // Quality features + composite score (pure arithmetic, div-by-zero
    // guarded with greatest(·,1) — DuckDB nulls double/0, Spark gives Inf).
    QuerySpec("q_text_quality", (s, dir) => {
      TextAnalysis.qualityFeatures(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH f AS (
        |  SELECT doc_id,
        |         length(text) AS n_chars,
        |         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        |         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS punct,
        |         len(list_filter(
        |               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
        |               t -> t IN ('the','of','and','to','in','is','was','for','on','as','with','that','it','at','by'))) AS stop,
        |         length(regexp_replace(text, '\s', '', 'g')) AS nospace
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       ROUND(CAST(nospace AS DOUBLE) / GREATEST(n_tokens, 1), 8) AS mean_token_len,
        |       ROUND(CAST(punct AS DOUBLE) / GREATEST(n_chars, 1), 8) AS punct_ratio,
        |       ROUND(CAST(stop AS DOUBLE) / GREATEST(n_tokens, 1), 8) AS stopword_ratio,
        |       ROUND(CAST(0.3 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100.0)
        |             + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(punct AS DOUBLE) / GREATEST(n_chars, 1))
        |             + CAST(0.4 AS DOUBLE) * (CAST(stop AS DOUBLE) / GREATEST(n_tokens, 1)), 8) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin)),

    // Token counting: whitespace + BPE-ish pre-tokenizer counts.
    QuerySpec("q_token_counts", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
          TextAnalysis.bpeIshTokenCount(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Rolling polynomial fingerprint (sequential fold, exact int64).
    QuerySpec("q_fingerprint", (s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.rollingFingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(list_filter(string_split(text, ''), c -> c <> ''),
        |                          c -> CAST(ascii(c) AS BIGINT))),
        |         (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Winnowing fingerprints (MOSS): per-window minimum of k-gram hashes —
    // any shared substring of length ≥ k+w−1 shares a fingerprint. Hex
    // md5 prefixes compare identically in both engines.
    QuerySpec("q_winnow", (s, dir) => {
      TextAnalysis.winnow(docs(s, dir), "doc_id", "text", k = 8, w = 4)
        .orderBy("doc_id", "fingerprint")
    }, Some(
      """WITH g AS (
        |  SELECT doc_id,
        |         CASE WHEN length(text) >= 8
        |              THEN list_transform(range(1, length(text) - 8 + 2),
        |                     i -> substr(md5(substr(text, i, 8)), 1, 8))
        |              ELSE [] END AS hs
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |         CASE WHEN len(hs) >= 4
        |              THEN list_transform(range(1, len(hs) - 4 + 2),
        |                     j -> list_min(list_slice(hs, j, j + 3)))
        |              WHEN len(hs) > 0 THEN [list_min(hs)]
        |              ELSE [] END AS wins
        |  FROM g)
        |SELECT doc_id, unnest(list_distinct(wins)) AS fingerprint
        |FROM w ORDER BY doc_id, fingerprint""".stripMargin)),

    // TF-IDF top-5 terms per document: tf from the token explode, df over
    // distinct (doc, word), idf = ln(N/df). Scores round to 8 dp BEFORE
    // ranking so a last-ulp ln() difference between libm implementations
    // can neither flip ranks nor the hash. Per-doc window groups are
    // vocabulary-bounded — no scale hazard.
    QuerySpec("q_tfidf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val tok = d.select(col("doc_id"),
        explode(graft.llm.Shingles.wordShingles(col("text"), 1)).as("word"))
      val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 8))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("word").asc)
      scored.withColumn("term_rank", row_number().over(w).cast("long"))
        .filter(col("term_rank") <= 5)
        .select("doc_id", "term_rank", "word", "tf", "score")
        .orderBy("doc_id", "term_rank")
    }, Some(
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            x -> x <> '')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
        |dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, word, tf,
        |         ROUND(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 8) AS score
        |  FROM tf JOIN dfreq USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                               ORDER BY score DESC, word) AS term_rank
        |  FROM scored)
        |SELECT doc_id, term_rank, word, tf, score
        |FROM ranked WHERE term_rank <= 5
        |ORDER BY doc_id, term_rank""".stripMargin)),

    // Deterministic stratified sampling: md5-uniform per key, per-language
    // fractions (training-mix re-balancing). Same subset on every run,
    // partitioning, and engine — the oracle IS the reproducibility check.
    QuerySpec("q_strat_sample", (s, dir) => {
      graft.llm.Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
          Map("en" -> 0.5, "fr" -> 0.25), default = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")
    }, Some(
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |      CASE WHEN lang = 'en' THEN '80000000'
        |           WHEN lang = 'fr' THEN '40000000'
        |           ELSE '1999999a' END
        |ORDER BY doc_id""".stripMargin)),

    // Deterministic global shuffle key: reproducible training order
    // (ORDER BY md5(seed|key)); new seed = new epoch permutation.
    QuerySpec("q_shuffle_order", (s, dir) => {
      graft.llm.Sampling.deterministicShuffle(docs(s, dir), "doc_id",
          seed = "epoch0")
        .select(col("doc_id"),
          graft.llm.Sampling.uniformHex("epoch0", col("doc_id"))
            .as("shuffle_key"))
    }, Some(
      """SELECT doc_id,
        |       substr(md5('epoch0|' || CAST(doc_id AS VARCHAR)), 1, 8) AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin)),

    // Bigram collocations by PMI: ln(p(w1w2) / (p(w1)·p(w2))) from exact
    // integer counts, rounded to 8 dp BEFORE the rank (the q_tfidf float
    // discipline); c12 ≥ 5 floors the noise. The bigram explode is a
    // map-side transform over the materialized token array.
    QuerySpec("q_bigram_pmi", (s, dir) => {
      val toks = docs(s, dir)
        .select(graft.llm.TextAnalysis.tokens(col("text")).as("l"))
      val uni = toks.select(explode(col("l")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val n1 = uni.agg(sum(col("c1")).as("n1"))
      val bigAll = toks.where(size(col("l")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(l)-1), i -> struct(l[i-1] AS w1, l[i] AS w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      // n2 is the total bigram mass BEFORE the frequency floor — summing
      // after the c12 >= 5 filter would inflate every PMI by the constant
      // ln(total / frequent_mass)
      val n2 = bigAll.agg(sum(col("c12")).as("n2"))
      val big = bigAll.where(col("c12") >= 5)
      val (c12d, n1d, n2d) = (col("c12").cast("double"),
        col("n1").cast("double"), col("n2").cast("double"))
      val (c1d, c2d) = (col("u1.c1").cast("double"), col("u2.c1").cast("double"))
      big
        .join(broadcast(uni.as("u1")), col("w1") === col("u1.w"))
        .join(broadcast(uni.as("u2")), col("w2") === col("u2.w"))
        .join(broadcast(n1)).join(broadcast(n2))
        .select(col("w1"), col("w2"), col("c12"),
          round(log(c12d * n1d * n1d / (n2d * c1d * c2d)), 8).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    }, Some(
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |uni AS (
        |  SELECT w, COUNT(*) AS c1
        |  FROM (SELECT unnest(l) AS w FROM tok) GROUP BY w),
        |n1 AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1 FROM uni),
        |big AS (
        |  SELECT l[i] AS w1, l[i + 1] AS w2
        |  FROM tok, UNNEST(range(1, len(l))) AS t(i)),
        |bcall AS (SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2),
        |n2 AS (SELECT CAST(SUM(c12) AS BIGINT) AS n2 FROM bcall),
        |bc AS (SELECT * FROM bcall WHERE c12 >= 5)
        |SELECT w1, w2, c12,
        |       ROUND(LN(CAST(c12 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
        |                / (CAST(n2 AS DOUBLE) * CAST(u1.c1 AS DOUBLE)
        |                   * CAST(u2.c1 AS DOUBLE))), 8) AS pmi
        |FROM bc
        |JOIN uni u1 ON w1 = u1.w
        |JOIN uni u2 ON w2 = u2.w
        |CROSS JOIN n1 CROSS JOIN n2
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)),

    // Exactly-k-per-group deterministic sample: balanced per-language eval
    // subsets (fraction sampling can't promise a count).
    QuerySpec("q_sample_per_group", (s, dir) => {
      graft.llm.Sampling.samplePerGroup(
          docs(s, dir).select("doc_id", "lang"), "doc_id", "lang", k = 20)
        .orderBy("doc_id")
    }, Some(
      """WITH h AS (
        |  SELECT doc_id, lang,
        |         substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hx, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, lang FROM r WHERE rn <= 20 ORDER BY doc_id""".stripMargin)),

    // Heaps'-law vocabulary-growth fit V(n) ≈ K·n^β over 16 id-range
    // corpus prefixes: each term contributes its FIRST bucket, so
    // cumulative vocabulary is a bucket-grid cumsum — no row-scale
    // window; log-log OLS on ≤16 points with 8dp ln grids.
    QuerySpec("q_heaps_law", (s, dir) => {
      TextAnalysis.heapsLaw(docs(s, dir), "doc_id", "text", buckets = 16)
    }, Some(
      """WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
        |tk AS (
        |  SELECT doc_id, b, unnest(l) AS t
        |  FROM (SELECT doc_id, (doc_id * 16) // (m + 1) AS b,
        |               list_filter(string_split_regex(lower(text),
        |                 '[^a-z0-9]+'), x -> x <> '') AS l
        |        FROM documents CROSS JOIN mx)),
        |pb AS (SELECT b, COUNT(*) AS nt FROM tk GROUP BY b),
        |nv AS (
        |  SELECT fb AS b, COUNT(*) AS nv
        |  FROM (SELECT t, MIN(b) AS fb FROM tk GROUP BY t)
        |  GROUP BY fb),
        |pts AS (
        |  SELECT ROUND(LN(CAST(SUM(nt) OVER win AS DOUBLE)), 8) AS x,
        |         ROUND(LN(CAST(SUM(COALESCE(nv, 0)) OVER win AS DOUBLE)),
        |               8) AS y
        |  FROM pb LEFT JOIN nv USING (b)
        |  WINDOW win AS (ORDER BY b ROWS UNBOUNDED PRECEDING)
        |  QUALIFY SUM(nt) OVER win > 0
        |      AND SUM(COALESCE(nv, 0)) OVER win > 0),
        |mo AS (
        |  SELECT COUNT(*) AS m,
        |         SUM(CAST(x AS DECIMAL(38,8))) AS sx,
        |         SUM(CAST(y AS DECIMAL(38,8))) AS sy,
        |         SUM(CAST(ROUND(x * x, 16) AS DECIMAL(38,16))) AS sxx,
        |         SUM(CAST(ROUND(x * y, 16) AS DECIMAL(38,16))) AS sxy
        |  FROM pts)
        |SELECT m AS n_points,
        |       ROUND(CASE WHEN m > 1 AND
        |               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |                 * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) > 0.0
        |             THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
        |                     * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))
        |                  / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |                     * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
        |             END, 8) AS beta,
        |       ROUND(CAST(sy AS DOUBLE) / CAST(m AS DOUBLE) -
        |             (CASE WHEN m > 1 AND
        |               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |                 * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) > 0.0
        |             THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
        |                     * CAST(sy AS DOUBLE) / CAST(m AS DOUBLE))
        |                  / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
        |                     * CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
        |             END) * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)), 8)
        |         AS ln_k
        |FROM mo""".stripMargin)),

    // Sentence-integral training chunks: RE2-portable sentence split,
    // then chunk = ⌊words-before / 40⌋ — sentences never split, the
    // word budget tracked by one doc-partitioned window.
    QuerySpec("q_sent_chunks", (s, dir) => {
      TextAnalysis.sentenceChunks(docs(s, dir), "doc_id", "text",
          maxWords = 40)
        .orderBy("doc_id", "chunk")
    }, Some(
      """WITH s0 AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '[.!?]+\s+'),
        |           x -> trim(x) <> '') AS l
        |  FROM documents),
        |se AS (
        |  SELECT doc_id, i AS pos,
        |         CAST(len(list_filter(string_split_regex(l[i], '\s+'),
        |           x -> x <> '')) AS BIGINT) AS w
        |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
        |        FROM s0)),
        |ch AS (
        |  SELECT doc_id,
        |         CAST((SUM(w) OVER (PARTITION BY doc_id ORDER BY pos
        |                            ROWS UNBOUNDED PRECEDING) - w) // 40
        |              AS BIGINT) AS chunk,
        |         w
        |  FROM se)
        |SELECT doc_id, chunk, COUNT(*) AS n_sentences,
        |       CAST(SUM(w) AS BIGINT) AS n_words
        |FROM ch GROUP BY 1, 2 ORDER BY doc_id, chunk""".stripMargin)),

    // robots.txt crawl-admission decisions (REP, RFC 9309): REAL text
    // parse of per-host robots files — group head runs, exact-agent
    // specificity over '*', longest-prefix match with Allow tie wins —
    // against a synthetic URL set whose expected decisions the oracle
    // recomputes arithmetically (the WARC convention: the parse is
    // real, the facts are formula-derivable).
    QuerySpec("q_robots_txt", (s, dir) => {
      val h = col("doc_id") % 7
      val robots = docs(s, dir).select(h.as("hh")).distinct()
        .select(concat(lit("h"), col("hh")).as("host"),
          concat(
            lit("User-agent: *\nDisallow: /p/\nAllow: /p/open"),
            when(col("hh") % 2 === 0, lit("\nDisallow: /q"))
              .otherwise(lit("")),
            when(col("hh") % 3 === 0,
              lit("\nUser-agent: graftbot\nDisallow: /"))
              .otherwise(lit(""))).as("content"))
      val urls = docs(s, dir).select(
        concat(lit("h"), col("doc_id") % 7).as("host"),
        when(col("doc_id") % 4 === 0,
          concat(lit("/p/x"), col("doc_id")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("/p/open/"), col("doc_id")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("/q"), col("doc_id")))
          .otherwise(concat(lit("/r/"), col("doc_id"))).as("path"))
      graft.engine.Quality.robotsDecisions(robots, "host", "content",
          urls, "host", "path", agent = "graftbot")
        .orderBy("host", "path")
    }, Some(
      """WITH u AS (
        |  SELECT 'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
        |         doc_id % 7 AS h, doc_id % 4 AS m,
        |         CASE doc_id % 4
        |           WHEN 0 THEN '/p/x' || CAST(doc_id AS VARCHAR)
        |           WHEN 1 THEN '/p/open/' || CAST(doc_id AS VARCHAR)
        |           WHEN 2 THEN '/q' || CAST(doc_id AS VARCHAR)
        |           ELSE '/r/' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents)
        |SELECT host, path,
        |       CASE WHEN h % 3 = 0 THEN FALSE
        |            WHEN m = 0 THEN FALSE
        |            WHEN m = 1 THEN TRUE
        |            WHEN m = 2 THEN h % 2 <> 0
        |            ELSE TRUE END AS allowed,
        |       CASE WHEN h % 3 = 0 THEN '/'
        |            WHEN m = 0 THEN '/p/'
        |            WHEN m = 1 THEN '/p/open'
        |            WHEN m = 2 AND h % 2 = 0 THEN '/q'
        |       END AS rule_prefix
        |FROM u ORDER BY host, path""".stripMargin)),

    // URL canonicalization (normalize-before-dedup): REAL map-only
    // string kernels — lowercased scheme/host, default-port strip,
    // fragment drop, tracking-param delete, byte-sorted query — against
    // formula-derivable expected canon forms (the robots convention).
    QuerySpec("q_url_canon", (s, dir) => {
      val m = col("doc_id") % 4
      val url = when(m === 0, concat(lit("HTTPS://WWW.Example.COM:443/Art/"),
          col("doc_id"), lit("?utm_source=feed&b=2&a=1#frag")))
        .when(m === 1, concat(lit("http://example.com:8080/x/"),
          col("doc_id"), lit("?z=9&fbclid=abc")))
        .when(m === 2, concat(lit("https://Example.com/p?a="),
          col("doc_id")))
        .otherwise(lit("HTTP://EXAMPLE.COM:80/?utm_campaign=x"))
      graft.llm.TextAnalysis.canonicalizeUrl(
          docs(s, dir).select(col("doc_id"), url.as("url")), "url")
        .select(col("doc_id"), col("canon_url"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |       CASE doc_id % 4
        |         WHEN 0 THEN 'https://www.example.com/Art/'
        |                     || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
        |         WHEN 1 THEN 'http://example.com:8080/x/'
        |                     || CAST(doc_id AS VARCHAR) || '?z=9'
        |         WHEN 2 THEN 'https://example.com/p?a='
        |                     || CAST(doc_id AS VARCHAR)
        |         ELSE 'http://example.com/' END AS canon_url
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Per-host document cap (the RefinedWeb/CCNet URL-dedup shape: a
    // handful of hosts must not dominate the corpus): deterministic URL
    // per doc (synthetic-payload convention — host facts stay
    // SQL-recomputable), REAL host extraction via Spark's parse_url,
    // then the exactly-k-per-host md5-ordered cap. One shuffle on the
    // host key; the window is per-host, never global.
    QuerySpec("q_url_host_cap", (s, dir) => {
      val withHost = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/"), col("lang"), lit("/doc-"), col("doc_id")))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
      graft.llm.Sampling.samplePerGroup(
          withHost.select("doc_id", "host"), "doc_id", "host", k = 10)
        .orderBy("doc_id")
    }, Some(
      """WITH u AS (
        |  SELECT doc_id, source || '.example.com' AS host FROM documents),
        |h AS (
        |  SELECT doc_id, host,
        |         substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
        |  FROM u),
        |r AS (
        |  SELECT doc_id, host,
        |         ROW_NUMBER() OVER (PARTITION BY host ORDER BY hx, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, host FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin)),

    // Training-mixture assembly: exact per-language document counts
    // (smallest-md5 picks), absent languages contribute nothing, and the
    // zh target (200) exceeds its sf0.001 population — exercising the
    // under-filled-stratum contract at the small scales.
    QuerySpec("q_mix_counts", (s, dir) => {
      graft.llm.Sampling.mixToCounts(
          docs(s, dir).select("doc_id", "lang"), "doc_id", "lang",
          Map("en" -> 100L, "fr" -> 40L, "zh" -> 200L))
        .orderBy("doc_id")
    }, Some(
      """WITH h AS (
        |  SELECT doc_id, lang,
        |         substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8) AS hx
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hx, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, lang FROM r
        |WHERE rn <= CASE lang WHEN 'en' THEN 100 WHEN 'fr' THEN 40
        |                      WHEN 'zh' THEN 200 ELSE 0 END
        |ORDER BY doc_id""".stripMargin)),

    // RAG-style chunking: 16-token windows every 12 tokens (4-token
    // overlap), map-only. Window count and slices are exact integer
    // formulas mirrored by the oracle.
    QuerySpec("q_chunk_overlap", (s, dir) => {
      TextAnalysis.chunkTokens(docs(s, dir), "doc_id", "text",
          size = 16, stride = 12)
        .orderBy("doc_id", "chunk_idx")
    }, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |         1 + CAST(FLOOR(CAST(GREATEST(len(toks) - 16, 0) + 12 - 1 AS DOUBLE)
        |                        / CAST(12 AS DOUBLE)) AS BIGINT) AS n_chunks
        |  FROM t WHERE len(toks) > 0),
        |cx AS (
        |  SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx FROM b)
        |SELECT doc_id, chunk_idx,
        |       array_to_string(toks[(chunk_idx * 12 + 1):(chunk_idx * 12 + 16)],
        |                       ' ') AS chunk_text,
        |       CAST(len(toks[(chunk_idx * 12 + 1):(chunk_idx * 12 + 16)])
        |            AS BIGINT) AS n_tokens
        |FROM cx ORDER BY doc_id, chunk_idx""".stripMargin)),

    // CCNet-style quality score: mean unigram log-probability of each doc
    // under the corpus' own add-one-smoothed unigram LM. Per-token
    // log-probs round to 8dp BEFORE the per-doc mean (pins the ln() ulp,
    // same contract as the KS-test exp); the mean computes in exact 1e-8
    // integer units with half-away integer rounding — a float mean of 8dp
    // values lands on exact rounding ties where engines disagree.
    QuerySpec("q_unigram_logprob", (s, dir) => {
      TextAnalysis.unigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |v AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot, COUNT(*) AS vsz FROM v),
        |lp AS (
        |  SELECT token,
        |         CAST(CAST(ROUND(ln(CAST(cnt + 1 AS DOUBLE)
        |                            / CAST(tot + vsz AS DOUBLE)), 8)
        |                   AS DECIMAL(20,8)) * -100000000 AS BIGINT) AS nlp
        |  FROM v CROSS JOIN t),
        |agg AS (
        |  SELECT tk.doc_id, COUNT(*) AS n_tokens, CAST(SUM(nlp) AS BIGINT) AS a
        |  FROM tk JOIN lp USING (token)
        |  GROUP BY tk.doc_id)
        |SELECT doc_id, n_tokens,
        |       -(CAST((2 * a + n_tokens) // (2 * n_tokens) AS DOUBLE)
        |         / 100000000.0) AS avg_logprob
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // Context-aware tier of q_unigram_logprob: mean bigram logprob under
    // the corpus' own add-one-smoothed bigram LM — word salad with common
    // words passes a unigram filter but scores low here. Bigrams derive
    // map-side from each doc's token array (zip with tail, no positional
    // self-join); same 8dp-ln integer-grid determinism contract.
    QuerySpec("q_bigram_lm", (s, dir) => {
      TextAnalysis.bigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(l)),
        |                i -> l[i] || ' ' || l[i + 1])) AS bigram
        |  FROM tk),
        |lm AS (SELECT bigram, COUNT(*) AS cb FROM bg GROUP BY bigram),
        |hist AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1, CAST(SUM(cb) AS BIGINT) AS ch
        |  FROM lm GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT t) AS vsz
        |      FROM (SELECT unnest(l) AS t FROM tk)),
        |lp AS (
        |  SELECT bigram,
        |         CAST(CAST(ROUND(ln(CAST(cb + 1 AS DOUBLE)
        |                            / CAST(ch + vsz AS DOUBLE)), 8)
        |                   AS DECIMAL(20,8)) * -100000000 AS BIGINT) AS nlp
        |  FROM lm JOIN hist ON split_part(lm.bigram, ' ', 1) = hist.w1
        |  CROSS JOIN v),
        |agg AS (
        |  SELECT bg.doc_id, COUNT(*) AS n_bigrams, CAST(SUM(nlp) AS BIGINT) AS a
        |  FROM bg JOIN lp USING (bigram)
        |  GROUP BY bg.doc_id)
        |SELECT doc_id, n_bigrams,
        |       -(CAST((2 * a + n_bigrams) // (2 * n_bigrams) AS DOUBLE)
        |         / 100000000.0) AS avg_logprob
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // Kneser-Ney tier of q_bigram_lm: interpolated absolute discounting
    // (D = 0.75) with continuation-unigram backoff — the KenLM smoothing
    // family behind CCNet-style perplexity ranking. Same one-bigram-
    // count-table model cost and 8dp-ln integer-grid determinism; the
    // probability is one pinned double expression tree on both engines.
    QuerySpec("q_kn_bigram", (s, dir) => {
      TextAnalysis.knBigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x <> '') AS l
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(l)),
        |                i -> l[i] || ' ' || l[i + 1])) AS bigram
        |  FROM tk),
        |lm AS (
        |  SELECT bigram, COUNT(*) AS cb,
        |         split_part(bigram, ' ', 1) AS w1,
        |         split_part(bigram, ' ', 2) AS w2
        |  FROM bg GROUP BY bigram),
        |hist AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS ch, COUNT(*) AS n1f
        |         FROM lm GROUP BY w1),
        |cont AS (SELECT w2, COUNT(*) AS n1b FROM lm GROUP BY w2),
        |bt AS (SELECT COUNT(*) AS b FROM lm),
        |lp AS (
        |  SELECT bigram,
        |         CAST(CAST(ROUND(ln(
        |                 (CAST(cb AS DOUBLE) - 0.75) / CAST(ch AS DOUBLE)
        |                 + (0.75 * CAST(n1f AS DOUBLE) / CAST(ch AS DOUBLE))
        |                   * (CAST(n1b AS DOUBLE) / CAST(b AS DOUBLE))), 8)
        |              AS DECIMAL(20,8)) * -100000000 AS BIGINT) AS nlp
        |  FROM lm JOIN hist USING (w1) JOIN cont USING (w2) CROSS JOIN bt),
        |agg AS (
        |  SELECT bg.doc_id, COUNT(*) AS n_bigrams, CAST(SUM(nlp) AS BIGINT) AS a
        |  FROM bg JOIN lp USING (bigram)
        |  GROUP BY bg.doc_id)
        |SELECT doc_id, n_bigrams,
        |       -(CAST((2 * a + n_bigrams) // (2 * n_bigrams) AS DOUBLE)
        |         / 100000000.0) AS avg_logprob
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // Probability-proportional-to-size (Poisson/PPS) sampling: each doc
    // kept at rate budget·n_chars/Σn_chars — the quality-weighted
    // subsample step. Exact integer weight total, per-row IEEE rate and
    // in-plan hex threshold; the oracle replays rate + threshold + md5
    // predicate relationally.
    QuerySpec("q_weighted_sample", (s, dir) => {
      graft.llm.Sampling.weightedSample(
          docs(s, dir).select("doc_id", "n_chars"), "doc_id", "n_chars",
          budget = 200L)
        .orderBy("doc_id")
    }, Some(
      """WITH tot AS (
        |  SELECT CAST(SUM(n_chars) AS BIGINT) AS wtot FROM documents),
        |r AS (
        |  SELECT d.doc_id, d.n_chars,
        |         CAST(200 AS DOUBLE) * CAST(d.n_chars AS DOUBLE)
        |           / CAST(t.wtot AS DOUBLE) AS rate
        |  FROM documents d CROSS JOIN tot t),
        |th AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN rate >= 1.0 THEN 'g'
        |              ELSE printf('%08x',
        |                     CAST(LEAST(FLOOR(rate * 4294967296.0 + 0.5),
        |                                4294967295.0) AS BIGINT)) END AS thr
        |  FROM r)
        |SELECT doc_id, n_chars FROM th
        |WHERE substr(md5('wpps|' || CAST(doc_id AS VARCHAR)), 1, 8) < thr
        |ORDER BY doc_id""".stripMargin)),

    // Out-of-vocabulary rate vs the corpus' frequency-thresholded vocab
    // (count ≥ 5): tokenizer-coverage diagnostic; one vocab aggregation +
    // a left join + per-doc exact-count rate.
    QuerySpec("q_oov_rate", (s, dir) => {
      TextAnalysis.oovRate(docs(s, dir), "doc_id", "text", minCount = 5L)
        .orderBy("doc_id")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token FROM tk GROUP BY token HAVING COUNT(*) >= 5),
        |j AS (
        |  SELECT tk.doc_id, (v.token IS NULL) AS oov
        |  FROM tk LEFT JOIN v USING (token))
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Gopher quality rules (Rae et al. 2021): the composite map-only
    // document gate — word count, mean word length, symbol ratio,
    // alphabetic-word fraction, stop-word floor. Ratios are single IEEE
    // divisions of exact integer counts; the oracle replays every rule.
    QuerySpec("q_gopher_rules", (s, dir) => {
      TextAnalysis.gopherRules(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |         CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
        |           / CAST(len(ws) AS DOUBLE) AS mean_word_len,
        |         CAST(len(list_filter(ws, x -> contains(x, '#')
        |                                    OR contains(x, '...'))) AS DOUBLE)
        |           / CAST(len(ws) AS DOUBLE) AS symbol_ratio,
        |         CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
        |              AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS alpha_frac,
        |         CAST(len(list_filter(ws, x ->
        |                list_contains(['the','be','to','of','and','that',
        |                               'have','with'], lower(x)))) AS BIGINT)
        |           AS n_stop
        |  FROM w WHERE len(ws) > 0)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stop,
        |       (n_words >= 30 AND n_words <= 100000
        |        AND mean_word_len >= CAST(3.0 AS DOUBLE)
        |        AND mean_word_len <= CAST(10.0 AS DOUBLE)
        |        AND symbol_ratio <= CAST(0.1 AS DOUBLE)
        |        AND alpha_frac >= CAST(0.8 AS DOUBLE)
        |        AND n_stop >= 2) AS passes
        |FROM f ORDER BY doc_id""".stripMargin)),

    // DSIR hashed importance weights: how much more "en-like" than
    // corpus-like each doc's tokens are — per-bucket target/source
    // log-ratio (8dp-pinned ln, exact 1e-8-grid sums), hashed-trick LMs
    // of 64 cells. The oracle rebuilds both LMs and the ratio table.
    QuerySpec("q_dsir_weights", (s, dir) => {
      TextAnalysis.dsirWeights(docs(s, dir), "doc_id", "text",
          isTarget = col("lang") === "en")
        .orderBy("doc_id")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id, lang = 'en' AS t,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |hb AS (
        |  SELECT doc_id, t,
        |         ((instr('0123456789abcdef', substr(md5('ds|' || token), 1, 1)) - 1) * 16
        |          + (instr('0123456789abcdef', substr(md5('ds|' || token), 2, 1)) - 1))
        |           % 64 AS b
        |  FROM tk),
        |c AS (
        |  SELECT b, COUNT(*) AS sc,
        |         CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS tc
        |  FROM hb GROUP BY b),
        |tt AS (SELECT CAST(SUM(sc) AS BIGINT) AS s,
        |              CAST(SUM(tc) AS BIGINT) AS ttot FROM c),
        |lr AS (
        |  SELECT b,
        |         CAST((CAST(ROUND(ln(CAST(tc + 1 AS DOUBLE)
        |                             / CAST(ttot + 64 AS DOUBLE)), 8)
        |                    AS DECIMAL(20,8))
        |             - CAST(ROUND(ln(CAST(sc + 1 AS DOUBLE)
        |                             / CAST(s + 64 AS DOUBLE)), 8)
        |                    AS DECIMAL(20,8))) * 100000000 AS BIGINT) AS lr
        |  FROM c CROSS JOIN tt),
        |agg AS (
        |  SELECT hb.doc_id, COUNT(*) AS n_tokens, CAST(SUM(lr.lr) AS BIGINT) AS a
        |  FROM hb JOIN lr USING (b) GROUP BY hb.doc_id)
        |SELECT doc_id, n_tokens, CAST(a AS DOUBLE) / 100000000.0 AS log_ratio
        |FROM agg ORDER BY doc_id""".stripMargin)),

    // Temperature-flattened mixture (tau = 0.5): per-language sampling
    // rates ∝ √n_lang redistribute a 300-doc budget toward small
    // languages; md5-threshold row selection, exact fixed-point weights,
    // saturating rates — the oracle re-derives rate and hex threshold
    // relationally.
    QuerySpec("q_temperature_mix", (s, dir) => {
      graft.llm.Sampling.temperatureMix(
          docs(s, dir).select("doc_id", "lang"), "doc_id", "lang",
          budget = 300L)
        .orderBy("doc_id")
    }, Some(
      """WITH n AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |wt AS (SELECT lang, n,
        |             CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
        |      FROM n),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS wtot FROM wt),
        |r AS (SELECT lang,
        |             CAST(300 AS DOUBLE) * CAST(w AS DOUBLE)
        |               / wtot / CAST(n AS DOUBLE) AS rate
        |      FROM wt CROSS JOIN tot),
        |th AS (SELECT lang,
        |              CASE WHEN rate >= 1.0 THEN 'g'
        |                   ELSE printf('%08x',
        |                          CAST(LEAST(FLOOR(rate * 4294967296.0 + 0.5),
        |                                     4294967295.0) AS BIGINT)) END AS thr
        |       FROM r)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN th USING (lang)
        |WHERE substr(md5('tmix|' || CAST(doc_id AS VARCHAR)), 1, 8) < thr
        |ORDER BY doc_id""".stripMargin)),

    // Deterministic train/val/test split by hash range: stable under
    // reruns and consistent across tables sharing the key. Thresholds are
    // the engine's hexThreshold(0.8)/(0.9) cut points.
    QuerySpec("q_train_split", (s, dir) => {
      graft.llm.Sampling.assignSplit(docs(s, dir).select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |       CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)
        |                 < 'cccccccd' THEN 'train'
        |            WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)
        |                 < 'e6666666' THEN 'val'
        |            ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // HTML → text extraction over deterministically-wrapped documents
    // (script/comment/tag strip, entity unescape, whitespace collapse):
    // the crawl-pipeline step after q_warc_meta. Map-only codegen'd
    // regexp chain; the oracle replays every RE2-compatible pattern.
    QuerySpec("q_html_extract", (s, dir) => {
      val html = concat(
        lit("<html><head><script>var x=1;</script><title>T"),
        col("doc_id"), lit("</title></head><body><p>"), col("text"),
        lit(" &amp; fin</p><!-- crawl meta --></body></html>"))
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.htmlToText(html).as("extracted"))
        .withColumn("n_chars", length(col("extracted")).cast("long"))
        .orderBy("doc_id")
    }, Some(
      """WITH h AS (
        |  SELECT doc_id,
        |         '<html><head><script>var x=1;</script><title>T'
        |           || CAST(doc_id AS VARCHAR)
        |           || '</title></head><body><p>' || text
        |           || ' &amp; fin</p><!-- crawl meta --></body></html>'
        |           AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(
        |           replace(replace(replace(replace(replace(replace(
        |             regexp_replace(
        |               regexp_replace(
        |                 regexp_replace(
        |                   regexp_replace(html,
        |                     '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |                   '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |                 '(?s)<!--.*?-->', ' ', 'g'),
        |               '<[^>]*>', ' ', 'g'),
        |             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |             '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |           '[ \t\n\r\f\x0B]+', ' ', 'g')) AS extracted
        |  FROM h)
        |SELECT doc_id, extracted,
        |       CAST(length(extracted) AS BIGINT) AS n_chars
        |FROM x ORDER BY doc_id""".stripMargin)),

    // TextRank keywords: PageRank (3 damped rounds, exact 2^30 fixed
    // point) over the distinct adjacent-word co-occurrence graph,
    // undirected; top-20 by 8dp-rounded rank. The oracle unrolls the
    // identical integer solve with words as node keys (ranks are
    // id-invariant, so the engine's dense word index is transparent).
    QuerySpec("q_textrank", (s, dir) => {
      TextAnalysis.textRank(docs(s, dir), "text", iters = 3, k = 20)
    }, Some {
      val S = "CAST(1073741824 AS BIGINT)"
      val rounds = (1 to 3).map { r =>
        val prev = s"r${r - 1}"
        s"""c$r AS (
           |  SELECT e.dst AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS s
           |  FROM e JOIN deg d ON d.src = e.src
           |  JOIN $prev r ON r.node = e.src
           |  GROUP BY e.dst),
           |r$r AS (
           |  SELECT nodes.node,
           |         CAST((3 * $S) // (20 * nn.n)
           |              + (17 * COALESCE(c.s, 0)) // 20 AS BIGINT) AS r
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN c$r c ON c.node = nodes.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS (
         |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                     x -> x <> '') AS l
         |  FROM documents),
         |pr AS (
         |  SELECT DISTINCT l[i] AS w1, l[i + 1] AS w2
         |  FROM tok, UNNEST(range(1, len(l))) AS t(i)
         |  WHERE l[i] <> l[i + 1]),
         |e AS (SELECT w1 AS src, w2 AS dst FROM pr
         |      UNION SELECT w2, w1 FROM pr),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |r0 AS (SELECT node, CAST($S // nn.n AS BIGINT) AS r
         |       FROM nodes CROSS JOIN nn),
         |$rounds
         |SELECT node AS word,
         |       ROUND(CAST(r AS DOUBLE) / 1073741824.0, 8) AS rank
         |FROM r3 ORDER BY rank DESC, word LIMIT 20""".stripMargin
    }),

    // χ² feature selection (SelectKBest shape): top-20 terms by the 2×2
    // presence×label contingency χ² against the English-language label.
    // Products cast double BEFORE multiplying; χ² rounded BEFORE the
    // rank so the top-k boundary is portable.
    QuerySpec("q_chi2_select", (s, dir) => {
      TextAnalysis.chi2Select(docs(s, dir), "doc_id", "text",
        col("lang") === "en", k = 20)
    }, Some(
      """WITH d AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |tok AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id,
        |           unnest(list_filter(string_split_regex(lower(text),
        |             '[^a-z0-9]+'), x -> x <> '')) AS term
        |    FROM documents)),
        |tot AS (SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS p FROM d),
        |per AS (
        |  SELECT term, COUNT(*) AS df, CAST(SUM(y) AS BIGINT) AS n11
        |  FROM tok JOIN d USING (doc_id) GROUP BY term),
        |x AS (
        |  SELECT term, df, n11, n, p, df - n11 AS n10, p - n11 AS n01,
        |         (n - p) - (df - n11) AS n00
        |  FROM per CROSS JOIN tot),
        |c AS (
        |  SELECT term, df, n11,
        |         CASE WHEN CAST(df AS DOUBLE) * CAST(n - df AS DOUBLE)
        |                   * CAST(p AS DOUBLE) * CAST(n - p AS DOUBLE)
        |                   > 0.0
        |              THEN ROUND(CAST(n AS DOUBLE)
        |                   * (CAST(n11 AS DOUBLE) * CAST(n00 AS DOUBLE)
        |                      - CAST(n10 AS DOUBLE) * CAST(n01 AS DOUBLE))
        |                   * (CAST(n11 AS DOUBLE) * CAST(n00 AS DOUBLE)
        |                      - CAST(n10 AS DOUBLE) * CAST(n01 AS DOUBLE))
        |                   / (CAST(df AS DOUBLE) * CAST(n - df AS DOUBLE)
        |                      * CAST(p AS DOUBLE)
        |                      * CAST(n - p AS DOUBLE)), 8)
        |         END AS chi2
        |  FROM x)
        |SELECT term, df, n11, chi2 FROM c WHERE chi2 IS NOT NULL
        |ORDER BY chi2 DESC, term LIMIT 20""".stripMargin)),

    // Balanced inverse-frequency class weights (w_c = n/(k·n_c)) over
    // the document sources — the weighting flavor of imbalance
    // correction; one count aggregation, class-cardinality output.
    QuerySpec("q_class_weights", (s, dir) => {
      graft.llm.Sampling.classWeights(docs(s, dir), "source")
        .orderBy("source")
    }, Some(
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n FROM documents
        |  WHERE source IS NOT NULL GROUP BY source),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot, COUNT(*) AS k FROM c)
        |SELECT source, n,
        |       ROUND(CAST(tot AS DOUBLE)
        |             / (CAST(k AS DOUBLE) * CAST(n AS DOUBLE)), 8) AS weight
        |FROM c CROSS JOIN t ORDER BY source""".stripMargin)),

    // Deterministic minority oversampling: each event type replicated
    // ceil(max_n/n_c) times (exact integer ceil-div) — the replication
    // flavor of imbalance correction; broadcast factor map-back +
    // map-side explode, no fact shuffle.
    QuerySpec("q_oversample", (s, dir) => {
      graft.llm.Sampling.oversample(
          t(s, dir, "events").select("event_id", "event_type"),
          "event_type")
        .select("event_id", "event_type", "copy")
        .orderBy("event_id", "copy")
    }, Some(
      """WITH c AS (
        |  SELECT event_type, COUNT(*) AS n FROM events
        |  WHERE event_type IS NOT NULL GROUP BY event_type),
        |mx AS (SELECT MAX(n) AS m FROM c),
        |f AS (SELECT event_type, (m + n - 1) // n AS fac
        |      FROM c CROSS JOIN mx)
        |SELECT event_id, event_type, copy FROM (
        |  SELECT e.event_id, e.event_type,
        |         unnest(range(0, f.fac)) AS copy
        |  FROM events e JOIN f USING (event_type))
        |ORDER BY event_id, copy""".stripMargin)),

    // Deterministic uniform negative sampling (contrastive/two-tower
    // training): k=2 md5-uniform catalog draws per distinct
    // (customer, part) positive, mapped through a dense rank over the
    // part catalog (any id space samples uniformly), observed positives
    // anti-joined away — collision-dropped, never redrawn.
    QuerySpec("q_neg_sample", (s, dir) => {
      val pos = t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .join(t(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("user_id"),
          col("l_partkey").as("item_id"))
      graft.llm.Sampling.negativeSample(pos, "user_id", "item_id",
          t(s, dir, "part"), "p_partkey", k = 2)
        .orderBy("user_id", "item_id", "draw")
    }, Some(
      """WITH pos AS (
        |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cat AS (
        |  SELECT item, ROW_NUMBER() OVER (ORDER BY item) - 1 AS rk
        |  FROM (SELECT DISTINCT p_partkey AS item FROM part)),
        |nc AS (SELECT COUNT(*) AS n FROM cat),
        |draws AS (
        |  SELECT user_id, item_id, i.i AS draw,
        |         CAST(CAST(concat('0x', substr(md5('neg|'
        |                || CAST(user_id AS VARCHAR) || '|'
        |                || CAST(item_id AS VARCHAR) || '|'
        |                || CAST(i.i AS VARCHAR)), 1, 8)) AS UBIGINT)
        |              AS BIGINT) % (SELECT n FROM nc) AS rk
        |  FROM pos CROSS JOIN (SELECT unnest(range(0, 2)) AS i) i),
        |cand AS (
        |  SELECT user_id, item_id, draw, cat.item AS neg_item
        |  FROM draws JOIN cat USING (rk))
        |SELECT user_id, item_id, CAST(draw AS BIGINT) AS draw, neg_item
        |FROM cand c
        |WHERE NOT EXISTS (SELECT 1 FROM pos p
        |                  WHERE p.user_id = c.user_id
        |                    AND p.item_id = c.neg_item)
        |ORDER BY user_id, item_id, draw""".stripMargin)),

    // Deterministic 5-fold cross-validation assignment: equal hash-range
    // slices of the same md5-uniform key the train/val/test split uses —
    // map-only, stable under reruns, consistent across tables sharing the
    // key. Thresholds below are the engine's own hexThreshold cut points.
    QuerySpec("q_kfold", (s, dir) => {
      graft.llm.Sampling.kfold(docs(s, dir).select("doc_id"), "doc_id", k = 5)
        .orderBy("doc_id")
    }, Some {
      val cum = (1 to 4).scanLeft(0.0)((acc, _) => acc + 1.0 / 5).tail
      val cuts = cum.map(graft.llm.Sampling.hexThreshold)
      s"""SELECT doc_id,
         |       CASE WHEN substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 8)
         |                 < '${cuts(0)}' THEN 0
         |            WHEN substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 8)
         |                 < '${cuts(1)}' THEN 1
         |            WHEN substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 8)
         |                 < '${cuts(2)}' THEN 2
         |            WHEN substr(md5('fold|' || CAST(doc_id AS VARCHAR)), 1, 8)
         |                 < '${cuts(3)}' THEN 3
         |            ELSE 4 END AS fold
         |FROM documents ORDER BY doc_id""".stripMargin
    }),

    // Sparse TF-IDF cosine pairs over an inverted index: dot products
    // accumulate only over SHARED rare terms (df-capped posting lists —
    // the same maxDf contract as the winnowing candidates), norms over the
    // same pruned term space, all sums exact integers/decimals. Terms are
    // word 3-GRAMS: this corpus' unigram vocabulary is ~31 words (every
    // word df ≫ any sane cap), but shared PHRASES have the rare tail the
    // inverted index needs — the lexical complement of the
    // embedding-cosine tier.
    QuerySpec("q_tfidf_cosine", (s, dir) => {
      graft.llm.TextAnalysis.tfidfCosinePairs(docs(s, dir), "doc_id", "text",
          maxDf = 20L, minCos = 0.15, n = 3)
        .orderBy("id1", "id2")
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x <> '') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(t) >= 3
        |                     THEN list_transform(range(1, len(t) - 1),
        |                            i -> array_to_string(list_slice(t, i, i + 2), ' '))
        |                     ELSE [] END) AS word
        |  FROM toks),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
        |dfreq AS (SELECT word, COUNT(*) AS df FROM tf
        |          GROUP BY word HAVING COUNT(*) <= 20),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |w AS (SELECT doc_id, word,
        |             CAST(CAST(ROUND(tf * ln(CAST(n_docs AS DOUBLE)
        |                                     / CAST(df AS DOUBLE)), 8)
        |                       AS DECIMAL(20,8)) * 100000000 AS BIGINT) AS wi
        |      FROM tf JOIN dfreq USING (word) CROSS JOIN n),
        |nrm AS (SELECT doc_id,
        |               SUM(CAST(wi AS DECIMAL(19,0)) * CAST(wi AS DECIMAL(19,0)))
        |                 AS n2
        |        FROM w GROUP BY doc_id
        |        HAVING SUM(CAST(wi AS DECIMAL(19,0)) * CAST(wi AS DECIMAL(19,0))) > 0),
        |d AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |             SUM(CAST(a.wi AS DECIMAL(19,0)) * CAST(b.wi AS DECIMAL(19,0)))
        |               AS dot
        |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id1, id2, cos FROM (
        |  SELECT id1, id2,
        |         ROUND(CAST(d.dot AS DOUBLE) /
        |               (sqrt(CAST(x.n2 AS DOUBLE)) * sqrt(CAST(y.n2 AS DOUBLE))),
        |               8) AS cos
        |  FROM d JOIN nrm x ON x.doc_id = d.id1 JOIN nrm y ON y.doc_id = d.id2)
        |WHERE cos >= 0.15 ORDER BY id1, id2""".stripMargin)),

    // Jensen–Shannon divergence between the en and fr token
    // distributions — the corpus-drift / mixture-QA measure (0 =
    // identical language, ln 2 = disjoint vocabularies; symmetric,
    // always finite). One conditional-sum count aggregation, ln ratios
    // double-before-multiply on the 8dp grid, exact-count weights in
    // DECIMAL(38,8) — the mutual-information discipline.
    QuerySpec("q_js_divergence", (s, dir) => {
      graft.llm.TextAnalysis.jsDivergence(docs(s, dir), "text", "lang",
        "en", "fr")
    }, Some(
      """WITH toks AS (
        |  SELECT lang AS g,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            x -> x <> '')) AS token
        |  FROM documents WHERE lang IN ('en', 'fr')),
        |c AS (SELECT token,
        |             CAST(SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |             CAST(SUM(CASE WHEN g = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |      FROM toks GROUP BY token),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |             CAST(SUM(c2) AS BIGINT) AS n2,
        |             COUNT(*) AS vocab
        |      FROM c),
        |terms AS (
        |  SELECT t.n1, t.n2, t.vocab,
        |         CASE WHEN c1 > 0 THEN CAST(CAST(ROUND(ln(
        |                  CAST(2.0 AS DOUBLE) * CAST(c1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                  / (CAST(c1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                     + CAST(c2 AS DOUBLE) * CAST(n1 AS DOUBLE))), 8)
        |                AS DECIMAL(10,8)) * CAST(c1 AS DECIMAL(19,0))
        |              AS DECIMAL(38,8))
        |              ELSE CAST(0 AS DECIMAL(38,8)) END AS ta,
        |         CASE WHEN c2 > 0 THEN CAST(CAST(ROUND(ln(
        |                  CAST(2.0 AS DOUBLE) * CAST(c2 AS DOUBLE) * CAST(n1 AS DOUBLE)
        |                  / (CAST(c1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                     + CAST(c2 AS DOUBLE) * CAST(n1 AS DOUBLE))), 8)
        |                AS DECIMAL(10,8)) * CAST(c2 AS DECIMAL(19,0))
        |              AS DECIMAL(38,8))
        |              ELSE CAST(0 AS DECIMAL(38,8)) END AS tb
        |  FROM c CROSS JOIN t)
        |SELECT n1, n2, vocab,
        |       ROUND((CAST(SUM(ta) AS DOUBLE) / CAST(n1 AS DOUBLE)
        |              + CAST(SUM(tb) AS DOUBLE) / CAST(n2 AS DOUBLE))
        |             / CAST(2.0 AS DOUBLE), 8) AS jsd
        |FROM terms GROUP BY n1, n2, vocab""".stripMargin)),

    // Per-source drift leaderboard: JSD of every source against the rest
    // of the corpus in ONE plan (a per-source loop would rescan the
    // corpus per source). Tokens absent from a source fold in
    // analytically (q/m = 2 exactly ⇒ round8(ln 2)·missing-mass), added
    // in DOUBLE with identical operation order on both engines.
    QuerySpec("q_js_drift", (s, dir) => {
      graft.llm.TextAnalysis.jsDriftByGroup(docs(s, dir), "text", "source")
    }, Some {
      val ln2 = BigDecimal(math.log(2.0))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
      s"""WITH toks AS (
         |  SELECT source AS g,
         |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                            x -> x <> '')) AS token
         |  FROM documents),
         |pg AS (SELECT g, token, COUNT(*) AS cg FROM toks GROUP BY g, token),
         |pt AS (SELECT token, CAST(SUM(cg) AS BIGINT) AS ct FROM pg GROUP BY token),
         |gt AS (SELECT g, CAST(SUM(cg) AS BIGINT) AS ng FROM pg GROUP BY g),
         |tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS nn FROM gt),
         |j AS (SELECT pg.g, pg.cg, pt.ct - pg.cg AS c2, gt.ng,
         |             tot.nn - gt.ng AS n2
         |      FROM pg JOIN pt USING (token) JOIN gt USING (g) CROSS JOIN tot),
         |sums AS (
         |  SELECT g, ng, n2,
         |         SUM(CASE WHEN cg > 0 THEN CAST(CAST(ROUND(ln(
         |                CAST(2.0 AS DOUBLE) * CAST(cg AS DOUBLE) * CAST(n2 AS DOUBLE)
         |                / (CAST(cg AS DOUBLE) * CAST(n2 AS DOUBLE)
         |                   + CAST(c2 AS DOUBLE) * CAST(ng AS DOUBLE))), 8)
         |              AS DECIMAL(10,8)) * CAST(cg AS DECIMAL(19,0))
         |              AS DECIMAL(38,8)) ELSE CAST(0 AS DECIMAL(38,8)) END) AS a,
         |         SUM(CASE WHEN c2 > 0 THEN CAST(CAST(ROUND(ln(
         |                CAST(2.0 AS DOUBLE) * CAST(c2 AS DOUBLE) * CAST(ng AS DOUBLE)
         |                / (CAST(cg AS DOUBLE) * CAST(n2 AS DOUBLE)
         |                   + CAST(c2 AS DOUBLE) * CAST(ng AS DOUBLE))), 8)
         |              AS DECIMAL(10,8)) * CAST(c2 AS DECIMAL(19,0))
         |              AS DECIMAL(38,8)) ELSE CAST(0 AS DECIMAL(38,8)) END) AS bseen,
         |         CAST(SUM(c2) AS BIGINT) AS c2seen
         |  FROM j GROUP BY g, ng, n2)
         |SELECT g AS source, ng AS n_g,
         |       CASE WHEN ng > 0 AND n2 > 0 THEN
         |         ROUND((CAST(a AS DOUBLE) / CAST(ng AS DOUBLE)
         |                + (CAST(bseen AS DOUBLE)
         |                   + CAST($ln2 AS DOUBLE) * CAST(n2 - c2seen AS DOUBLE))
         |                  / CAST(n2 AS DOUBLE)) / CAST(2.0 AS DOUBLE), 8)
         |            END AS jsd
         |FROM sums ORDER BY jsd DESC, source""".stripMargin
    }),

    // Gopher duplicate-3-gram fraction: share of n-gram occurrences that
    // repeat an earlier one within the same doc — catches phrase-level
    // boilerplate the max-token repetition ratio misses. Map-side partial
    // aggregations only; per-doc state is its distinct-gram set.
    QuerySpec("q_dup_ngram_frac", (s, dir) => {
      graft.llm.TextAnalysis.dupNgramFraction(docs(s, dir), "doc_id", "text",
          n = 3)
        .orderBy("doc_id")
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x <> '') AS t
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |         unnest(CASE WHEN len(t) >= 3
        |                     THEN list_transform(range(1, len(t) - 1),
        |                            i -> array_to_string(list_slice(t, i, i + 2), ' '))
        |                     ELSE [] END) AS g
        |  FROM toks),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM tok GROUP BY doc_id, g)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_ngrams,
        |       CAST(SUM(c - 1) AS BIGINT) AS n_dup,
        |       ROUND(CAST(SUM(c - 1) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 8)
        |         AS dup_ngram_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Contiguous sequence packing (concat-and-cut loader shape): docs are
    // md5-shuffled into 4 hash shards, concatenated per shard, and cut at
    // 2048-length-unit boundaries (here n_chars as the length unit). Each
    // doc gets the pack it starts in + its offset — the export-edge step
    // that turns a corpus into fixed-size training sequences.
    QuerySpec("q_pack_sequences", (s, dir) => {
      graft.llm.Sampling.packSequences(
          docs(s, dir).select("doc_id", "n_chars"), "doc_id", "n_chars",
          seqLen = 2048, numShards = 4)
        .orderBy("doc_id")
    }, Some(
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |         md5('pack|' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n_chars,
        |         CAST(((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16 +
        |               (instr('0123456789abcdef', substr(hx, 2, 1)) - 1)) % 4
        |              AS INT) AS shard,
        |         substr(hx, 3, 8) AS ord
        |  FROM h),
        |c AS (
        |  SELECT doc_id, shard,
        |         SUM(n_chars) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |                            ROWS UNBOUNDED PRECEDING) - n_chars AS st
        |  FROM s)
        |SELECT doc_id, shard,
        |       CAST(FLOOR(st / 2048.0) AS BIGINT) AS pack_id,
        |       CAST(st % 2048 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Boilerplate line removal. The synthetic corpus is single-line, so
    // the query stamps every doc with a shared header/footer (the web-page
    // nav/copyright shape) around its unique body, then strips lines
    // occurring in ≥ 30 distinct docs — header and footer vanish, bodies
    // survive byte-identical, order preserved.
    QuerySpec("q_boilerplate", (s, dir) => {
      val stamped = docs(s, dir).select(col("doc_id"),
        concat(lit("nav home about contact\n"), col("text"),
          lit("\ncopyright 2024 example corp")).as("text"))
      TextAnalysis.stripBoilerplate(stamped, "doc_id", "text", minDocs = 30)
        .orderBy("doc_id")
    }, Some(
      """WITH stamped AS (
        |  SELECT doc_id,
        |         'nav home about contact' || chr(10) || text || chr(10) ||
        |         'copyright 2024 example corp' AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |         unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos,
        |         unnest(string_split(t, chr(10))) AS line
        |  FROM stamped),
        |freq AS (
        |  SELECT line FROM (
        |    SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY line)
        |  WHERE nd >= 30),
        |kept AS (
        |  SELECT doc_id, pos, line FROM lines
        |  WHERE line NOT IN (SELECT line FROM freq))
        |SELECT s.doc_id,
        |       COALESCE(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS clean_text
        |FROM stamped s LEFT JOIN kept k USING (doc_id)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // PII redaction. The synthetic corpus has no PII, so the query stamps
    // deterministic email/phone/id fragments into each doc (same
    // derivation on both engines), then scrubs them — exercising all
    // three rules: email first, phone-shaped runs, then bare 6+ digit ids.
    QuerySpec("q_redact_pii", (s, dir) => {
      val stamped = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org or +33 "), (col("doc_id") % 10).cast("string"),
        lit(" 12 34 56 78 ref "), (col("doc_id") * col("doc_id")).cast("string"))
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.redactPii(stamped).as("clean_text"))
        .orderBy("doc_id")
    }, Some(
      """WITH stamped AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@mail.example.org or +33 ' || CAST(doc_id % 10 AS VARCHAR) ||
        |         ' 12 34 56 78 ref ' || CAST(doc_id * doc_id AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(
        |           regexp_replace(t,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '[+(]?[0-9]{1,4}([ ()./-]+[0-9]{1,4}){2,}', '<PHONE>', 'g'),
        |         '[0-9]{6,}', '<ID>', 'g') AS clean_text
        |FROM stamped ORDER BY doc_id""".stripMargin)),

    // Token repetition ratio (boilerplate/spam signal): the explode
    // pre-aggregates per distinct (doc, token) so the shuffle is
    // vocabulary-bounded.
    QuerySpec("q_repetition", (s, dir) => {
      TextAnalysis.repetitionRatio(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                            x -> x <> '')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS n FROM tok GROUP BY doc_id, word)
        |SELECT doc_id, MAX(n) AS max_token_freq,
        |       CAST(SUM(n) AS BIGINT) AS n_tokens,
        |       ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 8) AS repetition_ratio
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Hashing-trick featurization: token -> md5-byte bucket mod 64,
    // sparse per-doc tf vector of fixed dimension (no vocabulary table —
    // the featurizer for linear quality classifiers at corpus scale).
    QuerySpec("q_feature_hash", (s, dir) => {
      TextAnalysis.featureHash(docs(s, dir), "doc_id", "text", dim = 64)
        .orderBy("doc_id", "bucket")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |hb AS (
        |  SELECT doc_id,
        |         ((instr('0123456789abcdef', substr(md5('fh|' || token), 1, 1)) - 1) * 16
        |          + (instr('0123456789abcdef', substr(md5('fh|' || token), 2, 1)) - 1))
        |           % 64 AS bucket
        |  FROM tk)
        |SELECT doc_id, bucket, COUNT(*) AS tf
        |FROM hb GROUP BY doc_id, bucket
        |ORDER BY doc_id, bucket""".stripMargin)),

    // Corpus-level per-language length-band gate (percent_rank is value-
    // based, so equal lengths land on the same side of the cut anywhere).
    QuerySpec("q_length_band", (s, dir) => {
      TextAnalysis.lengthBand(docs(s, dir), "doc_id", "text", "lang",
          lo = 0.05, hi = 0.95)
        .orderBy("doc_id")
    }, Some(
      """WITH pr AS (
        |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
        |         ROUND(PERCENT_RANK() OVER (PARTITION BY lang
        |                                    ORDER BY length(text)), 8) AS len_pr
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, len_pr FROM pr
        |WHERE len_pr >= 0.05 AND len_pr <= 0.95
        |ORDER BY doc_id""".stripMargin)),

    // Linear-classifier inference over hashed features (the fastText/
    // CCNet quality-filter scoring sweep): dim-row weight table
    // broadcast, margin accumulated in INTEGER 2⁻¹⁶ units — exact, no
    // float dot-product drift, no transcendentals (sigmoid is monotone,
    // so the margin threshold IS the decision). Weights here are the
    // md5-derived fixture vector; production swaps in a trained vector
    // through the same (bucket, w_unit) contract.
    QuerySpec("q_linear_score", (s, dir) => {
      val feats = TextAnalysis.featureHash(docs(s, dir), "doc_id", "text",
        dim = 64)
      graft.llm.LinearModel.score(feats,
          graft.llm.LinearModel.fixtureWeights(s, 64), "doc_id")
        .orderBy("doc_id")
    }, Some {
      def hx(i: Int) = s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1)"
      s"""WITH tk AS (
         |  SELECT doc_id,
         |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                x -> x <> '')) AS token
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id,
         |         ((instr('0123456789abcdef', substr(md5('fh|' || token), 1, 1)) - 1) * 16
         |          + (instr('0123456789abcdef', substr(md5('fh|' || token), 2, 1)) - 1))
         |           % 64 AS bucket,
         |         COUNT(*) AS tf
         |  FROM tk GROUP BY doc_id, bucket),
         |wh AS (SELECT i AS bucket, md5('lw|' || i) AS h FROM range(64) t(i)),
         |w AS (SELECT bucket,
         |             ${hx(1)} * 4096 + ${hx(2)} * 256
         |             + ${hx(3)} * 16 + ${hx(4)} - 32768 AS w_unit
         |      FROM wh),
         |m AS (SELECT doc_id, SUM(tf * w_unit) AS mu
         |      FROM tf JOIN w USING (bucket) GROUP BY doc_id)
         |SELECT doc_id, CAST(mu AS DOUBLE) / 65536.0 AS margin,
         |       CASE WHEN mu > 0 THEN 1 ELSE 0 END AS label
         |FROM m ORDER BY doc_id""".stripMargin
    }),

    // Vocabulary coverage curve: smallest frequency-ranked vocab prefix
    // covering 50/90/95/99% of token occurrences — the "how big must
    // the tokenizer vocab be" planning input (q_oov_rate measures a
    // chosen vocab; this chooses one). Integer-exact crossings.
    QuerySpec("q_vocab_coverage", (s, dir) => {
      TextAnalysis.vocabCoverage(docs(s, dir), "text",
          thresholds = Seq(50, 90, 95, 99))
        .orderBy("threshold_pct")
    }, Some(
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |v AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token),
        |r AS (
        |  SELECT token, cnt,
        |         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk,
        |         SUM(cnt) OVER (ORDER BY cnt DESC, token
        |                        ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM v),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
        |             COUNT(*) AS total_vocab FROM v),
        |th AS (SELECT unnest([50, 90, 95, 99]) AS threshold_pct)
        |SELECT th.threshold_pct, CAST(MIN(r.rnk) AS BIGINT) AS vocab_size,
        |       MAX(t.total_vocab) AS total_vocab,
        |       MAX(t.total_tokens) AS total_tokens
        |FROM r CROSS JOIN t CROSS JOIN th
        |WHERE cum * 100 >= th.threshold_pct * t.total_tokens
        |GROUP BY th.threshold_pct
        |ORDER BY th.threshold_pct""".stripMargin)),

    // Flesch-Kincaid grade per doc: the classic readability screen as a
    // cheap curation feature — fragment soup scores too low, OCR
    // garbage/legalese too high. Deterministic regex heuristics
    // (sentence = [.!?]+ runs, syllable = vowel groups), map-only.
    QuerySpec("q_readability", (s, dir) => {
      TextAnalysis.readability(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Some(
      """WITH b AS (
        |  SELECT doc_id,
        |         GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
        |           AS n_sentences,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x <> '') AS tk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
        |         CAST(len(tk) AS BIGINT) AS n_words,
        |         CAST(list_reduce(list_prepend(0, list_transform(tk,
        |                t -> GREATEST(1, len(regexp_extract_all(t, '[aeiouy]+'))))),
        |              (a, x) -> a + x) AS BIGINT) AS n_syllables
        |  FROM b)
        |SELECT doc_id, n_sentences, n_words, n_syllables,
        |       CASE WHEN n_words > 0
        |            THEN ROUND(0.39 * (CAST(n_words AS DOUBLE)
        |                               / CAST(n_sentences AS DOUBLE))
        |                       + 11.8 * (CAST(n_syllables AS DOUBLE)
        |                                 / CAST(n_words AS DOUBLE))
        |                       - 15.59, 8) END AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Zipf-law fit per source: OLS slope of ln(freq) vs ln(rank) over
    // each source's top-100 tokens — the corpus-health screen (natural
    // text sits near slope -1; template floods flatten the head). One
    // (source, token) count, a bounded rank window, then a closed-form
    // fit on the 8dp-ln decimal grid.
    QuerySpec("q_zipf_fit", (s, dir) => {
      TextAnalysis.zipfFit(docs(s, dir), "text", "source", topN = 100)
        .orderBy("source")
    }, Some(
      """WITH tk AS (
        |  SELECT source,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, COUNT(*) AS cnt
        |      FROM tk GROUP BY source, token),
        |r AS (
        |  SELECT source, cnt,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY cnt DESC, token) AS rnk
        |  FROM c),
        |g AS (
        |  SELECT source,
        |         CAST(ROUND(ln(CAST(rnk AS DOUBLE)), 8) AS DECIMAL(12,8)) AS x,
        |         CAST(ROUND(ln(CAST(cnt AS DOUBLE)), 8) AS DECIMAL(12,8)) AS y
        |  FROM r WHERE rnk <= 100),
        |m AS (
        |  SELECT source, COUNT(*) AS n_ranks, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM g GROUP BY source),
        |d AS (
        |  SELECT source, n_ranks, CAST(n_ranks AS DOUBLE) AS nd,
        |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |         CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd
        |  FROM m)
        |SELECT source, n_ranks,
        |       CASE WHEN nd*sxxd - sxd*sxd > 0.0
        |            THEN ROUND((nd*sxyd - sxd*syd) / (nd*sxxd - sxd*sxd), 8)
        |            END AS zipf_slope,
        |       CASE WHEN nd*sxxd - sxd*sxd > 0.0
        |            THEN ROUND((syd - (nd*sxyd - sxd*syd)
        |                              / (nd*sxxd - sxd*sxd) * sxd) / nd, 8)
        |            END AS intercept
        |FROM d ORDER BY source""".stripMargin)),

    // Trained-from-the-corpus dual of q_linear_score: multinomial naive
    // Bayes (Laplace add-one) self-trained on the source label, scoring
    // every doc — provenance verification by content. Model = two
    // vocab-sized aggregations; scoring crosses doc tf rows with the
    // small label set; per-token 8dp-ln grid keeps the argmax integer-
    // exact on both engines.
    QuerySpec("q_naive_bayes", (s, dir) => {
      graft.llm.NaiveBayes.trainScore(docs(s, dir), "doc_id", "text",
          "source")
        .orderBy("doc_id")
    }, Some(
      """WITH tk AS (
        |  SELECT doc_id, source AS lbl,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token),
        |ctl AS (SELECT token, lbl, COUNT(*) AS ctl FROM tk GROUP BY token, lbl),
        |cl AS (SELECT lbl, CAST(SUM(ctl) AS BIGINT) AS cl FROM ctl GROUP BY lbl),
        |v AS (SELECT COUNT(DISTINCT token) AS vsz FROM tf),
        |nd AS (SELECT source AS lbl, COUNT(*) AS nl FROM documents GROUP BY source),
        |nt AS (SELECT COUNT(*) AS n FROM documents),
        |pri AS (
        |  SELECT lbl,
        |         CAST(CAST(ROUND(ln(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)), 8)
        |              AS DECIMAL(20,8)) * -100000000 AS BIGINT) AS prior
        |  FROM nd CROSS JOIN nt),
        |dim AS (SELECT cl.lbl, cl.cl, pri.prior, v.vsz
        |        FROM cl JOIN pri USING (lbl) CROSS JOIN v),
        |sc AS (
        |  SELECT tf.doc_id, dim.lbl, dim.prior,
        |         CAST(SUM(tf.tf *
        |           CAST(CAST(ROUND(ln(CAST(COALESCE(ctl.ctl, 0) + 1 AS DOUBLE)
        |                              / CAST(dim.cl + dim.vsz AS DOUBLE)), 8)
        |                AS DECIMAL(20,8)) * -100000000 AS BIGINT)) AS BIGINT) AS s
        |  FROM tf CROSS JOIN dim
        |  LEFT JOIN ctl ON ctl.token = tf.token AND ctl.lbl = dim.lbl
        |  GROUP BY tf.doc_id, dim.lbl, dim.prior),
        |best AS (
        |  SELECT doc_id, lbl AS predicted, prior + s AS cost,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |                            ORDER BY prior + s, lbl) AS rn
        |  FROM sc),
        |fb AS (SELECT lbl AS fbl,
        |              CAST(prior AS DOUBLE) / 100000000.0 AS fbc
        |       FROM pri ORDER BY prior, lbl LIMIT 1)
        |SELECT d.doc_id, d.source,
        |       COALESCE(b.predicted, fb.fbl) AS predicted,
        |       COALESCE(CAST(b.cost AS DOUBLE) / 100000000.0, fb.fbc)
        |         AS neg_logprob
        |FROM documents d
        |LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
        |CROSS JOIN fb
        |ORDER BY d.doc_id""".stripMargin)),

    // Market-basket frequent pairs with lift (Apriori pair tier) over
    // per-document token sets: items survive to pair generation only if
    // individually frequent — minSupport (integer-exact 5% of docs)
    // directly caps the quadratic step's Σ f_b² bound. Lift > 1 flags
    // above-chance co-occurrence (collocation discovery beside
    // q_bigram_pmi's adjacency-based variant — THIS one sees non-adjacent
    // affinity).
    QuerySpec("q_freq_pairs", (s, dir) => {
      val d = docs(s, dir)
      val minSup = (d.count() * 5 + 99) / 100
      val items = d.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      graft.llm.Itemsets.frequentPairs(items, "doc_id", "token", minSup)
        .orderBy("item1", "item2")
    }, Some(
      """WITH ms AS (SELECT (COUNT(*) * 5 + 99) // 100 AS v FROM documents),
        |it AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS i
        |  FROM documents),
        |nb AS (SELECT COUNT(DISTINCT doc_id) AS n FROM it),
        |freq AS (
        |  SELECT i, COUNT(*) AS c FROM it GROUP BY i
        |  HAVING COUNT(*) >= (SELECT v FROM ms)),
        |fit AS (SELECT t.doc_id, t.i, f.c FROM it t JOIN freq f USING (i)),
        |pairs AS (
        |  SELECT a.i AS item1, b.i AS item2, a.c AS c1, b.c AS c2,
        |         COUNT(*) AS support
        |  FROM fit a JOIN fit b ON a.doc_id = b.doc_id AND a.i < b.i
        |  GROUP BY a.i, b.i, a.c, b.c
        |  HAVING COUNT(*) >= (SELECT v FROM ms))
        |SELECT item1, item2, support,
        |       ROUND(CAST(support AS DOUBLE) * nb.n / CAST(c1 * c2 AS DOUBLE), 8) AS lift
        |FROM pairs CROSS JOIN nb
        |ORDER BY item1, item2""".stripMargin)),

    // Directed association rules on top of the frequent-pair lattice:
    // confidence = support(ab)/support(a) is the ASYMMETRIC routing
    // signal lift can't give. Same bounded candidate cost as
    // q_freq_pairs; the rule expansion is two rows per surviving pair.
    QuerySpec("q_assoc_rules", (s, dir) => {
      val d = docs(s, dir)
      val minSup = (d.count() * 5 + 99) / 100
      val items = d.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      graft.llm.Itemsets.associationRules(items, "doc_id", "token",
          minSup, minConf = 0.6)
        .orderBy("antecedent", "consequent")
    }, Some(
      """WITH ms AS (SELECT (COUNT(*) * 5 + 99) // 100 AS v FROM documents),
        |it AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> x <> '')) AS i
        |  FROM documents),
        |nb AS (SELECT COUNT(DISTINCT doc_id) AS n FROM it),
        |freq AS (
        |  SELECT i, COUNT(*) AS c FROM it GROUP BY i
        |  HAVING COUNT(*) >= (SELECT v FROM ms)),
        |fit AS (SELECT t.doc_id, t.i, f.c FROM it t JOIN freq f USING (i)),
        |pairs AS (
        |  SELECT a.i AS item1, b.i AS item2, a.c AS c1, b.c AS c2,
        |         COUNT(*) AS support
        |  FROM fit a JOIN fit b ON a.doc_id = b.doc_id AND a.i < b.i
        |  GROUP BY a.i, b.i, a.c, b.c
        |  HAVING COUNT(*) >= (SELECT v FROM ms)),
        |directed AS (
        |  SELECT item1 AS antecedent, item2 AS consequent,
        |         c1 AS ca, c2 AS cc, support FROM pairs
        |  UNION ALL
        |  SELECT item2, item1, c2, c1, support FROM pairs),
        |conf AS (
        |  SELECT antecedent, consequent, support, ca, cc,
        |         ROUND(CAST(support AS DOUBLE) / CAST(ca AS DOUBLE), 8)
        |           AS confidence
        |  FROM directed)
        |SELECT antecedent, consequent, support, confidence,
        |       ROUND(CAST(support AS DOUBLE) * nb.n
        |             / CAST(ca * cc AS DOUBLE), 8) AS lift
        |FROM conf CROSS JOIN nb
        |WHERE confidence >= 0.6
        |ORDER BY antecedent, consequent""".stripMargin))
  )
}
