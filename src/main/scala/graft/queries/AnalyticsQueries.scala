package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine.{Layout, Tables}

/** Analytic breadth beyond the reference's surface (which has no window
  * functions, set ops, or grouping sets at all — SURVEY.md §2 "Window
  * functions: none"): ranking/offset/frame windows, semi-join and set
  * operators, explicit grouping sets, exact heavy hitters, ordered list
  * aggregation, edit-distance candidate verification, and the forward
  * as-of join (mirror of `q_asof_join`).
  *
  * Determinism: every window carries a TOTAL order (unique tiebreak key in
  * the ORDER BY), frame sums run in DECIMAL, and every query ends in a
  * total ORDER BY — same rules as the rest of the registry.
  */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** DuckDB replay of [[graft.engine.Layout.zValue]]: the identical
    * 16-bit interleave as a flat shift/mask sum over x (even bits) and
    * y (odd bits). */
  private val zInterleaveSql: String =
    (0 until 16).map(b =>
        s"(((x >> $b) & 1) << ${2 * b}) + (((y >> $b) & 1) << ${2 * b + 1})")
      .mkString(" + ")

  def specs: Seq[QuerySpec] = Seq(

    // Join-key skew report: the pre-flight shuffle-health profile of a
    // key's row distribution (cardinality, max/avg, p99, top-key share,
    // Gini of the counts) — the numbers that decide salting vs AQE skew
    // handling BEFORE a 100 TB join is launched. One count aggregation;
    // every statistic derives from the key-cardinality-sized table.
    QuerySpec("q_skew_report", (s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      val g = graft.engine.Stats.gini(
          counts.withColumn("g", lit(1)), "g", "cnt")
        .select(col("gini").as("count_gini"))
      counts.agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("total_rows"),
          max(col("cnt")).as("max_rows"),
          percentile(col("cnt").cast("double"), lit(0.99)).as("p99_rows"))
        .crossJoin(broadcast(g))
        .select(col("n_keys"), col("total_rows"), col("max_rows"),
          round(col("total_rows").cast("double") /
            col("n_keys").cast("double"), 8).as("avg_rows"),
          col("p99_rows"),
          round(col("max_rows").cast("double") /
            col("total_rows").cast("double"), 8).as("top1_share"),
          col("count_gini"))
    }, Some(
      """WITH c AS (
        |  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
        |  GROUP BY l_orderkey),
        |r AS (
        |  SELECT CAST(cnt AS DECIMAL(12,2)) AS x,
        |         ROW_NUMBER() OVER (ORDER BY CAST(cnt AS DOUBLE)) AS i
        |  FROM c),
        |gm AS (
        |  SELECT COUNT(*) AS n, SUM(x) AS sx,
        |         SUM(x * CAST(i AS DECIMAL(19,0))) AS six
        |  FROM r),
        |g AS (
        |  SELECT CASE WHEN CAST(sx AS DOUBLE) > 0.0
        |              THEN ROUND((2.0 * CAST(six AS DOUBLE)
        |                          - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
        |                         / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 8)
        |              END AS count_gini
        |  FROM gm),
        |s AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |         CAST(MAX(cnt) AS BIGINT) AS max_rows,
        |         quantile_cont(CAST(cnt AS DOUBLE), 0.99) AS p99_rows
        |  FROM c)
        |SELECT n_keys, total_rows, max_rows,
        |       ROUND(CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 8)
        |         AS avg_rows,
        |       p99_rows,
        |       ROUND(CAST(max_rows AS DOUBLE) / CAST(total_rows AS DOUBLE), 8)
        |         AS top1_share,
        |       count_gini
        |FROM s CROSS JOIN g""".stripMargin)),

    // ABC / Pareto classification of parts by revenue: items are A until
    // the 80% cumulative-revenue crossing, B until 95%, C after — the
    // inventory-priority cut. Class boundaries compare 100·prev_cum
    // against p·total in EXACT DECIMAL (an item is A when it STARTS
    // before the 80% line). The rank window runs over the part
    // dimension (vocabulary-sized, range-partitionable at scale).
    QuerySpec("q_abc_class", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("rev"))
      val w = Window.orderBy(col("rev").desc, col("l_partkey").asc)
      val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev
        .withColumn("__cum", sum(col("rev")).over(wCum))
        .crossJoin(broadcast(rev.agg(sum(col("rev")).as("__tot"))))
        .withColumn("abc_class",
          when((col("__cum") - col("rev")) * 100 < col("__tot") * 80, "A")
            .when((col("__cum") - col("rev")) * 100 < col("__tot") * 95, "B")
            .otherwise("C"))
        .select(col("l_partkey"), col("rev").cast("double").as("revenue"),
          col("abc_class"))
        .orderBy("l_partkey")
    }, Some(
      """WITH rev AS (
        |  SELECT l_partkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |c AS (
        |  SELECT l_partkey, rev,
        |         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
        |                        ROWS UNBOUNDED PRECEDING) AS cum,
        |         SUM(rev) OVER () AS tot
        |  FROM rev)
        |SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue,
        |       CASE WHEN (cum - rev) * 100 < tot * 80 THEN 'A'
        |            WHEN (cum - rev) * 100 < tot * 95 THEN 'B'
        |            ELSE 'C' END AS abc_class
        |FROM c ORDER BY l_partkey""".stripMargin)),

    // Z-order (Morton) clustering key over part: bit-interleave of
    // partkey and floor(retailprice) — the layout key that makes parquet
    // min/max stats tight on BOTH dimensions once a writer range-partitions
    // on it (see Layout; pure integer bit arithmetic, replayed exactly by
    // the oracle).
    QuerySpec("q_zorder", (s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
          Layout.zValue(
            pmod(col("p_partkey"), lit(65536L)),
            pmod(floor(col("p_retailprice")), lit(65536L))).as("zval"))
        .orderBy("p_partkey")
    }, Some(
      s"""WITH b AS (
         |  SELECT p_partkey,
         |         p_partkey % 65536 AS x,
         |         CAST(FLOOR(p_retailprice) AS BIGINT) % 65536 AS y
         |  FROM part)
         |SELECT p_partkey, $zInterleaveSql AS zval
         |FROM b ORDER BY p_partkey""".stripMargin)),

    // Offset windows: per-user previous/next event (LAG/LEAD) and the gap
    // to the previous event — the per-entity "time since last action"
    // feature every event pipeline derives. One shuffle on user_id.
    QuerySpec("q_lag_lead", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      events(s, dir)
        .withColumn("us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"),
          (col("us") - lag(col("us"), 1).over(w)).as("gap_us"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy("event_id")
    }, Some(
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events)
        |SELECT user_id, event_id,
        |       us - LAG(us) OVER w AS gap_us,
        |       LAG(event_type) OVER w AS prev_type,
        |       LEAD(event_type) OVER w AS next_type
        |FROM base
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |ORDER BY event_id""".stripMargin)),

    // Ranking windows: rank/dense_rank tolerate ties deterministically
    // (equal inputs ⇒ equal ranks); ntile REQUIRES the total order
    // (o_orderkey tiebreak) or bucket assignment is partition-order luck.
    QuerySpec("q_rank_ntile", (s, dir) => {
      val ties = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc)
      val total = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          rank().over(ties).cast("long").as("price_rank"),
          dense_rank().over(ties).cast("long").as("price_dense_rank"),
          ntile(4).over(total).cast("long").as("quartile"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey, o_orderpriority,
        |       RANK() OVER t AS price_rank,
        |       DENSE_RANK() OVER t AS price_dense_rank,
        |       NTILE(4) OVER u AS quartile
        |FROM orders
        |WINDOW t AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC),
        |       u AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // Frame window: per-customer running spend (prefix sums in DECIMAL —
    // exact, so partitioning can't change the doubles) + order sequence.
    QuerySpec("q_running_total", (s, dir) => {
      val ord = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(ord).cast("long").as("order_seq"),
          sum(dec(col("o_totalprice"))).over(run)
            .cast("double").as("running_spend"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_custkey, o_orderkey,
        |       ROW_NUMBER() OVER w AS order_seq,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // Left-semi join: existence probe without payload duplication — ships
    // only the probe keys, never multiplies rows (vs inner-join+distinct).
    QuerySpec("q_semi_join", (s, dir) => {
      val returned = t(s, dir, "lineitem")
        .where(col("l_returnflag") === "R")
      t(s, dir, "orders")
        .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin)),

    // Set op INTERSECT (distinct semantics on both engines): customers
    // holding orders in BOTH statuses.
    QuerySpec("q_intersect_keys", (s, dir) => {
      val orders = t(s, dir, "orders")
      orders.where(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(
          orders.where(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    }, Some(
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin)),

    // Set op EXCEPT (distinct semantics): customers with open orders but
    // no finished ones.
    QuerySpec("q_except_keys", (s, dir) => {
      val orders = t(s, dir, "orders")
      orders.where(col("o_orderstatus") === "O").select("o_custkey")
        .except(
          orders.where(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    }, Some(
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin)),

    // Explicit GROUPING SETS (beyond the rollup/cube family already in
    // CoreRelational): per-priority and per-status subtotals + grand total
    // in one pass; GROUPING() flags disambiguate subtotal rows from real
    // NULL groups. Cast to INT on both engines (Spark emits TINYINT).
    QuerySpec("q_grouping_sets", (s, dir) => {
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping(col("o_orderpriority")).cast("int").as("g_pri"),
          grouping(col("o_orderstatus")).cast("int").as("g_st"),
          count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("g_pri"), col("g_st"),
          col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)
    }, Some(
      """SELECT o_orderpriority, o_orderstatus,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
        |       CAST(GROUPING(o_orderstatus) AS INT) AS g_st,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_pri, g_st, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)),

    // Exact heavy hitters: users above a global-fraction threshold. The
    // threshold is a 1-row broadcast (scalar subquery shape) — the fact
    // side aggregates map-side then joins nothing bigger than itself; no
    // driver-side collect.
    QuerySpec("q_heavy_hitters", (s, dir) => {
      val ev = events(s, dir)
      val thresh = ev.agg((count(lit(1)) / lit(200.0)).as("__t"))
      ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .join(broadcast(thresh))
        .where(col("n_events") > col("__t"))
        .drop("__t")
        .orderBy("user_id")
    }, Some(
      """SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id
        |HAVING COUNT(*) > (SELECT COUNT(*) / 200.0 FROM events)
        |ORDER BY user_id""".stripMargin)),

    // Ordered list aggregation: collect_list is partition-order-dependent —
    // sort_array makes it canonical before serialization (same rule as
    // DuckDB's mandatory ORDER BY inside string_agg).
    QuerySpec("q_list_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(array_join(sort_array(collect_list(col("l_partkey"))), ",")
          .as("parts"),
          count(lit(1)).as("n_parts"))
        .orderBy("l_orderkey")
    }, Some(
      """SELECT l_orderkey,
        |       string_agg(l_partkey, ',' ORDER BY l_partkey) AS parts,
        |       COUNT(*) AS n_parts
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin)),

    // Edit-distance near-dup verification: block on (brand, noun) so the
    // quadratic levenshtein verify runs inside small buckets (the same
    // block→verify shape as the MinHash/SimHash pipelines — candidates
    // from an equi-join on a short key, exact check after).
    QuerySpec("q_edit_distance", (s, dir) => {
      // guarded second token: a one-word name must yield '' (DuckDB
      // split_part semantics), not an ANSI INVALID_ARRAY_INDEX error
      val p = t(s, dir, "part")
        .withColumn("__parts", split(col("p_name"), " "))
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          when(size(col("__parts")) >= 2, element_at(col("__parts"), 2))
            .otherwise(lit("")).as("noun"))
      val a = p.select(col("p_brand"), col("noun"),
        col("p_partkey").as("id1"), col("p_name").as("name1"))
      val b = p.select(col("p_brand"), col("noun"),
        col("p_partkey").as("id2"), col("p_name").as("name2"))
      // threshold form = banded O(k·n) edit distance with early exit
      // (returns -1 past the bound) — the scale path; the oracle's plain
      // levenshtein agrees wherever dist ≤ k, and rows past the bound are
      // filtered on both sides
      a.join(b, Seq("p_brand", "noun"))
        .where(col("id1") < col("id2"))
        .withColumn("dist",
          levenshtein(col("name1"), col("name2"), 3).cast("long"))
        .where(col("dist") > 0 && col("dist") <= 3)
        .select("id1", "id2", "dist")
        .orderBy("id1", "id2")
    }, Some(
      """WITH p AS (
        |  SELECT p_partkey, p_name, p_brand, split_part(p_name, ' ', 2) AS noun
        |  FROM part)
        |SELECT a.p_partkey AS id1, b.p_partkey AS id2,
        |       levenshtein(a.p_name, b.p_name) AS dist
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.noun = b.noun
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
        |ORDER BY id1, id2""".stripMargin)),

    // Equal-frequency decile assignment WITHOUT a global sort: exact
    // percentile cuts (one aggregation) + broadcast when-chain — the
    // scale-correct form of unpartitioned ntile(), which would funnel
    // every row through a single window task.
    QuerySpec("q_quantile_buckets", (s, dir) => {
      graft.engine.Profile.quantileBuckets(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          "o_totalprice", buckets = 10)
        .orderBy("o_orderkey")
    }, Some {
      val cases = (1 until 10)
        .map(b => s"WHEN o_totalprice <= c[$b] THEN $b").mkString(" ")
      s"""WITH cuts AS (
         |  SELECT quantile_cont(o_totalprice,
         |           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS c
         |  FROM orders)
         |SELECT o_orderkey, o_totalprice,
         |       CAST(CASE $cases ELSE 10 END AS BIGINT) AS bucket
         |FROM orders CROSS JOIN cuts
         |ORDER BY o_orderkey""".stripMargin
    }),

    // Frequency-ordered dense index encoding (StringIndexer shape):
    // index 0 = most frequent part type, ties by value — a total order,
    // so the mapping is engine-portable; domain-sized rank window +
    // broadcast map-back, the fact side never shuffles.
    QuerySpec("q_index_encode", (s, dir) => {
      graft.engine.Encode.indexEncode(
          t(s, dir, "part").select("p_partkey", "p_type"),
          "p_type", outCol = "type_idx")
        .select("p_partkey", "p_type", "type_idx")
        .orderBy("p_partkey")
    }, Some(
      """WITH c AS (
        |  SELECT p_type, COUNT(*) AS cnt FROM part
        |  WHERE p_type IS NOT NULL GROUP BY p_type),
        |m AS (
        |  SELECT p_type,
        |         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, p_type)
        |              - 1 AS BIGINT) AS type_idx
        |  FROM c)
        |SELECT p_partkey, p.p_type, type_idx
        |FROM part p LEFT JOIN m USING (p_type)
        |ORDER BY p_partkey""".stripMargin)),

    // Feature hashing (hashing trick): vocabulary-free bucket+sign from
    // md5 (engine-portable, map-only, zero shuffle) — the scale path
    // when a categorical domain outgrows a dense index.
    QuerySpec("q_hash_encode", (s, dir) => {
      graft.engine.Encode.hashEncode(
          t(s, dir, "part").select("p_partkey", "p_type"),
          "p_type", dim = 64)
        .select("p_partkey", "p_type", "bucket", "sign")
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey, p_type,
        |       CASE WHEN p_type IS NOT NULL THEN
        |         CAST(CAST(concat('0x', substr(md5('feat|' || p_type), 1, 8))
        |              AS UBIGINT) % 64 AS BIGINT) END AS bucket,
        |       CASE WHEN p_type IS NOT NULL THEN
        |         CASE WHEN CAST(concat('0x', substr(md5('feat|' || p_type),
        |                                            9, 1)) AS UBIGINT)
        |                   % 2 = 0
        |              THEN CAST(1 AS BIGINT)
        |              ELSE CAST(-1 AS BIGINT) END END AS sign
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // Smoothed target encoding: order priority → shrunk mean of
    // o_totalprice (enc = (Σy + m·ȳ)/(n + m), m = 50) — the
    // high-cardinality-categorical leakage defense; exact decimal
    // moments, broadcast map-back.
    QuerySpec("q_target_encode", (s, dir) => {
      graft.engine.Encode.targetEncode(
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority",
            "o_totalprice"),
          "o_orderpriority", "o_totalprice", smoothing = 50.0)
        .select("o_orderkey", "o_orderpriority", "n_cat", "enc")
        .orderBy("o_orderkey")
    }, Some(
      """WITH b AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS y
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
        |per AS (
        |  SELECT o_orderpriority, COUNT(*) AS n, SUM(y) AS sy
        |  FROM b GROUP BY o_orderpriority),
        |g AS (SELECT COUNT(*) AS gn, SUM(y) AS gsy FROM b),
        |m AS (
        |  SELECT o_orderpriority, n AS n_cat,
        |         ROUND((CAST(sy AS DOUBLE)
        |                 + 50.0 * (CAST(gsy AS DOUBLE) / CAST(gn AS DOUBLE)))
        |               / (CAST(n AS DOUBLE) + 50.0), 8) AS enc
        |  FROM per CROSS JOIN g)
        |SELECT o_orderkey, o.o_orderpriority, n_cat, enc
        |FROM orders o LEFT JOIN m USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin)),

    // Weight-of-evidence encoding: brand → smoothed signed
    // log-likelihood ratio of the large-size indicator (the
    // credit-scoring categorical encoder; α = 0.5 Laplace). Exact
    // integer counts, one ln on the 8dp transcendental grid, broadcast
    // map-back.
    QuerySpec("q_woe_encode", (s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
        (col("p_size") > 25).cast("long").as("is_large"))
      graft.engine.Encode.woeEncode(p, "p_brand", "is_large", alpha = 0.5)
        .select("p_partkey", "p_brand", "is_large", "n_cat", "woe")
        .orderBy("p_partkey")
    }, Some(
      """WITH b AS (
        |  SELECT p_partkey, p_brand,
        |         CAST(CASE WHEN p_size IS NULL THEN NULL
        |                   WHEN p_size > 25 THEN 1 ELSE 0 END
        |              AS BIGINT) AS is_large
        |  FROM part),
        |f AS (SELECT * FROM b
        |      WHERE p_brand IS NOT NULL AND is_large IS NOT NULL),
        |per AS (
        |  SELECT p_brand, COUNT(*) AS n, SUM(is_large) AS pos
        |  FROM f GROUP BY p_brand),
        |g AS (SELECT COUNT(*) AS gn, SUM(is_large) AS gpos FROM f),
        |m AS (
        |  SELECT p_brand, n AS n_cat,
        |         ROUND(ln(((CAST(pos AS DOUBLE) + 0.5)
        |                    / (CAST(gpos AS DOUBLE) + 1.0))
        |                  / ((CAST(n - pos AS DOUBLE) + 0.5)
        |                     / (CAST(gn - gpos AS DOUBLE) + 1.0))), 8) AS woe
        |  FROM per CROSS JOIN g)
        |SELECT p_partkey, b.p_brand, is_large, n_cat, woe
        |FROM b LEFT JOIN m USING (p_brand)
        |ORDER BY p_partkey""".stripMargin)),

    // Per-group min-max scaling to [0,1] (trainer-facing normalization;
    // constant groups scale to NULL, never an ANSI zero-divide). One
    // narrow min/max aggregation + broadcast map-back — the fact side
    // never shuffles (the Encode shape).
    QuerySpec("q_minmax_scale", (s, dir) => {
      graft.engine.Scale.minMaxScale(
          t(s, dir, "orders").select("o_orderkey", "o_orderpriority",
            "o_totalprice"),
          "o_totalprice", "o_orderpriority")
        .select("o_orderkey", "o_orderpriority", "o_totalprice", "scaled")
        .orderBy("o_orderkey")
    }, Some(
      """WITH m AS (
        |  SELECT o_orderpriority,
        |         MIN(CAST(o_totalprice AS DOUBLE)) AS mn,
        |         MAX(CAST(o_totalprice AS DOUBLE)) AS mx
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  GROUP BY o_orderpriority)
        |SELECT o_orderkey, o.o_orderpriority, o_totalprice,
        |       ROUND((CAST(o_totalprice AS DOUBLE) - mn)
        |             / (CASE WHEN mx <> mn THEN mx - mn END), 8) AS scaled
        |FROM orders o LEFT JOIN m USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin)),

    // Median/IQR robust scaling (sklearn RobustScaler shape) — the
    // outlier-insensitive twin of q_minmax_scale, riding the same
    // session-flagged percentile machinery as the IQR imputation tier
    // (spark.graft.percentile.approx swaps in the GK sketch at 100 TB).
    QuerySpec("q_robust_scale", (s, dir) => {
      graft.engine.Scale.robustScale(
          t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
            "l_linestatus", "l_extendedprice"),
          "l_extendedprice", "l_linestatus")
        .select("l_orderkey", "l_linenumber", "l_linestatus",
          "l_extendedprice", "scaled")
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """WITH m AS (
        |  SELECT l_linestatus,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS q1,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med,
        |         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS q3
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |  GROUP BY l_linestatus)
        |SELECT l_orderkey, l_linenumber, l.l_linestatus, l_extendedprice,
        |       ROUND((CAST(l_extendedprice AS DOUBLE) - med)
        |             / (CASE WHEN q3 <> q1 THEN q3 - q1 END), 8) AS scaled
        |FROM lineitem l LEFT JOIN m USING (l_linestatus)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Per-group quantile (rank-uniform) transform: midrank ECDF over
    // the VALUE DOMAIN (one (group, value) count aggregation feeds the
    // cumulative window — the RankStats discipline), exact integer rank
    // arithmetic, equi-join map-back.
    QuerySpec("q_quantile_transform", (s, dir) => {
      graft.engine.Scale.quantileTransform(
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus",
            "o_totalprice"),
          "o_totalprice", "o_orderstatus")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "u")
        .orderBy("o_orderkey")
    }, Some(
      """WITH d AS (
        |  SELECT o_orderstatus, o_totalprice, COUNT(*) AS cnt
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  GROUP BY o_orderstatus, o_totalprice),
        |w AS (
        |  SELECT o_orderstatus, o_totalprice, cnt,
        |         SUM(cnt) OVER (PARTITION BY o_orderstatus
        |                        ORDER BY o_totalprice) AS cum,
        |         SUM(cnt) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM d),
        |m AS (
        |  SELECT o_orderstatus, o_totalprice,
        |         ROUND(CAST(2 * cum - cnt AS DOUBLE)
        |               / CAST(2 * n AS DOUBLE), 8) AS u
        |  FROM w)
        |SELECT o_orderkey, o.o_orderstatus, o_totalprice, u
        |FROM orders o LEFT JOIN m USING (o_orderstatus, o_totalprice)
        |ORDER BY o_orderkey""".stripMargin)),

    // Per-group z-score normalization from exact decimal moments (the
    // q_corr_ols discipline: built-in stddev in doubles is partition-
    // order-dependent); zero-variance groups yield null, never an ANSI
    // division error.
    QuerySpec("q_zscore_norm", (s, dir) => {
      val x = col("l_quantity").cast("decimal(18,2)")
      val m = t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      val (nd, sxd, sxxd) = (col("n").cast("double"),
        col("sx").cast("double"), col("sxx").cast("double"))
      val variance = (sxxd - sxd * sxd / nd) / (nd - 1)
      val std = when(variance > 0, sqrt(variance))
      t(s, dir, "lineitem")
        .join(broadcast(m), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round((col("l_quantity").cast("double") - sxd / nd) / std, 8).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))
        |             * CAST(l_quantity AS DECIMAL(18,2))) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |       ROUND((CAST(l_quantity AS DOUBLE)
        |               - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |             / (CASE WHEN (CAST(sxx AS DOUBLE)
        |                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |                             / CAST(n AS DOUBLE))
        |                          / (CAST(n AS DOUBLE) - 1) > 0
        |                     THEN sqrt((CAST(sxx AS DOUBLE)
        |                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
        |                                  / CAST(n AS DOUBLE))
        |                               / (CAST(n AS DOUBLE) - 1)) END), 8) AS z
        |FROM lineitem JOIN m USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Grouped top-k through the native bounded-heap aggregate (the same
    // TopKByScore that powers cosine top-k): each task pre-reduces to ≤k
    // rows per group BEFORE the exchange — the window formulation the
    // oracle uses would shuffle and sort every row.
    QuerySpec("q_topk_group", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(graft.llm.TopK.topKByScore(
          col("o_totalprice"), col("o_orderkey"), lit(3)).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
        .orderBy("o_orderpriority", "rnk")
    }, Some(
      """WITH ranked AS (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |SELECT o_orderpriority, rnk, o_orderkey, o_totalprice
        |FROM ranked WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin)),

    // Forward as-of join: every click attached to the user's NEXT purchase
    // at-or-after it (mirror of q_asof_join; same union + single-window
    // design — one shuffle, no candidate blowup). The oracle mirrors the
    // union+window formulation so tie semantics match bit-for-bit.
    QuerySpec("q_asof_forward", (s, dir) => {
      val ev = events(s, dir).withColumn("us", unix_micros(col("ts")))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "us")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("us"),
          col("event_id").as("purchase_id"), col("value"))
      graft.engine.TimeJoins.asofJoinForward(
          clicks, purchases, Seq("user_id"), "us", Seq("purchase_id", "value"))
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
          col("matched_purchase_id"), col("matched_value"))
        .orderBy("event_id")
    }, Some(
      """WITH base AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type, value
        |  FROM events),
        |u AS (
        |  SELECT user_id, us, 1 AS side, CAST(NULL AS BIGINT) AS event_id,
        |         event_id AS m_id, value AS m_value
        |  FROM base WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, us, 0 AS side, event_id,
        |         CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        |  FROM base WHERE event_type = 'click'),
        |m AS (
        |  SELECT user_id, us, side, event_id,
        |         FIRST_VALUE(CASE WHEN side = 1
        |                          THEN struct_pack(pid := m_id, val := m_value) END
        |                     IGNORE NULLS) OVER w AS s
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY us, side, m_id NULLS FIRST, m_value NULLS FIRST
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id, make_timestamp(us) AS ts,
        |       s.pid AS matched_purchase_id, s.val AS matched_value
        |FROM m WHERE side = 0 ORDER BY event_id""".stripMargin)),

    // Per-group mode: most frequent value, ties to the smallest — one
    // count aggregation + a min(struct) argmax, no window sort.
    QuerySpec("q_group_mode", (s, dir) => {
      graft.engine.Stats.groupMode(t(s, dir, "orders"),
          "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderstatus")
    }, Some(
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderstatus, o_orderpriority, cnt,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY cnt DESC, o_orderpriority) AS rn
        |  FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_value, cnt AS mode_count
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin)),

    // Shannon entropy of each user's event-type distribution: 8dp-pinned
    // ln weighted by exact counts, summed on the 1e-8 integer grid.
    QuerySpec("q_category_entropy", (s, dir) => {
      graft.engine.Stats.categoryEntropy(events(s, dir),
          "user_id", "event_type")
        .orderBy("user_id")
    }, Some(
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |n AS (
        |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
        |         COUNT(*) AS n_categories
        |  FROM c GROUP BY user_id),
        |t AS (
        |  SELECT c.user_id, n.n, n.n_categories,
        |         CAST(-CAST(ROUND(ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)),
        |                          8) AS DECIMAL(10,8))
        |              * CAST(c.c AS DECIMAL(19,0)) AS DECIMAL(38,8)) AS term
        |  FROM c JOIN n USING (user_id))
        |SELECT user_id, n, n_categories,
        |       CAST(SUM(term) AS DOUBLE) / CAST(n AS DOUBLE) AS entropy
        |FROM t GROUP BY user_id, n, n_categories
        |ORDER BY user_id""".stripMargin)),

    // Herfindahl–Hirschman concentration of supplier share per return
    // flag: exact integer sum-of-squares over one division — the skew
    // diagnostic for a join/partition key.
    QuerySpec("q_hhi", (s, dir) => {
      graft.engine.Stats.hhi(t(s, dir, "lineitem"),
          "l_returnflag", "l_suppkey")
        .orderBy("l_returnflag")
    }, Some(
      """WITH c AS (
        |  SELECT l_returnflag, l_suppkey, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS n,
        |       CAST(SUM(c * c) AS DOUBLE)
        |         / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS hhi
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Wide→long reshape (pandas melt): Spark's unpivot plans ONE map-only
    // Expand — no shuffle, no unioned self-scans. The oracle is the
    // equivalent UNION ALL.
    QuerySpec("q_melt", (s, dir) => {
      graft.engine.Derive.melt(t(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("l_orderkey", "l_linenumber", "variable")
    }, Some(
      """SELECT l_orderkey, l_linenumber, v AS variable,
        |       CASE v WHEN 'l_quantity' THEN CAST(l_quantity AS DOUBLE)
        |              WHEN 'l_extendedprice' THEN CAST(l_extendedprice AS DOUBLE)
        |              WHEN 'l_discount' THEN CAST(l_discount AS DOUBLE)
        |              ELSE CAST(l_tax AS DOUBLE) END AS value
        |FROM lineitem
        |CROSS JOIN (SELECT unnest(['l_quantity', 'l_extendedprice',
        |                           'l_discount', 'l_tax']) AS v)
        |ORDER BY l_orderkey, l_linenumber, variable""".stripMargin))
  )
}
