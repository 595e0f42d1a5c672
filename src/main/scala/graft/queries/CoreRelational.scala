package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine._

/** The reference's relational surface (SURVEY.md §2: E/T/J/U/A-series) as
  * driver-checkable queries over the testdata star schema.
  *
  * Cross-engine determinism: measures are aggregated in DECIMAL (exact and
  * associative — partition order cannot change the result) and cast to
  * double only at the end; every query ends in a total ORDER BY.
  */
object CoreRelational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** Flagship: the reference's core dataflow shape (scan → derive → J1
    * inner join → J2-style enrich → group stats) on the star schema.
    * Per-order revenue is pre-aggregated BEFORE the join (map-side shrink:
    * 60k lineitems → 15k order rows), the customer dim is broadcast, so the
    * only wide shuffle is the final low-cardinality segment rollup. */
  def flagship(s: SparkSession, dir: String): DataFrame = {
    val revenue = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") -
        dec(col("l_discount")))).as("rev"))
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"), "inner")
      .join(revenue, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("rev")).cast("double").as("total_revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val flagshipSql: String =
    """SELECT c_mktsegment,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(rev) AS DOUBLE) AS total_revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN (SELECT l_orderkey,
      |                  SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                      (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS rev
      |           FROM lineitem GROUP BY l_orderkey) r
      |  ON o_orderkey = l_orderkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** One SQL text, two engines: run verbatim through `spark.sql` AND as the
    * DuckDB oracle — demonstrating the `spark.sql(...)` API surface with
    * zero translation (TPC-H Q3 shape: selective join + decimal revenue
    * rollup + deterministic top-10). */
  val sqlApiText: String =
    """SELECT o_orderkey,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_lines
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '2000-03-15'
      |  AND l_shipdate > TIMESTAMP '1999-03-15'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** Correlated scalar subquery (count per outer row) — verbatim on both
    * engines; Catalyst decorrelates to a left outer join + aggregate. */
  val sqlSubqueryText: String =
    """SELECT c_custkey,
      |       (SELECT COUNT(*) FROM orders
      |        WHERE o_custkey = c_custkey
      |          AND o_orderstatus = 'F') AS n_finished
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  def specs: Seq[QuerySpec] = Seq(

    QuerySpec("q_flagship_star", flagship, Some(flagshipSql), headline = true),

    QuerySpec("q_sql_api", (s, dir) => {
      Seq("customer", "orders", "lineitem")
        .foreach(nm => Tables.load(s, dir, nm).createOrReplaceTempView(nm))
      s.sql(sqlApiText)
    }, Some(sqlApiText)),

    // Correlated scalar subquery, one SQL text on both engines: Catalyst
    // decorrelates it to an outer join + aggregate — the "no optimizer
    // work needed" claim of SURVEY §4, demonstrated.
    QuerySpec("q_sql_subquery", (s, dir) => {
      Seq("customer", "orders")
        .foreach(nm => Tables.load(s, dir, nm).createOrReplaceTempView(nm))
      s.sql(sqlSubqueryText)
    }, Some(sqlSubqueryText)),

    // Date-part scalar breadth (SURVEY §2 scalar inventory): month
    // truncation, day-of-week (normalized to DuckDB's Sunday=0), quarter,
    // day diffs. The boundary-sensitive ops (month_start, days_since) go
    // through to_date on both engines so they count the same units;
    // dow/quarter extract from the raw timestamp, identical either way.
    QuerySpec("q_date_parts", (s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"),
          trunc(to_date(col("o_orderdate")), "month")
            .cast("timestamp_ntz").as("month_start"),
          (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey,
        |       CAST(date_trunc('month', CAST(o_orderdate AS DATE))
        |            AS TIMESTAMP) AS month_start,
        |       CAST(EXTRACT(dow FROM o_orderdate) AS BIGINT) AS dow,
        |       CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
        |       CAST(date_diff('day', DATE '1995-01-01',
        |                      CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // String scalar breadth: pad/translate/reverse/position/repeat (the
    // portable subset — initcap/soundex etc. differ across engines).
    QuerySpec("q_string_funcs", (s, dir) => {
      t(s, dir, "part").select(col("p_partkey"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_code"),
          translate(col("p_name"), " ", "_").as("slug"),
          reverse(col("p_brand")).as("brand_rev"),
          instr(col("p_name"), "ring").cast("long").as("ring_pos"),
          expr("repeat('*', p_size % 5)").as("stars"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_code,
        |       translate(p_name, ' ', '_') AS slug,
        |       reverse(p_brand) AS brand_rev,
        |       CAST(strpos(p_name, 'ring') AS BIGINT) AS ring_pos,
        |       repeat('*', p_size % 5) AS stars
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // A5/A7 + arithmetic: pricing summary (decimal-exact sums).
    QuerySpec("q_agg_pricing", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(12,2)") -
            dec(col("l_discount")))).cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin), headline = true),

    // Merge/upsert (the append-only loader's missing half): keys in the
    // incoming batch replace their existing rows, new keys insert,
    // untouched rows survive. Incoming is derived from `orders` itself
    // (key mod classes) so both engines see identical inputs.
    QuerySpec("q_upsert", (s, dir) => {
      val existing = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val updates = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 3)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      // synthetic insert keys offset by max(o_orderkey)+1 — range-derived
      // (like q_scd2), so intended inserts can never collide with real
      // keys at ANY scale factor (a fixed +1e8 shift collides at SF ≳ 16)
      val maxK = t(s, dir, "orders").agg(max(col("o_orderkey")).as("__maxk"))
      val inserts = t(s, dir, "orders")
        .filter(pmod(col("o_orderkey"), lit(10)) === 7)
        .crossJoin(broadcast(maxK))
        .select((col("o_orderkey") + col("__maxk") + 1).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"))
      graft.engine.LoadDedup.upsert(existing,
          updates.unionByName(inserts),
          Seq("o_orderkey"), Seq("o_orderstatus"))
        .orderBy("o_orderkey")
    }, Some(
      """WITH existing AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |inc AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |         o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders) + 1,
        |         'N', o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |SELECT e.* FROM existing e
        |WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.o_orderkey = e.o_orderkey)
        |UNION ALL SELECT * FROM inc
        |ORDER BY o_orderkey""".stripMargin)),

    // Snapshot reconciliation (the loader's audit complement): one
    // full-outer join classifies every key as added / removed / changed
    // (with the differing column names), unchanged rows omitted - the
    // report sizes with the churn. The new snapshot derives from orders
    // deterministically: mod-97 keys vanish, mod-31 prices double,
    // mod-53 keys reappear shifted as brand-new rows.
    QuerySpec("q_snapshot_diff", (s, dir) => {
      val old = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      // reappearing keys offset by max(o_orderkey)+1 — range-derived so
      // the synthetic "brand-new" rows stay disjoint at any scale factor
      val maxK = old.agg(max(col("o_orderkey")).as("__maxk"))
      val nw = old.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(31)) === 0,
            col("o_totalprice") * 2).otherwise(col("o_totalprice")))
        .unionByName(old.filter(pmod(col("o_orderkey"), lit(53)) === 0)
          .crossJoin(broadcast(maxK))
          .select((col("o_orderkey") + col("__maxk") + 1).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")))
      graft.engine.Reconcile.snapshotDiff(old, nw, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey", "change_type")
    }, Some(
      """WITH old AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |new AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM old WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM old) + 1,
        |         o_orderstatus, o_totalprice
        |  FROM old WHERE o_orderkey % 53 = 0),
        |j AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         o.o_orderkey IS NOT NULL AS in_old,
        |         n.o_orderkey IS NOT NULL AS in_new,
        |         o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS d_status,
        |         o.o_totalprice IS DISTINCT FROM n.o_totalprice AS d_price
        |  FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey,
        |       CASE WHEN NOT in_old THEN 'added'
        |            WHEN NOT in_new THEN 'removed'
        |            WHEN d_status OR d_price THEN 'changed' END AS change_type,
        |       CASE WHEN in_old AND in_new AND (d_status OR d_price)
        |            THEN concat_ws(',',
        |                   CASE WHEN d_status THEN 'o_orderstatus' END,
        |                   CASE WHEN d_price THEN 'o_totalprice' END)
        |       END AS changed_cols
        |FROM j
        |WHERE (NOT in_old) OR (NOT in_new) OR d_status OR d_price
        |ORDER BY o_orderkey, change_type""".stripMargin)),

    // SCD type-2 merge: versioned dimension history (upsert's
    // history-keeping twin — changed keys CLOSE their current row and open
    // a new version instead of overwriting). The batch is derived from
    // `customer` itself: mod-3 keys change (acctbal+100), a disjoint mod-7
    // slice arrives unchanged (must stay open, un-duplicated), mod-5 keys
    // reappear shifted as brand-new keys. The oracle replays the
    // closed/kept/opened split directly.
    // Point-in-time join: every order joined to the dimension VERSION
    // valid at its order date (the reproducible-feature rule — "the
    // balance as it was then", never the current row: training-serving
    // skew in a feature store is exactly this join done wrong). The
    // version timeline tiles [1990, 1998) ∪ [1998, ∞) per key, so the
    // backward as-of window (ONE shuffle, no range join) is exact;
    // the oracle replays it as the textbook validity-interval join.
    QuerySpec("q_pit_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val dim = c.select(col("c_custkey").as("k"),
          (col("c_acctbal") - 50).as("bal"),
          lit(631152000000000L).as("us")) // 1990-01-01T00:00Z
        .unionByName(c.select(col("c_custkey").as("k"),
          col("c_acctbal").as("bal"),
          lit(883612800000000L).as("us"))) // 1998-01-01T00:00Z
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"))
      graft.engine.TimeJoins.asofJoinBackward(o, dim, Seq("k"), "us",
          Seq("bal"))
        .select(col("o_orderkey"), col("k").as("o_custkey"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("o_orderdate"),
          col("matched_bal").as("acctbal_at_order"))
        .orderBy("o_orderkey")
    }, Some(
      """WITH dim AS (
        |  SELECT c_custkey AS k, c_acctbal - 50 AS bal,
        |         TIMESTAMP '1990-01-01' AS vf, TIMESTAMP '1998-01-01' AS vt
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal, TIMESTAMP '1998-01-01', NULL
        |  FROM customer)
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
        |       d.bal AS acctbal_at_order
        |FROM orders o JOIN dim d ON d.k = o.o_custkey
        |  AND d.vf <= o.o_orderdate
        |  AND (d.vt IS NULL OR o.o_orderdate < d.vt)
        |ORDER BY o_orderkey""".stripMargin)),

    QuerySpec("q_scd2", (s, dir) => {
      val c = t(s, dir, "customer")
      // mod-11 keys carry a CLOSED prior version (exercises the
      // history passthrough — must survive the merge untouched)
      val hist = c.filter(pmod(col("c_custkey"), lit(11)) === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") - 50).as("c_acctbal"), col("c_mktsegment"),
          lit(java.sql.Date.valueOf("2023-01-01")).as("valid_from"),
          lit(java.sql.Date.valueOf("2024-01-01")).cast("date").as("valid_to"))
      val dim = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"),
        lit(java.sql.Date.valueOf("2024-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
        .unionByName(hist)
      val changedU = c.filter(pmod(col("c_custkey"), lit(3)) === 0)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100).as("c_acctbal"), col("c_mktsegment"))
      val sameU = c.filter(pmod(col("c_custkey"), lit(3)) =!= 0 &&
          pmod(col("c_custkey"), lit(7)) === 1)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      // brand-new keys are offset by max(c_custkey) + 1 — range-derived
      // (keys may start at 0), so
      // they can never collide with real keys at ANY scale factor (a
      // fixed +1e6 shift collides from SF >= ~7, turning intended inserts
      // into updates and tripping the duplicate-update guard)
      val maxK = c.agg(max(col("c_custkey")).as("__maxk"))
      val newU = c.filter(pmod(col("c_custkey"), lit(5)) === 0)
        .crossJoin(broadcast(maxK))
        .select((col("c_custkey") + col("__maxk") + 1).as("c_custkey"),
          col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      Scd.scd2Apply(dim, changedU.unionByName(sameU).unionByName(newU),
          Seq("c_custkey"), Seq("c_name", "c_acctbal", "c_mktsegment"),
          lit(java.sql.Date.valueOf("2024-06-01")))
        // timestamp_ntz on the wire: DATE round-trips as a python object
        // in the driver's pandas compare (dtype note), timestamps compare
        // natively — values are unchanged midnights
        .withColumn("valid_from", col("valid_from").cast("timestamp_ntz"))
        .withColumn("valid_to", col("valid_to").cast("timestamp_ntz"))
        .orderBy("c_custkey", "valid_from")
    }, Some(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |       CAST(DATE '2024-01-01' AS TIMESTAMP) AS valid_from,
        |       CASE WHEN c_custkey % 3 = 0
        |            THEN CAST(DATE '2024-06-01' AS TIMESTAMP)
        |            END AS valid_to
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal - 50, c_mktsegment,
        |       CAST(DATE '2023-01-01' AS TIMESTAMP),
        |       CAST(DATE '2024-01-01' AS TIMESTAMP)
        |FROM customer WHERE c_custkey % 11 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal + 100, c_mktsegment,
        |       CAST(DATE '2024-06-01' AS TIMESTAMP), NULL
        |FROM customer WHERE c_custkey % 3 = 0
        |UNION ALL
        |SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer) + 1,
        |       c_name, c_acctbal, c_mktsegment,
        |       CAST(DATE '2024-06-01' AS TIMESTAMP), NULL
        |FROM customer WHERE c_custkey % 5 = 0
        |ORDER BY c_custkey, valid_from""".stripMargin)),

    // Incremental view maintenance: the maintained per-flag aggregate
    // absorbs a CDC delta (−1 deletes for %13 orderkeys, +1 doubled-qty
    // inserts for %17) WITHOUT rescanning the base — delta cost ∝ batch,
    // merge cost ∝ groups. The oracle recomputes the post-delta multiset
    // from scratch: maintained == recomputed is the IVM contract, exact
    // because sums accumulate in DECIMAL on both paths.
    QuerySpec("q_ivm_agg", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val keys = Seq("l_returnflag")
      val ms = Seq("l_quantity", "l_extendedprice")
      val baseAgg = Ivm.fullAgg(l, keys, ms)
      val deletes = l.filter(pmod(col("l_orderkey"), lit(13)) === 0)
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), lit(-1).as("mult"))
      val inserts = l.filter(pmod(col("l_orderkey"), lit(17)) === 0)
        .select(col("l_returnflag"), (col("l_quantity") * 2).as("l_quantity"),
          col("l_extendedprice"), lit(1).as("mult"))
      val delta = Ivm.deltaAgg(deletes.unionByName(inserts), keys, "mult", ms)
      Ivm.applyDelta(baseAgg, delta, keys, ms)
        .select(col("l_returnflag"), col("n"),
          col("sum_l_quantity").cast("double").as("sum_qty"),
          col("sum_l_extendedprice").cast("double").as("sum_price"))
        .orderBy("l_returnflag")
    }, Some(
      """WITH mod AS (
        |  SELECT l_returnflag, l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT l_returnflag, l_quantity * 2, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 17 = 0)
        |SELECT l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM mod GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // CDC batch compaction: several changes to one key inside a
    // batch are legal change-data-capture — keep the LAST by sequence
    // number via a struct-max aggregate (deterministic under any
    // partitioning, unlike dropDuplicates; a window row_number would sort
    // where the aggregate pre-reduces map-side). Feeds the SCD2 merge.
    QuerySpec("q_cdc_compact", (s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val cdc = o.select(col("o_orderkey"), lit(1L).as("seq"),
          col("o_orderstatus"), col("o_totalprice"))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), lit(2L).as("seq"),
            lit("X").as("o_orderstatus"),
            (col("o_totalprice") * 2).as("o_totalprice")))
      Scd.lastWinsByKey(cdc, Seq("o_orderkey"),
          "seq", Seq("o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    }, Some(
      """WITH cdc AS (
        |  SELECT o_orderkey, 1 AS seq, o_orderstatus, o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'X', o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |                            ORDER BY seq DESC) AS rn
        |  FROM cdc)
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)),

    // Pivot: long→wide per-status counts over the five priority values
    // (explicit value list ⇒ no extra distinct-values job; renamed to
    // stable snake-case aliases on both engines).
    QuerySpec("q_pivot_priority", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .toDF("o_orderstatus", "p_urgent", "p_high", "p_medium",
          "p_notspec", "p_low")
        .na.fill(0L, Seq("p_urgent", "p_high", "p_medium", "p_notspec", "p_low"))
        .orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p_notspec,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p_low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Rollup: subtotal + grand-total rows via grouping sets (NULL group
    // markers match across engines; the row-sorted hash compare makes
    // NULL ordering moot).
    QuerySpec("q_rollup_sales", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Cube: all 4 grouping sets (both, each, grand total) — completes the
    // grouping-sets family next to q_rollup_sales.
    QuerySpec("q_cube_sales", (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // Fixed-width histogram over a derived bin key (integer arithmetic on
    // cents — no float binning ambiguity at bucket edges).
    QuerySpec("q_histogram", (s, dir) => {
      t(s, dir, "lineitem")
        .select((col("l_extendedprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
        // floor semantics on both engines (Spark `div` truncates toward
        // zero; DuckDB `//` floors — they differ on negatives)
        .groupBy(expr("(cents - pmod(cents, 500000)) div 500000").as("bin"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bin_low", (col("bin") * 5000L).cast("double"))
        .select("bin", "bin_low", "n")
        .orderBy("bin")
    }, Some(
      """SELECT bin, CAST(bin * 5000 AS DOUBLE) AS bin_low, n FROM (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |         // 500000 AS bin,
        |         COUNT(*) AS n
        |  FROM lineitem GROUP BY 1)
        |ORDER BY bin""".stripMargin)),

    // Moving-window analytics: 7-day trailing average of daily order
    // counts (lag/lead family; runs over the small aggregated frame, so
    // the unpartitioned window is not a scale hazard).
    QuerySpec("q_moving_avg", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("d")).rowsBetween(-6, 0)
      daily.select(col("d"), col("n"),
          (sum(col("n")).over(w).cast("double") /
            count(col("n")).over(w)).as("avg7"))
        .orderBy("d")
    }, Some(
      """WITH daily AS (
        |  SELECT o_orderdate AS d, COUNT(*) AS n FROM orders GROUP BY o_orderdate)
        |SELECT d, n,
        |       CAST(SUM(n) OVER w AS DOUBLE) / COUNT(n) OVER w AS avg7
        |FROM daily
        |WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY d""".stripMargin)),

    // E6: equality filter — pushed into the parquet scan by Catalyst.
    QuerySpec("q_filter_eq", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === lit("R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // E7: limit as deterministic top-k (plans as TakeOrderedAndProject —
    // per-partition heaps, no global sort at scale).
    QuerySpec("q_topk_orders", (s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // E2+U1+U2: display-name rename → ascii/snake normalize → column sort.
    QuerySpec("q_rename_norm", (s, dir) => {
      val display = Names.rename(
        t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment"),
        Map("c_custkey" -> "Identifiant Client", "c_name" -> "Nom-Client",
          "c_mktsegment" -> "Segment de Marché"))
      Names.sortColumns(Names.normalizeColumns(display))
        .orderBy("identifiant_client")
    }, Some(
      """SELECT c_custkey AS identifiant_client, c_name AS nom_client,
        |       c_mktsegment AS segment_de_marche
        |FROM customer ORDER BY identifiant_client""".stripMargin)),

    // E3: substring + integer cast derive.
    QuerySpec("q_substr_cast", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          Derive.substrCode(col("c_name"), 10, 9).as("cust_num"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, CAST(SUBSTRING(c_name, 10, 9) AS BIGINT) AS cust_num
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // E5+E4: composite string key (the reference's full_adress).
    QuerySpec("q_concat_key", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          Derive.concatKey(col("c_name"), col("c_mktsegment"),
            col("c_nationkey").cast("string")).as("full_key"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey,
        |       CONCAT_WS(' ', c_name, c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS full_key
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // E10: upper() — Tungsten-codegen'd, not np.vectorize.
    QuerySpec("q_upper", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"), Derive.toUpper(col("p_name")).as("p_name_upper"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey, UPPER(p_name) AS p_name_upper
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // T3: strip non-digits (the reference's arrondissement extract).
    QuerySpec("q_regex_digits", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          Derive.digitsOnly(col("o_orderpriority")).cast("long").as("priority_code"))
        .distinct()
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT DISTINCT o_orderpriority,
        |       CAST(REGEXP_REPLACE(o_orderpriority, '\D', '', 'g') AS BIGINT) AS priority_code
        |FROM orders ORDER BY o_orderpriority""".stripMargin)),

    // T4: unit upscale from first existing candidate column.
    QuerySpec("q_arith_scale", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(col("l_orderkey"), col("l_linenumber"),
          Derive.scaledFromFirstExisting(li,
            Seq("l_quantity_mwh", "l_quantity"), 1000.0).as("qty_scaled"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity * 1000.0 AS qty_scaled
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // T5: zero→null then divide (null result where denominator is 0).
    QuerySpec("q_safe_ratio", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Derive.safeRatio(col("l_extendedprice"), col("l_discount")).as("price_per_disc"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice / NULLIF(l_discount, 0) AS price_per_disc
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // T6: absolute + signed differences.
    QuerySpec("q_abs_diff", (s, dir) => {
      val net = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Derive.absDiff(col("l_extendedprice"), net).as("abs_disc_amount"),
          Derive.signedDiff(net, col("l_extendedprice")).as("net_minus_gross"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |       ABS(l_extendedprice - l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)) AS abs_disc_amount,
        |       l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) - l_extendedprice AS net_minus_gross
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // T9/T1 core: coercing try_cast ladder incl. the ','→'.' decimal fix.
    QuerySpec("q_try_cast", (s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          expr("try_cast(p_name AS DOUBLE)").as("name_as_num"),
          expr("try_cast(replace(CAST(p_retailprice AS STRING), '.', ',') AS DOUBLE)")
            .as("price_comma_fails"),
          expr("try_cast(replace(replace(CAST(p_retailprice AS STRING), '.', ','), ',', '.') AS DOUBLE)")
            .as("price_fixed"))
        .orderBy("p_partkey")
    }, Some(
      """SELECT p_partkey,
        |       TRY_CAST(p_name AS DOUBLE) AS name_as_num,
        |       TRY_CAST(REPLACE(CAST(p_retailprice AS VARCHAR), '.', ',') AS DOUBLE) AS price_comma_fails,
        |       TRY_CAST(REPLACE(REPLACE(CAST(p_retailprice AS VARCHAR), '.', ','), ',', '.') AS DOUBLE) AS price_fixed
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // J1+E8: inner equi-join with suffix namespacing; dim side broadcast.
    QuerySpec("q_inner_join_suffix", (s, dir) => {
      val c = Names.withSuffix(
        t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment"), "_c")
      val o = Names.withSuffix(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"), "_o")
      Joins.innerEqui(o, c, "o_custkey_o", "c_custkey_c", broadcastRight = true)
        .orderBy("o_orderkey_o")
    }, Some(
      """SELECT o_orderkey AS o_orderkey_o, o_custkey AS o_custkey_o,
        |       o_totalprice AS o_totalprice_o, c_custkey AS c_custkey_c,
        |       c_name AS c_name_c, c_mktsegment AS c_mktsegment_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey_o""".stripMargin), headline = true),

    // J2: left outer join on string-cast keys + whole-row dedup.
    QuerySpec("q_left_join_strkey", (s, dir) => {
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      Joins.leftOuterOnStringKey(o, c, "o_custkey", "c_custkey")
        .orderBy("o_orderkey")
    }, Some(
      """SELECT DISTINCT o_orderkey, CAST(o_custkey AS VARCHAR) AS o_custkey,
        |       o_orderstatus, CAST(c_custkey AS VARCHAR) AS c_custkey, c_name
        |FROM orders LEFT JOIN customer
        |  ON CAST(o_custkey AS VARCHAR) = CAST(c_custkey AS VARCHAR)
        |ORDER BY o_orderkey""".stripMargin)),

    // J3: single-key anti-join (load-side idempotence). "Existing" is the
    // subset of customers already holding a pending order, so survivors are
    // non-empty — the load would append only them.
    QuerySpec("q_anti_join_pk", (s, dir) => {
      val existing = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("c_custkey"))
      LoadDedup.antiJoinOnKeys(
        t(s, dir, "customer").select("c_custkey", "c_name"),
        existing, Seq("c_custkey"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_orderstatus = 'P' AND o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    // J4: multi-key anti-join.
    QuerySpec("q_anti_join_multikey", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val existing = li.filter(col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
      LoadDedup.antiJoinOnKeys(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        existing, Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem i
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM lineitem e
        |  WHERE e.l_shipdate < TIMESTAMP '1999-01-01'
        |    AND e.l_orderkey = i.l_orderkey AND e.l_linenumber = i.l_linenumber)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // A10: whole-row distinct.
    QuerySpec("q_dedup_rows", (s, dir) => {
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A11: dedup-by-key keeping FIRST under an explicit deterministic order.
    QuerySpec("q_dedup_keep_first", (s, dir) => {
      LoadDedup.dedupKeepFirst(
        t(s, dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate"),
        keys = Seq("o_custkey"), orderBy = Seq("o_orderdate", "o_orderkey"))
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))
        .orderBy("o_custkey")
    }, Some(
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // Set op: union of API "pages" by name (column order differs by design).
    QuerySpec("q_union_pages", (s, dir) => {
      val o = t(s, dir, "orders")
      val pageF = o.filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val pageP = o.filter(col("o_orderstatus") === "P")
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
      pageF.unionByName(pageP).orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_orderkey""".stripMargin)),

    // T7+T8: config-driven entity conform: defaults for missing declared
    // columns, project, dedup.
    QuerySpec("q_entity_conform", (s, dir) => {
      val spec = Entities.EntitySpec("clients", Seq(
        "c_custkey" -> Entities.ColSpec("int64", -1.0),
        "c_name" -> Entities.ColSpec("string", "N/C"),
        "c_mktsegment" -> Entities.ColSpec("string", "N/C"),
        "code_postal" -> Entities.ColSpec("string", "N/C"),
        "score" -> Entities.ColSpec("float64", -1.0)), Nil)
      Entities.conform(t(s, dir, "customer"), spec).orderBy("c_custkey")
    }, Some(
      """SELECT DISTINCT c_custkey, c_name, c_mktsegment,
        |       'N/C' AS code_postal, CAST(-1.0 AS DOUBLE) AS score
        |FROM customer ORDER BY c_custkey""".stripMargin))
  )
}
