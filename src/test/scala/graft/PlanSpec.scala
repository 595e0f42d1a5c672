package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.queries.CoreRelational

/** Physical-plan assertions for the properties the 100 TB design relies on
  * (SCALING.md): filters reach the parquet scan, projections prune the read
  * schema, dimension joins broadcast, aggregations pre-reduce map-side, and
  * hot paths stay inside whole-stage codegen. These lock the *plan shape*,
  * not timings — a regression here (e.g. a refactor that hides a filter
  * behind a non-pushable expression) breaks at test time instead of
  * surfacing as a 100× slowdown at scale.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan
    val unwrapped = p match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    unwrapped.toString
  }

  test("equality filter is pushed into the parquet scan") {
    val df = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === lit("BUILDING"))
    val plan = planString(df)
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
  }

  test("two-column projection prunes the parquet read schema") {
    val df = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = planString(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:"), plan)
    // the widest lineitem column must NOT be read for a 2-column projection
    assert(!plan.contains("l_comment"), plan)
  }

  test("flagship star join broadcasts the customer dimension") {
    val plan = planString(CoreRelational.flagship(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the fact-side revenue pre-aggregation reduces map-side before any
    // exchange: a partial aggregate must appear below the shuffle
    assert(plan.contains("partial_"), plan)
  }

  test("native expressions run inside whole-stage codegen") {
    val df = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), graft.GraftFunctions.column("simhash64", col("text")).as("h"))
    val exec = df.queryExecution.executedPlan
    val unwrapped = exec match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val hasWscg = unwrapped.collect { case w: WholeStageCodegenExec => w }.nonEmpty
    assert(hasWscg, unwrapped.toString)
  }

  test("as-of join plans exactly one exchange per input (no range-join blowup)") {
    import spark.implicits._
    val l = Seq((1L, 7L, 100L)).toDF("event_id", "user_id", "us")
    val r = Seq((10L, 7L, 80L, 1.0)).toDF("view_id", "user_id", "us", "value")
      .select($"user_id", $"us", $"view_id", $"value")
    val df = graft.engine.TimeJoins.asofJoinBackward(
      l, r, Seq("user_id"), "us", Seq("view_id", "value"))
    val plan = planString(df)
    // union + one window: hash exchanges only on the partition key — a
    // range-join formulation would surface as a join node here instead
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    val exchanges = "hashpartitioning".r.findAllIn(plan.toLowerCase).length
    assert(exchanges >= 1, plan)
    assert(!plan.toLowerCase.contains("cartesian"), plan)
  }

  test("range self-join is a bucketed equi-join, not a nested loop") {
    import spark.implicits._
    val df = graft.engine.TimeJoins.rangeSelfJoin(
      Seq((1L, 7L, 95L)).toDF("event_id", "user_id", "us"),
      Seq("user_id"), "us", "event_id", 100L)
    val plan = planString(df)
    // candidates must come from a hash-partitionable equi-join on
    // (keys, bucket); the Δ predicate is a post-join filter
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.toLowerCase.contains("cartesian"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("minhash signature kernel is evaluated exactly once (generate barrier)") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e"), (2L, "")).toDF("doc_id", "text")
    val sig = graft.llm.Dedup.minhashSignatures(d, "doc_id", "text", 3, 4)
    val plan = sig.queryExecution.executedPlan.toString
    // the null filter must ride ABOVE the Generate: a pushed-down filter
    // would re-run the whole digest kernel per row (2 occurrences)
    val occurrences = "minhash_sigs".r.findAllIn(plan).length
    assert(occurrences === 1, plan)
    // and the null-doc row is still dropped
    assert(sig.count() === 1)
  }

  test("non-string input to native text kernels fails at analysis time") {
    import spark.implicits._
    graft.GraftFunctions.registerAll(spark)
    val d = Seq((1L, 2L)).toDF("id", "num")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      d.selectExpr("minhash_sigs(num, 3, 4)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"))
    intercept[org.apache.spark.sql.AnalysisException] {
      d.selectExpr("winnow_fps(num, 8, 4)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      d.selectExpr("word_shingles(num, 3)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      d.selectExpr("simhash64(num)").collect()
    }
  }

  test("anti-join dedup ships keys only (pruned scan on the existing side)") {
    val orders = Tables.load(spark, dir, "orders")
    val existing = Tables.load(spark, dir, "orders").limit(100)
    val df = graft.engine.LoadDedup.antiJoinOnKeys(orders, existing, Seq("o_orderkey"))
    val plan = planString(df)
    // the anti-join's build side must read only the key column
    assert(plan.contains("LeftAnti"), plan)
  }

  test("semi-join plans as a real semi join (no row multiplication)") {
    val orders = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val df = orders.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
    val plan = planString(df)
    assert(plan.contains("LeftSemi"), plan)
    // probe side reads only the join key + pushed filter column
    assert(plan.contains("ReadSchema: struct<l_orderkey:"), plan)
    assert(!plan.contains("l_extendedprice"), plan)
  }

  test("forward as-of join: window formulation, one exchange, no join node") {
    import spark.implicits._
    val l = Seq((1L, 7L, 100L)).toDF("event_id", "user_id", "us")
    val r = Seq((10L, 7L, 120L, 1.0)).toDF("view_id", "user_id", "us", "value")
      .select($"user_id", $"us", $"view_id", $"value")
    val df = graft.engine.TimeJoins.asofJoinForward(
      l, r, Seq("user_id"), "us", Seq("view_id", "value"))
    val plan = planString(df)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.toLowerCase.contains("cartesian"), plan)
  }

  test("grouping sets expand once and pre-reduce map-side") {
    val df = Tables.load(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val plan = planString(df)
    // one Expand node feeds a partial aggregate below the exchange: the
    // subtotal fan-out happens map-side, the shuffle carries pre-reduced
    // (group, partial-count) rows only
    val expands = "Expand".r.findAllIn(plan).length
    assert(expands === 1, plan)
    assert(plan.contains("partial_"), plan)
  }

  test("contamination check broadcasts the eval shingle set") {
    val d = Tables.load(spark, dir, "documents")
    val eval = d.filter(pmod(col("doc_id"), lit(50)) === 0)
    val train = d.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val plan = planString(
      graft.llm.Dedup.contaminatedDocs(train, eval, "doc_id", "text", n = 8))
    // eval corpora are benchmark-sized: their distinct shingles must ride
    // a broadcast, never shuffle the training side's shingle stream
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
    // and the one shuffle aggregates matched hits only: the partial
    // aggregate sits below the exchange
    assert(plan.contains("partial_"), plan)
  }

  test("sequence packing windows per shard, no global sort") {
    val plan = planString(graft.llm.Sampling.packSequences(
      Tables.load(spark, dir, "documents").select("doc_id", "n_chars"),
      "doc_id", "n_chars", seqLen = 2048, numShards = 4))
    // the running sum must partition by shard (hash exchange), NOT run as
    // a single global-order window (range exchange into one partition)
    assert(plan.contains("hashpartitioning(shard"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("bloom-pruned anti-join: only the probable-hit branch joins") {
    import spark.implicits._
    // range (a real scan node), not a local Seq: ConvertToLocalRelation
    // would pre-evaluate the probe driver-side and hide it from the plan
    val incoming = spark.range(1, 101).toDF("pk")
    val existing = (1L to 10L).toDF("pk")
    val df = graft.engine.LoadDedup.antiJoinBloomPruned(
      incoming, existing, Seq("pk"), expectedKeys = 10L)
    val plan = planString(df)
    // exactly one anti join (the exact path); the definitely-new branch
    // is a plain filtered scan unioned back in
    val antis = "LeftAnti".r.findAllIn(plan).length
    assert(antis === 1, plan)
    assert(plan.contains("Union"), plan)
    // the membership probe is the NATIVE bloom_might_contain expression —
    // no ScalaUDF node anywhere (a udf would break whole-stage codegen on
    // the incoming scan, the last such break the engine had)
    assert(plan.contains("bloom_might_contain"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("bloom-prefiltered contamination probe is codegen-native too") {
    import spark.implicits._
    val train = Seq((1L, "aa bb cc dd"), (2L, "ee ff gg hh"))
      .toDF("doc_id", "text")
    val eval = Seq((10L, "aa bb cc zz")).toDF("doc_id", "text")
    val plan = planString(graft.llm.Dedup.contaminatedDocsBloom(
      train, eval, "doc_id", "text", n = 3, expectedShingles = 10L))
    assert(plan.contains("bloom_might_contain"), plan)
    assert(!plan.toLowerCase.contains("udf"), plan)
  }

  test("hll sketch pre-reduces map-side (partial max per bucket)") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => ("g", i)).toDF("g", "v")
    val plan = planString(graft.llm.Sketches.hllDistinct(df, "g", "v"))
    // the per-(group,bucket) rho reduction must combine before the exchange
    assert(plan.contains("partial_max"), plan)
  }

  test("cms probe joins the constant-size sketch via broadcast") {
    import spark.implicits._
    val vals = (1 to 500).map(i => s"t${i % 40}").toDF("v")
    val plan = planString(graft.llm.Sketches.cmsCounts(vals, "v"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // sketch build pre-reduces map-side before its exchange
    assert(plan.contains("partial_count"), plan)
  }

  test("cov_sums aggregates with a map-side partial (one buffer per task)") {
    val df = Tables.load(spark, dir, "embeddings")
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .agg(graft.llm.Covariance.covSums(col("v"), 64).as("cs"))
    val plan = planString(df)
    assert(plan.contains("partial_cov_sums"), plan)
  }

  test("segment dedup: keep-first window shuffles md5 keys, not segment text") {
    val df = graft.llm.Dedup.segmentDedup(
      Tables.load(spark, dir, "documents"), "doc_id", "text", k = 10)
    val plan = planString(df)
    // the window's exchange partitions on the 16-byte derived key
    assert(plan.contains("hashpartitioning(__key"), plan)
  }

  test("melt plans one map-only Expand: no shuffle, no unioned self-scans") {
    val df = graft.engine.Derive.melt(Tables.load(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val plan = planString(df)
    assert("Expand".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("Exchange"), plan)
    assert("FileScan|Scan parquet".r.findAllIn(plan).length === 1, plan)
  }

  test("PQ codebook and ADC LUT ride broadcasts; argmin is an aggregate") {
    val df = graft.llm.Similarity.pqAdcTopK(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
      m = 8, ksub = 16, queryIds = Seq(20L, 21L, 22L), k = 5)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // no window sort anywhere: subspace argmin and top-k are aggregates
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_"), plan)
  }

  test("corr matrix accumulates ALL moments in one scan with map-side partials") {
    val df = graft.engine.Stats.corrMatrix(
      Tables.load(spark, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val plan = planString(df)
    assert("FileScan|Scan parquet".r.findAllIn(plan).length === 1, plan)
    assert(plan.contains("partial_"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("tfidf cosine pre-reduces map-side; the only nested-loop join is " +
      "the 1-row n_docs broadcast") {
    val df = graft.llm.TextAnalysis.tfidfCosinePairs(
      Tables.load(spark, dir, "documents"), "doc_id", "text",
      maxDf = 20L, minCos = 0.15, n = 3)
    val plan = planString(df)
    // tf / df / dot / norm aggregations all pre-reduce before exchanges
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the scalar doc count rides a broadcast, not a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // the postings subtree feeds the norms AND both pair-join sides:
    // exchange reuse must dedupe it at runtime (measured: an explicit
    // materialization barrier adds nothing on top) — losing this reuse
    // would re-run the tokenize+tf+df pipeline three times. AQE decides
    // reuse during execution, so check the FINAL adaptive plan.
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") ||
      finalPlan.contains("ReusedQueryStage") ||
      finalPlan.contains("TableCacheQueryStage"), finalPlan)
  }

  test("scd2 merge is exactly one full-outer join; history unions " +
      "scan-to-sink") {
    val c = Tables.load(spark, dir, "customer")
    val dim = c.select(col("c_custkey"), col("c_acctbal"),
      lit(java.sql.Date.valueOf("2024-01-01")).as("valid_from"),
      lit(null).cast("date").as("valid_to"))
    val upd = c.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), (col("c_acctbal") + 1).as("c_acctbal"))
    val plan = planString(graft.engine.Scd.scd2Apply(dim, upd,
      Seq("c_custkey"), Seq("c_acctbal"),
      lit(java.sql.Date.valueOf("2024-06-01"))))
    // Catalyst specializes the logical full-outer through each branch's
    // presence filter (EliminateOuterJoin): kept/closed becomes LeftOuter,
    // opened becomes RightOuter — and BOTH then broadcast the small batch
    // side instead of shuffling, the plan a full outer could never have
    assert(plan.contains("LeftOuter"), plan)
    assert(plan.contains("RightOuter"), plan)
    assert(plan.linesIterator.count(_.contains("Join")) === 2, plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).length === 2, plan)
    assert(plan.contains("Union"), plan)
  }

  test("derived synthetic-key upsert: the max-key scan is pruned to the " +
      "key column and broadcasts as a 1-row side, no cartesian") {
    val plan = planString(QueryRegistry.byName("q_upsert").run(spark, dir))
    // the max(o_orderkey) derivation must not widen any scan: at least
    // one orders scan reads ONLY the key column
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint>"), plan)
    // the 1-row max joins via broadcast (scalar-broadcast shape), and
    // nothing in the plan degenerates to an unbounded cross product
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Broadcast"), plan)
  }

  test("categorical encoders: the mapping side broadcasts back; the fact " +
      "side never shuffles for the join") {
    val idx = planString(QueryRegistry.byName("q_index_encode")
      .run(spark, dir))
    // dense-index map-back: a broadcast hash join, not a shuffled one —
    // the fact table stays in place (the output ORDER BY is the only
    // fact-side exchange in the plan)
    assert(idx.contains("BroadcastHashJoin"), idx)
    assert(!idx.contains("SortMergeJoin"), idx)
    val te = planString(QueryRegistry.byName("q_target_encode")
      .run(spark, dir))
    assert(te.contains("BroadcastHashJoin"), te)
    assert(!te.contains("SortMergeJoin"), te)
    // feature hashing is pure map-only: a single stage, no join and no
    // aggregation anywhere in the plan
    val he = planString(QueryRegistry.byName("q_hash_encode")
      .run(spark, dir))
    assert(!he.contains("Join"), he)
    assert(!he.contains("Aggregate"), he)
  }

  test("blocked jaro linkage: hash join on the block key, no nested loop; " +
      "the kernel stays inside whole-stage codegen") {
    val df = QueryRegistry.byName("q_jaro_linkage").run(spark, dir)
    val plan = planString(df)
    // candidates come from an equi-join on __blk — never a cross product
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("jaro_winkler"), plan)
    // the scoring join sits under WholeStageCodegen, so the kernel call is
    // a compiled static invoke, not interpreted expression dispatch. AQE
    // inserts codegen stages as query stages materialize, so check the
    // FINAL adaptive plan (initialPlan never carries WSCG markers).
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    // "*(n) BroadcastHashJoin" = the join runs inside codegen stage n
    assert(finalPlan.linesIterator
      .exists(l => l.contains("*(") && l.contains("BroadcastHashJoin")),
      finalPlan)
  }

  test("composite-block jaro linkage: equi-join on the high-cardinality " +
      "composite key, no nested loop, kernel in codegen") {
    val df = QueryRegistry.byName("q_jaro_linkage_composite").run(spark, dir)
    val plan = planString(df)
    // pairs form ONLY via the __cb equi-join (brand|first-token) — the
    // production-cardinality block — never a cross product or theta join
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("jaro_winkler"), plan)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.linesIterator
      .exists(l => l.contains("*(") && l.contains("HashJoin")), finalPlan)
  }

  test("sorted-neighborhood linkage: rank windows per block (no global " +
      "single-partition sort); neighbor pairing is an equi-join") {
    val plan = planString(QueryRegistry.byName("q_snm_linkage")
      .run(spark, dir))
    // row_number partitions on the block column — a global orderBy window
    // would show an empty partition spec and serialize one task at scale
    assert(plan.contains("windowspecdefinition(__blk"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("cusum: both running windows share ONE sort+exchange; the peak " +
      "argmax pre-prunes via WindowGroupLimit and reuses the partitioning") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1L, 1.0), ("a", 2L, 2L, 2.0))
      .toDF("g", "pos", "id", "v")
    val plan = planString(
      graft.engine.Stats.cusumDrift(df, "g", "pos", "id", "v"))
    // exactly 2 hash exchanges total: the (n, S) aggregation and the one
    // window partitioning — a second window exchange would double the
    // sort-bound cost at scale
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges === 2, plan)
    // per-group cut rows ride a broadcast, and the top-1 peak pick is
    // rank-limit-pruned map-side before its shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("olsMulti: all nine moments reduce in one aggregation pass with " +
      "map-side partials") {
    val plan = planString(graft.engine.Stats.olsMulti(
      Tables.load(spark, dir, "lineitem"), "l_returnflag",
      "l_extendedprice", "l_quantity", "l_discount"))
    assert(plan.contains("partial_sum"), plan)
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("trimmedMean: percentile cuts broadcast back; survivor sums " +
      "pre-reduce map-side") {
    val plan = planString(graft.engine.Stats.trimmedMean(
      Tables.load(spark, dir, "lineitem"), "l_returnflag",
      "l_extendedprice", 0.05, 0.95))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_percentile"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("naive Bayes: per-doc argmax pre-prunes map-side (WindowGroupLimit " +
      "Partial); the label cross never plans a CartesianProduct") {
    val plan = planString(QueryRegistry.byName("q_naive_bayes")
      .run(spark, dir))
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("row_number"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bm25: term-df join broadcasts; tf aggregation pre-reduces " +
      "map-side; no cartesian outside broadcast scalars") {
    val plan = planString(QueryRegistry.byName("q_bm25").run(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("acfGrid: all five lags share ONE window pass") {
    val daily = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        datediff(to_date(col("l_shipdate")),
          lit("1992-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("v"))
    val plan = planString(graft.engine.TimeSeries.acfGrid(
      daily, "l_returnflag", "day", "v", maxLag = 5))
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows === 1, plan)
  }

  test("native bootstrap: poisson_boot_sums pre-reduces map-side " +
      "(partial aggregate below the exchange), no row explosion") {
    val plan = planString(graft.engine.Bootstrap.meanCi(
      Tables.load(spark, dir, "lineitem"), "l_returnflag",
      "l_quantity",
      concat(col("l_orderkey").cast("string"), lit("|"),
        col("l_linenumber").cast("string"))))
    assert(plan.contains("partial_poisson_boot_sums"), plan)
    // the declarative path's B-fold amplification is gone: no Generate
    // (explode) on the bootstrap aggregation's INPUT side — the plan
    // prints top-down, so input nodes are the lines AFTER the first
    // poisson_boot_sums aggregate (the output-side B-row explode of the
    // result array is expected and tiny)
    val genBelowAgg = plan.linesIterator
      .dropWhile(!_.contains("poisson_boot_sums"))
      .exists(_.contains("Generate explode"))
    assert(!genBelowAgg, plan)
  }

  test("item-CF: basket self-join is an equi-join (never cartesian); " +
      "co-occurrence counts pre-reduce map-side") {
    val plan = planString(QueryRegistry.byName("q_item_cf")
      .run(spark, dir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("spearman: rank joins are equi-joins on (group, value); " +
      "moment sums pre-reduce map-side") {
    val plan = planString(graft.engine.RankStats.spearman(
      Tables.load(spark, dir, "lineitem"), "l_returnflag",
      "l_quantity", "l_extendedprice"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("skyline: one staircase window, equi-join back — never a " +
      "quadratic dominance join") {
    val plan = planString(graft.engine.Skyline.frontier2d(
      Tables.load(spark, dir, "part"), "p_partkey",
      "p_retailprice", "p_size"))
    assert("Window \\[".r.findAllIn(plan).length === 1, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("aucRank: ranks build on the distinct-score table with " +
      "map-side tie pre-aggregation") {
    val plan = planString(graft.engine.Eval.aucRank(
      Tables.load(spark, dir, "lineitem"), "l_extendedprice",
      col("l_returnflag") === "R"))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Join"), plan) // two stacked aggs + window only
  }

  test("keyness: term/group totals broadcast back; one token-explode " +
      "scan feeds everything") {
    val plan = planString(graft.llm.Keyness.keyness(
      Tables.load(spark, dir, "documents"), "source", "text"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("negativeSample: rank map-back and positive anti-join never plan " +
      "a cartesian; the catalog rank table broadcasts") {
    val pos = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("u"), col("o_orderkey").as("it"))
    val plan = planString(graft.llm.Sampling.negativeSample(
      pos, "u", "it", Tables.load(spark, dir, "part"), "p_partkey", k = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("oversample: factors ride a broadcast map-back — the fact side " +
      "never sort-merge-joins") {
    val plan = planString(graft.llm.Sampling.oversample(
      Tables.load(spark, dir, "events")
        .select(col("event_id"), col("event_type")), "event_type"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("nnMatchAtt: the whole match is windows over one sorted pass — " +
      "no join of treated against controls at all") {
    val units = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("id"),
        (col("o_orderkey") % 2 === 0).as("tr"),
        col("o_totalprice").as("x"), col("o_totalprice").as("y"))
    val plan = planString(graft.engine.Eval.nnMatchAtt(
      units, "tr", "x", "y", "id"))
    assert(!plan.contains("Join"), plan) // windows + one global agg only
    assert("Window".r.findAllIn(plan).nonEmpty, plan)
  }

  test("chi2Select: one term-keyed aggregation with map-side partials; " +
      "corpus totals ride a 1-row broadcast, never a cartesian") {
    val plan = planString(graft.llm.TextAnalysis.chi2Select(
      Tables.load(spark, dir, "documents"), "doc_id", "text",
      col("lang") === "en", k = 20))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // the 1-row tot
  }

  test("IVF kNN classify: the pair stage is a cell equi-join — the only " +
      "nested-loop join is the broadcast centroid attach, never an " +
      "all-pairs cartesian") {
    val plan = planString(graft.engine.Eval.knnClassifyIvf(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
      "label", k = 5, numCells = 16))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only BNLJs are the numCells-row centroid broadcasts — one per
    // side of the cell self-join (the duplicated assignment subtree;
    // AQE's exchange reuse dedupes it at runtime) — never a pair-stage
    // nested loop over the corpus
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 2, plan)
    // the heap top-k pre-reduces map-side before the id shuffle
    assert(plan.contains("partial_topk_by_score"), plan)
  }

  test("fisherExact: the k-grid is a Generate over the 1-row cell agg — " +
      "no cartesian; the observed term rides a 1-row broadcast") {
    val plan = planString(graft.engine.Stats.fisherExact(
      Tables.load(spark, dir, "orders"),
      col("o_orderpriority") === "1-URGENT",
      col("o_orderstatus") === "F"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate explode"), plan) // the margin-sized grid
    assert(plan.contains("BroadcastNestedLoopJoin"), plan) // 1-row obs
    assert(plan.contains("partial_sum"), plan) // cell counts pre-reduce
  }

  test("ipwAte: one stratum-keyed aggregation, no join anywhere — the " +
      "Hajek ratios are a second global agg over the stratum grid") {
    val base = Tables.load(spark, dir, "orders")
      .select((col("o_orderkey") % 3).as("str"), col("o_totalprice"),
        (col("o_orderkey") % 2 === 0).as("tr"), lit(0.5).as("p"))
    val plan = planString(graft.engine.Eval.ipwAte(
      base, "str", col("tr"), "o_totalprice", "p"))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("averagePrecision: distinct-score blocks pre-reduce map-side " +
      "before the single grid window — no join") {
    val plan = planString(graft.engine.Eval.averagePrecision(
      Tables.load(spark, dir, "orders")
        .select(round(col("o_totalprice") / 1000.0, 0).as("s"),
          col("o_orderstatus")),
      "s", col("o_orderstatus") === "F"))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_count"), plan)
    assert("Window".r.findAllIn(plan).length === 1, plan)
  }

  test("ebSmooth: the two prior scalars ride a 1-row broadcast back onto " +
      "the key table — never a shuffle join of keys against moments") {
    val per = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .as("k"), count(lit(1)).as("n"))
    val plan = planString(graft.engine.Eval.ebSmooth(per, "l_suppkey",
      "k", "n"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sequentialPairs: the pair stage is a session-keyed equi-join " +
      "(never a cartesian) over the first-occurrence table") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"), col("ts"))
    val plan = planString(graft.llm.Itemsets.sequentialPairs(
      ev, Seq("user_id", "day"), "event_type", "ts", minSupport = 1L))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_min"), plan) // first-occurrence agg
  }

  test("dpLaplaceCounts: one count aggregation then map-only noise — " +
      "no join, no window, no second shuffle") {
    val plan = planString(graft.engine.Governance.dpLaplaceCounts(
      Tables.load(spark, dir, "customer"), "c_nationkey", epsilon = 0.5))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_count"), plan)
    assert("Exchange".r.findAllIn(plan).length === 1, plan)
  }

  test("canonicalizeUrl is map-only: no exchange, no join — pure " +
      "codegen'd string kernels") {
    val plan = planString(graft.llm.TextAnalysis.canonicalizeUrl(
      Tables.load(spark, dir, "documents")
        .select(concat(lit("https://h/"), col("doc_id")).as("url")),
      "url"))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    // the higher-order filter/array_sort lambdas keep the outer project
    // out of whole-stage codegen (Spark interprets HOFs); the shape that
    // matters at scale — single map-only projection, zero shuffle — is
    // asserted above
  }

  test("robotsDecisions: rules meet URLs on the HOST equi-join — " +
      "never a cartesian of rules against the corpus") {
    val robots = Tables.load(spark, dir, "documents")
      .select(concat(lit("h"), col("doc_id") % 7).as("host"),
        lit("User-agent: *\nDisallow: /p/").as("content")).distinct()
    val urls = Tables.load(spark, dir, "documents")
      .select(concat(lit("h"), col("doc_id") % 7).as("host"),
        concat(lit("/p/"), col("doc_id")).as("path"))
    val plan = planString(graft.engine.Quality.robotsDecisions(
      robots, "host", "content", urls, "host", "path", "graftbot"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("mrlOverlap: the bounded query side broadcasts; both rankings " +
      "share one candidate join and pre-reduce via the heap top-k") {
    val plan = planString(graft.llm.Similarity.mrlOverlap(
      Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
      prefixDim = 16, k = 5, queryPred = col("qid") < 5))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_topk_by_score"), plan)
    // ONE candidate join feeds both the full and prefix rankings
    assert("NestedLoopJoin".r.findAllIn(plan).length <= 1, plan)
  }

  test("heapsLaw: the max-id scalar broadcasts; the only windows run " +
      "AFTER the bucket aggregation — no row-scale sort") {
    val plan = planString(graft.llm.TextAnalysis.heapsLaw(
      Tables.load(spark, dir, "documents"), "doc_id", "text", 16))
    assert(!plan.contains("CartesianProduct"), plan)
    // two grid windows (cumN, cumV share one spec) over the bucket agg
    assert(plan.contains("partial_count"), plan)
    assert("Window".r.findAllIn(plan).length <= 2, plan)
  }

  test("hurstRs: block stats meet the series on the (size, block) " +
      "equi-join; cumdev windows partition by block — never global") {
    val daily = Tables.load(spark, dir, "lineitem")
      .groupBy(datediff(to_date(col("l_shipdate")),
        lit("1992-01-01").cast("date")).cast("long").as("day"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
    val plan = planString(graft.engine.TimeSeries.hurstRs(
      daily, "day", "qty"))
    assert(!plan.contains("CartesianProduct"), plan)
    // the cumdev window partitions on (__s, __blk) — block-local
    assert("windowspecdefinition\\(__s#\\d+, __blk#".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("zipIndex (textRank's word index): the per-key window partitions " +
      "by spark_partition_id — no vocabulary-wide single-partition sort") {
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(graft.llm.TextAnalysis.tokens(col("text")))
        .as("w")).distinct()
    val plan = planString(graft.llm.TextAnalysis.zipIndex(vocab, "w"))
    // the row_number spec must carry __pid as its partition key...
    assert("windowspecdefinition\\(__pid#\\d+, w#".r
      .findFirstIn(plan).isDefined, plan)
    // ...and no window may sort the raw vocabulary globally (the r5
    // shape: windowspecdefinition(w# ASC ...) with no partition column)
    assert("windowspecdefinition\\(w#".r.findFirstIn(plan).isEmpty, plan)
    // ONE subtree: bit-composed ids need no offsets aggregation joined
    // back, so there is no join for a torn __pid assignment to hide in
    assert(!plan.contains("Join"), plan)
  }

  test("kendallTauB: pairs come from a group-keyed equi-join over the " +
      "bounded series grid — the join key is the group, never a cartesian") {
    val ser = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), month(col("l_shipdate")).as("m"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("v"))
    val plan = planString(graft.engine.Stats.kendallTauB(
      ser, "l_returnflag", "m", "v"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
