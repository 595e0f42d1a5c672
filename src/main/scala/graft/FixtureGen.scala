package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic fixture scaler for the round-5 scale-stress pass: reads
  * a driver testdata dir (TESTDATA.md schema) and writes a `factor`×
  * larger fixture with the SAME schema and FK structure, so the full
  * oracle sweep + bench can run at an sf1-equivalent (10× sf0.1) scale
  * and turn the 100 TB plan-shape arguments into measured scaling.
  *
  * Construction (no RNG — bit-reproducible by anyone):
  *  - `region`/`nation` stay fixed (TPC-H dims do not scale);
  *  - every other table is `factor` key-shifted replicas: replica r maps
  *    each key/FK column k → k + r·N(table-of-k), where N is the source
  *    table's row count — keys stay dense, every FK keeps exactly its
  *    source cardinality ratio, and replica 0 IS the source fixture;
  *  - `documents.text` gets a per-replica suffix token (` repR`) so the
  *    corpus does not become 90% exact duplicates (which would measure
  *    the dedup tier's duplicate-collapse path, not its scaling;
  *    `n_chars` is recomputed to keep the `n_chars = len(text)`
  *    invariant the source fixture has);
  *  - `embeddings.embedding[0]` gets +r·0.001 so vectors are distinct
  *    across replicas (pure replication would hand ANN queries
  *    degenerate all-ties top-k sets).
  *
  * Optional 4th arg `spread`: additionally make each replica's part
  * BRANDS and NAME first tokens replica-distinct (`p_brand || ' r<r>'`,
  * `'r<r>_' || p_name`), and each replica's document text WORD-wise
  * replica-distinct (every token t becomes `r<r>z<t>` — a prefix-free
  * PREFIX, see the in-code note — so replicas of one doc
  * share NO shingles — they are genuinely different documents, not the
  * plain mode's trailing-token near-clones that band into C(factor,2)
  * LSH cliques). Plain replication keeps every fixed-cardinality
  * BLOCK KEY's block count constant while block sizes grow ×factor —
  * within-block pairs grow ×factor², which measures the Σ(block²)
  * contract, not the engine (SCALING.md "fixture-replication block
  * inflation"). Real 10× data grows the distinct key space instead;
  * `spread` models that regime (block count ×factor, sizes flat), so the
  * linkage/edit-distance family AND the near-dup cluster family can be
  * MEASURED in it.
  *
  * Optional `tables=a,b,c` arg: write only those tables (plus the
  * always-tiny region/nation dims). A third-decade fixture (factor
  * 1000, ~20 GB) whose tier only reads lineitem+embeddings should not
  * spend 25 GB and half an hour replicating events it never scans; the
  * key-shift math is unaffected because the SOURCE counts still come
  * from the full source dir.
  *
  * Optional `zipf` arg (the round-10 skew drill): after replication,
  * redirect a deterministic md5-drawn fraction of FKs onto a small
  * Zipf(1)-weighted HUB set (rank drawn log-uniformly — P(rank k) ∝
  * ln(1+1/k) ≈ 1/k — via the inverse-CDF trick floor((H+1)^u)):
  *  - 25 % of lineitem rows point `l_partkey` at one of 64 global hub
  *    parts (hub degree grows ×factor with scale — a real hub, not a
  *    replica-local one): the q_adamic_adar co-supply graph gains
  *    part-side hubs far beyond maxDeg = 100;
  *  - 10 % of orders point `o_custkey` at one of 16 hub customers:
  *    q_item_cf gains power-user baskets far beyond maxBasket = 1000;
  *  - every document appends 8 hub tokens drawn from a 256-token
  *    Zipf vocabulary (`hubz<k>`, shared ACROSS replicas — appended
  *    after the spread rewrite on purpose): q_tfidf_cosine gains hub
  *    trigrams with df ≫ maxDf = 20.
  * The near-uniform TPC-H-ish fixtures never exercised the caps that
  * keep these three families linear; this variant measures cap + AQE
  * behavior under genuinely Zipfian hubs.
  *
  * Usage: sbt "runMain graft.FixtureGen /root/testdata/sf0.1 /tmp/graft-sf1 10 [spread] [zipf] [tables=lineitem,embeddings]"
  */
object FixtureGen {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.FixtureGen <srcDir> <outDir> [factor=10] [spread] " +
        "[tables=a,b,c]")
    val Array(srcDir, outDir) = args.take(2)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val flags = args.drop(3)
    val spread = flags.contains("spread")
    val zipf = flags.contains("zipf")
    val tableFilter: Option[Set[String]] = flags
      .find(_.startsWith("tables="))
      .map(_.stripPrefix("tables=").split(",").map(_.trim).toSet)
    // fail fast on unknown table names: a typo (tables=lineitm) would
    // otherwise "succeed" writing only region/nation and downstream tier
    // runs would die later on missing parquet paths
    val knownTables = Set("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings")
    tableFilter.foreach { t =>
      val unknown = t -- knownTables
      require(unknown.isEmpty,
        s"unknown tables=${unknown.mkString(",")}; known: " +
          knownTables.toSeq.sorted.mkString(","))
    }
    require(factor >= 1, s"factor=$factor")
    val spark = Sessions.local()

    // each table is read once and cached: the count below and the
    // replicate() scan reuse the same in-memory frame instead of
    // re-scanning the parquet (events would otherwise be read 3×)
    val cache = scala.collection.mutable.Map.empty[String, DataFrame]
    def load(name: String): DataFrame = cache.getOrElseUpdate(name,
      spark.read.parquet(s"$srcDir/$name.parquet").cache())
    // region/nation are always written (every query family joins the
    // tiny dims); scaled tables honor the tables= filter
    def save(df: DataFrame, name: String, parts: Int): Unit =
      if (tableFilter.forall(t => t.contains(name) ||
          name == "region" || name == "nation"))
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")

    // source row counts drive the key shifts (keys are dense 0..N-1)
    val n = Map(
      "customer" -> load("customer").count(),
      "supplier" -> load("supplier").count(),
      "part" -> load("part").count(),
      "orders" -> load("orders").count(),
      "events" -> load("events").count(),
      "documents" -> load("documents").count(),
      "embeddings" -> load("embeddings").count(),
      "user" -> (load("events").agg(max(col("user_id"))).head.getLong(0) + 1))

    /** factor replicas of df with each (column -> sourceTable) key
      * shifted by r·N(sourceTable); key columns keep their source type. */
    def replicate(df: DataFrame, keys: Map[String, String]): DataFrame = {
      val rep = df.crossJoin(
        spark.range(0, factor).toDF("__r").hint("broadcast"))
      val shifted = keys.foldLeft(rep) { case (d, (c, table)) =>
        val t = d.schema(c).dataType
        d.withColumn(c, (col(c) + col("__r") * n(table)).cast(t))
      }
      shifted
    }

    // md5-uniform in [0,1) from the (post-shift, replica-unique) row
    // identity — the Sampling.scala derivation, 15 hex chars / 16^15
    def u01(seed: String, cols: Column*): Column =
      conv(substring(md5(concat_ws("|", (lit(seed) +: cols): _*)), 1, 15),
        16, 10).cast("double") / lit(math.pow(16.0, 15))
    // Zipf(1) hub rank in [0, nHubs): inverse-CDF log-uniform draw —
    // P(rank = k) = log_{H+1}((k+2)/(k+1)) ∝ 1/k
    def zipfHub(u: Column, nHubs: Int): Column =
      (floor(pow(lit(nHubs + 1.0), u)) - 1).cast("long")

    save(load("region"), "region", 1)
    save(load("nation"), "nation", 1)
    save(replicate(load("customer"), Map("c_custkey" -> "customer"))
      .drop("__r"), "customer", 4)
    save(replicate(load("supplier"), Map("s_suppkey" -> "supplier"))
      .drop("__r"), "supplier", 1)
    val partRep = replicate(load("part"), Map("p_partkey" -> "part"))
    val partOut =
      if (!spread) partRep
      else partRep
        .withColumn("p_brand", when(col("__r") > 0,
          concat(col("p_brand"), lit(" r"), col("__r")))
          .otherwise(col("p_brand")))
        .withColumn("p_name", when(col("__r") > 0,
          concat(lit("r"), col("__r"), lit("_"), col("p_name")))
          .otherwise(col("p_name")))
    save(partOut.drop("__r"), "part", 4)
    val ordRep = replicate(load("orders"),
      Map("o_orderkey" -> "orders", "o_custkey" -> "customer"))
    val ordOut =
      if (!zipf) ordRep
      else ordRep.withColumn("o_custkey",
        when(u01("zipfcust", col("o_orderkey")) < 0.10,
          zipfHub(u01("zipfcustpick", col("o_orderkey")), 16))
          .otherwise(col("o_custkey")))
    save(ordOut.drop("__r"), "orders", 8)
    val liRep = replicate(load("lineitem"),
      Map("l_orderkey" -> "orders", "l_partkey" -> "part",
        "l_suppkey" -> "supplier"))
    val liOut =
      if (!zipf) liRep
      else liRep.withColumn("l_partkey",
        when(u01("zipfhit", col("l_orderkey"), col("l_linenumber")) < 0.25,
          zipfHub(u01("zipfpick", col("l_orderkey"), col("l_linenumber")),
            64)).otherwise(col("l_partkey")))
    save(liOut.drop("__r"), "lineitem", 16)
    save(replicate(load("events"),
      Map("event_id" -> "events", "user_id" -> "user"))
      .drop("__r"), "events", 8)
    // plain: replicas are trailing-token near-clones (shingle sets ~equal
    // → factor-way LSH cliques). spread: every TOKEN carries the replica
    // tag as an inseparable alphanumeric PREFIX (regex-group rewrite,
    // not the old word-level "_rN" suffix), so no shingle crosses
    // replicas and the within-replica near-dup structure of the source
    // is preserved exactly. The prefix form matters: the shingle
    // tokenizer splits on non-[a-z0-9] runs, so the old "word_rN" suffix
    // split into (word, rN) — interleaving a REPLICA-SHARED rN token
    // after every word and giving any two same-replica docs sharing ANY
    // word a common "rN w rN" shingle. Measured at sf10-spread (round
    // 8): 13.99M banding candidates against 25.5k true ≥0.5 pairs,
    // where the source structure is 263 candidates / 256 true per 5k
    // docs — the FIXTURE, not the engine, had gone quadratic within
    // replicas, and that is what exhausted the disk at sf100-spread in
    // round 7. A per-token prefix maps token t to "r<N>t" bijectively,
    // so within-replica Jaccard equals the source's exactly.
    val docText =
      if (!spread) when(col("__r") > 0,
        concat(col("text"), lit(" rep"), col("__r"))).otherwise(col("text"))
      else when(col("__r") > 0,
        // "z" sentinel terminates the replica number so the mapping is
        // prefix-free: without it, replica 1's token "2foo" and replica
        // 12's "foo" both map to "r12foo" (and a replica-0 source token
        // literally starting "r<digits>" collides with a tagged one),
        // silently merging shingle spaces across replicas. With the
        // sentinel a collision needs a source token matching r\d+z.*,
        // i.e. a digit-bearing source token — the corpus has none.
        regexp_replace(col("text"), lit("([a-zA-Z0-9]+)"),
          concat(lit("r"), col("__r"), lit("z$1")))).otherwise(col("text"))
    // zipf: hub tokens append AFTER the spread rewrite so they stay
    // GLOBAL (replica-shared) — hub trigram df must grow with factor
    val zipfText =
      if (!zipf) docText
      else concat((docText +: (0 until 8).flatMap(i => Seq(lit(" "),
        concat(lit("hubz"),
          zipfHub(u01(s"zipfdoc$i", col("doc_id")), 256)
            .cast("string"))))): _*)
    save(replicate(load("documents"), Map("doc_id" -> "documents"))
      .withColumn("text", zipfText)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__r"), "documents", 8)
    save(replicate(load("embeddings"), Map("vec_id" -> "embeddings"))
      .withColumn("embedding", transform(col("embedding"), (x, i) =>
        when(i === 0, x + col("__r").cast("float") * lit(0.001f))
          .otherwise(x).cast("float")))
      .drop("__r"), "embeddings", 4)

    println(s"[fixturegen] wrote ${factor}x fixture to $outDir")
    spark.stop()
  }
}
