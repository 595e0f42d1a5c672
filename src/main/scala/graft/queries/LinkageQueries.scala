package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine.{Linkage, Tables}

/** Fuzzy record-linkage tier over `part` names: blocked Jaro–Winkler
  * scoring and sorted-neighborhood candidate generation — the approximate
  * complement of the reference's exact-key address join
  * (`extract.py:529-535`), where a one-typo key silently falls out of the
  * inner join.
  *
  * Determinism: Jaro–Winkler is pinned to the textbook byte-level
  * convention (see [[graft.llm.JaroWinkler]]) so Spark's native expression
  * and DuckDB's `jaro_winkler_similarity` produce bit-identical doubles;
  * Levenshtein distances are exact integers in both engines. */
object LinkageQueries {

  private def part(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")

  def specs: Seq[QuerySpec] = Seq(

    // Blocked fuzzy match: candidates only within a brand block, scored
    // with the native codegen'd Jaro-Winkler expression, kept at >= 0.94.
    // The 25-brand block key is deliberately the low-cardinality worst
    // case (AQE skew split owns the big blocks); the score filter runs
    // inside whole-stage codegen.
    QuerySpec("q_jaro_linkage", (s, dir) => {
      Linkage.blockedJaroPairs(part(s, dir), "p_partkey", "p_name",
          "p_brand", minSim = 0.94)
        .orderBy("a_key", "b_key")
    }, Some(
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |       jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        |FROM part a
        |JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.94
        |ORDER BY a_key, b_key""".stripMargin)),

    // The PRODUCTION block key for the same code path: a high-cardinality
    // composite (brand × first name token — the postcode+phonetic shape),
    // ~2,300 blocks vs q_jaro_linkage's 25, so Σ(block²) stays ≈ linear
    // in n as data grows (mean block size n/2300 vs n/25: per-row work is
    // ~90× smaller and the blocks stay broadcast/AQE-friendly at 100×
    // scale). q_jaro_linkage remains the labeled low-cardinality skew
    // drill; this is the key a production pass would register.
    QuerySpec("q_jaro_linkage_composite", (s, dir) => {
      val blocked = part(s, dir).withColumn("__cb",
        concat_ws("|", col("p_brand"), split_part(col("p_name"), lit(" "), lit(1))))
      Linkage.blockedJaroPairs(blocked, "p_partkey", "p_name",
          "__cb", minSim = 0.94)
        .orderBy("a_key", "b_key")
    }, Some(
      """SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |       jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        |FROM part a
        |JOIN part b ON a.p_brand = b.p_brand
        | AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
        | AND a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.94
        |ORDER BY a_key, b_key""".stripMargin)),

    // Sorted-neighborhood: rank by name within a first-letter block, pair
    // each record with its 5 successors, keep near-but-not-exact names
    // (Levenshtein 1..4; exact duplicates belong to the exact-dedup tier).
    // w*n comparisons total - the linear scale twin of blocking.
    QuerySpec("q_snm_linkage", (s, dir) => {
      Linkage.sortedNeighborhoodPairs(
          part(s, dir).withColumn("__b", substring(col("p_name"), 1, 1)),
          "p_partkey", "p_name", "__b", window = 5, minDist = 1, maxDist = 4)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy("a_key", "b_key")
    }, Some(
      """WITH s AS (
        |  SELECT p_partkey, p_name, substr(p_name, 1, 1) AS blk,
        |         row_number() OVER (PARTITION BY substr(p_name, 1, 1)
        |                            ORDER BY p_name, p_partkey) AS rn
        |  FROM part)
        |SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM s a JOIN s b ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 5
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
        |ORDER BY a_key, b_key""".stripMargin)),

    // The production composition the reference's loader implies: its
    // idempotent append drops rows whose EXACT key already exists
    // (left_anti, load.py:143-158); the fuzzy tier then scores what the
    // exact key missed. Batch = keys =0 mod 10 with a deterministic
    // truncation "typo" (last character dropped — the data-entry damage
    // an exact key cannot see); existing = the rest, verbatim. Residue =
    // batch anti-joined on exact name (the reference's J3 shape), then
    // blocked Jaro-Winkler >= 0.95 recovers the match the exact join lost.
    QuerySpec("q_linkage_residue", (s, dir) => {
      val p = part(s, dir)
      val batch = p.filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey"),
          substr(col("p_name"), lit(1), length(col("p_name")) - 1)
            .as("p_name"), col("p_brand"))
      val existing = p.filter(col("p_partkey") % 10 =!= 0)
      val residue = batch.join(
        existing.select(col("p_name")).distinct(), Seq("p_name"), "left_anti")
      residue.select(col("p_partkey").as("batch_key"),
          col("p_name").as("__bn"), col("p_brand"))
        .join(existing.select(col("p_partkey").as("match_key"),
          col("p_name").as("__en"), col("p_brand")), Seq("p_brand"))
        .filter(graft.llm.JaroWinkler.jaroWinklerAtLeast(
          col("__bn"), col("__en"), 0.95))
        .select(col("batch_key"), col("match_key"),
          graft.llm.JaroWinkler.jaroWinkler(col("__bn"), col("__en")).as("sim"))
        .orderBy("batch_key", "match_key")
    }, Some(
      """WITH batch AS (
        |  SELECT p_partkey, substr(p_name, 1, length(p_name) - 1) AS p_name,
        |         p_brand
        |  FROM part WHERE p_partkey % 10 = 0),
        |existing AS (SELECT * FROM part WHERE p_partkey % 10 <> 0),
        |residue AS (
        |  SELECT * FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.p_name = b.p_name))
        |SELECT r.p_partkey AS batch_key, e.p_partkey AS match_key,
        |       jaro_winkler_similarity(r.p_name, e.p_name) AS sim
        |FROM residue r JOIN existing e ON r.p_brand = e.p_brand
        |WHERE jaro_winkler_similarity(r.p_name, e.p_name) >= 0.95
        |ORDER BY batch_key, match_key""".stripMargin)))
}
