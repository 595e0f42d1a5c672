package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.JaroWinkler.{jaroWinkler, jaroWinklerAtLeast}

/** Fuzzy record linkage: the approximate tier of the reference's
  * exact-key address matching (`extract.py:529-535` joins Enedis rows to
  * the BAN registry on a concatenated normalized address string — rows
  * whose key differs by one typo silently drop out of the inner join).
  * A production linkage pass runs these two shapes over the residue:
  *
  *  - [[blockedJaroPairs]] — classic blocking: candidate pairs only
  *    within an equality block, scored with Jaro–Winkler (the
  *    name-matching metric of Winkler's Census record-linkage work),
  *    kept above a threshold. Cost is Σ(block²): quadratic within a
  *    block, linear in blocks — the block key choice, not the engine,
  *    sets the budget.
  *  - [[sortedNeighborhoodPairs]] — sorted-neighborhood (Hernández &
  *    Stolfo 1995): order records by a sort key within a coarse block,
  *    compare each record only to its `w` successors. Cost is exactly
  *    `w·n` comparisons — the linear-scan scale twin of blocking, for
  *    datasets where any natural block is still too big.
  */
object Linkage {

  /** Candidate pairs within equality blocks, scored by Jaro–Winkler and
    * thresholded. Output: a_key, b_key, sim — each unordered pair once
    * (a_key < b_key).
    *
    * Scale shape: one shuffle of each side on the block key, then the
    * within-block pair generation; no global product ever forms. A
    * low-cardinality block key (here: 25 brands over 20k parts) is the
    * worst legitimate case — AQE's skew split keeps the big blocks from
    * serializing one task; a production pass picks higher-cardinality
    * keys (postcode+phonetic(name)) for the same code path. The score is
    * a native codegen'd expression ([[graft.llm.JaroWinklerExpr]]), so
    * the pair filter stays inside whole-stage codegen.
    */
  def blockedJaroPairs(df: DataFrame, keyCol: String, nameCol: String,
      blockCol: String, minSim: Double): DataFrame = {
    val a = df.select(col(keyCol).as("a_key"), col(nameCol).as("a_name"),
      col(blockCol).as("__blk"))
    val b = df.select(col(keyCol).as("b_key"), col(nameCol).as("b_name"),
      col(blockCol).as("__blk"))
    // A length-ratio prune ahead of the kernel (jw >= 0.94 implies byte
    // min/max >= 0.7, since jaro <= (2 + min/max)/3 and the boost is
    // bounded by jw <= 0.4 + 0.6*jaro) was measured SLOWER here: the two
    // extra octet_length conjuncts in the fused join condition cost more
    // than they save on ~35-byte names (2.6 s -> 3.8 s at sf0.1). On long
    // fields (addresses, titles) re-introduce it ahead of the score.
    a.join(b, Seq("__blk"))
      .filter(col("a_key") < col("b_key") &&
        jaroWinklerAtLeast(col("a_name"), col("b_name"), minSim))
      .select(col("a_key"), col("b_key"),
        jaroWinkler(col("a_name"), col("b_name")).as("sim"))
  }

  /** Sorted-neighborhood candidate pairs: rank records by
    * `(sort key, tiebreak key)` inside each coarse block, pair each row
    * with its next `window` neighbors, keep pairs whose Levenshtein
    * distance lies in `[minDist, maxDist]` (minDist = 1 excludes exact
    * duplicates, which the exact-dedup tier already owns). Output:
    * a_key, b_key, dist.
    *
    * Scale shape: the rank is windowed WITHIN the block (never a global
    * single-partition sort), and the neighbor pairing is an equi-join on
    * `(block, rank)` after a `window`-way offset explode — `w·n` rows,
    * no range-join nested loop. Levenshtein is Spark's codegen'd
    * built-in. */
  def sortedNeighborhoodPairs(df: DataFrame, keyCol: String, nameCol: String,
      blockCol: String, window: Int, minDist: Int, maxDist: Int): DataFrame = {
    require(window >= 1 && minDist >= 0 && maxDist >= minDist,
      s"window=$window minDist=$minDist maxDist=$maxDist")
    val w = Window.partitionBy(col("__blk"))
      .orderBy(col("__name"), col("__key"))
    val ranked = df.select(col(keyCol).as("__key"), col(nameCol).as("__name"),
        col(blockCol).as("__blk"))
      .withColumn("__rn", row_number().over(w))
    val probes = ranked.select(col("__key").as("a_key"),
        col("__name").as("a_name"), col("__blk"),
        explode(sequence(col("__rn") + 1, col("__rn") + window)).as("__rn"))
    probes.join(ranked, Seq("__blk", "__rn"))
      .withColumn("dist", levenshtein(col("a_name"), col("__name")))
      .filter(col("dist") >= minDist && col("dist") <= maxDist)
      .select(col("a_key"), col("__key").as("b_key"), col("dist"))
  }
}
