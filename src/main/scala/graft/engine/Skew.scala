package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities for the aggregation shapes AQE does not fix.
  *
  * AQE's skew-join splitting covers shuffle joins; a heavy-hitter
  * `groupBy` (one label holding 30% of a 100 TB table — exactly the DPE
  * label distribution shape) still funnels each hot key through a single
  * reducer. The standard fix is two-phase aggregation: salt the key,
  * aggregate partially per (key, salt), then merge the salt buckets.
  * Works for any algebraic aggregate (sum/count/min/max, decimal sums).
  *
  * Salting uses a deterministic hash of a tiebreak column rather than
  * rand() so results and partitioning are reproducible run-to-run.
  */
object Skew {

  /** Two-phase aggregation: `aggs` are applied per (keys, salt), then the
    * provided `merge` expressions combine the salt buckets. For purely
    * algebraic aggregates the merge re-applies the same function to the
    * partial column (as [[saltedDecimalSum]] does for sums). */
  def twoPhaseAgg(df: DataFrame, keys: Seq[String], saltCol: Column,
      buckets: Int, aggs: Seq[Column], merge: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(saltCol), lit(buckets)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(aggs.head, aggs.tail: _*)
    phase1.groupBy(keys.map(col): _*).agg(merge.head, merge.tail: _*)
  }

  /** Salted equi-join for skewed keys when BOTH sides are too large to
    * broadcast: the fact side gets a deterministic salt from `factSaltCol`
    * (a row-unique column, so the hot key spreads over `buckets`
    * reducers); the dim side is replicated once per salt value. Join runs
    * on (keys, salt) — the hot key's rows land on `buckets` different
    * partitions instead of one. Replication costs `buckets × |dim|`, so
    * size buckets to the skew factor, not higher. AQE's skew-join split
    * handles moderate skew on its own; this is the explicit fix for the
    * pathological single-key case (and for joins under non-AQE engines).
    * `joinType` supports inner/left (fact side preserved). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
      factSaltCol: Column, buckets: Int = 32,
      joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"saltedJoin supports inner/left, got $joinType")
    val saltedFact = fact
      .withColumn("__salt", pmod(hash(factSaltCol), lit(buckets)))
    val saltedDim = dim
      .withColumn("__salt", explode(array((0 until buckets).map(lit): _*)))
    saltedFact.join(saltedDim, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Salted sum of a decimal-cast column — the engine's standard
    * deterministic measure aggregation, skew-proofed. */
  def saltedDecimalSum(df: DataFrame, keys: Seq[String], valueCol: String,
      saltCol: Column, buckets: Int = 32, scale: String = "decimal(18,2)",
      as: String = "sum_value"): DataFrame =
    twoPhaseAgg(df, keys, saltCol, buckets,
      aggs = Seq(sum(col(valueCol).cast(scale)).as(as)),
      merge = Seq(sum(col(as)).as(as)))
}
