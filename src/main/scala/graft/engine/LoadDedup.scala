package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Load-time idempotence (reference `load.py:123-165,181-212`): before each
  * append, drop incoming rows whose primary key already exists in the target,
  * and dedup the incoming batch itself by key.
  *
  * Scale notes: `left_anti` is the one-true-shape here — Catalyst plans it as
  * a broadcast anti join when `existing` keys fit in memory (the usual case:
  * keys only, not whole rows) and falls back to shuffled anti join otherwise.
  * We pre-project `existing` to its key columns + distinct so only keys move.
  */
object LoadDedup {

  /** J3/J4 (`load.py:143-158`): anti-join on 1..n key columns. */
  def antiJoinOnKeys(incoming: DataFrame, existing: DataFrame,
      keys: Seq[String]): DataFrame = {
    val existingKeys = existing.select(keys.map(col): _*).distinct()
    incoming.join(existingKeys, keys, "left_anti")
  }

  /** The loader's one step per entity (`load.py:123-165,181-212`): the
    * incoming rows whose key the target (`existing`, None when there is no
    * target yet) does not hold, deduplicated by key keep-first. Keep-first
    * needs a total tiebreak order: the key columns alone are constant
    * within a key partition, so every column, by sorted name, pins which
    * duplicate survives. Append the result to make the load idempotent. */
  def newRows(incoming: DataFrame, existing: Option[DataFrame],
      keys: Seq[String]): DataFrame = {
    val fresh = existing.fold(incoming)(antiJoinOnKeys(incoming, _, keys))
    dedupKeepFirst(fresh, keys, orderBy = fresh.columns.sorted.toSeq)
  }

  /** Merge/upsert: the append-only loader's missing half. Rows of
    * `existing` whose key appears in `incoming` are REPLACED by the
    * incoming version (dedup'd keep-first under `orderBy` — explicit, so
    * deterministic under any partitioning); unmatched existing rows are
    * kept; new keys are inserted. Anti-join ships keys only; no row of
    * either table moves twice.
    * (Schemas must match by name — same contract as unionByName.) */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
      orderBy: Seq[String]): DataFrame = {
    val latest = dedupKeepFirst(incoming, keys, orderBy)
    antiJoinOnKeys(existing, latest, keys).unionByName(latest)
  }

  /** Bloom-pruned anti-join for the 100 TB load path: when `existing` is a
    * huge target table (its keys do NOT fit in a broadcast) and the
    * incoming batch is mostly-new, the plain shuffled anti-join moves the
    * ENTIRE incoming batch over the network just to discard almost no
    * rows. Instead: build a Bloom filter over the existing keys (one
    * aggregate job, a few bytes per key), and split the batch map-side —
    * rows the filter rejects are DEFINITELY new and skip the shuffle
    * entirely; only probable-hits (true dups + `fpp` false positives) go
    * through the exact anti-join. Correctness never depends on the filter:
    * false positives just ride the exact path. Null key fields take the
    * exact path too (anti-join keeps null-keyed rows; the filter can't
    * represent them).
    *
    * The membership probe is the native [[BloomMightContain]] expression
    * (codegen'd — the probe stays inside the whole-stage loop over the
    * incoming scan; it was the engine's last non-codegen kernel on this
    * path). Like the reference's read-before-load (`load.py:128`), the
    * filter build is EAGER: one job over existing keys before the plan
    * is returned.
    */
  def antiJoinBloomPruned(incoming: DataFrame, existing: DataFrame,
      keys: Seq[String], expectedKeys: Long, fpp: Double = 0.03): DataFrame = {
    // composite keys probe as one -joined string; a collision or a
    // null-collapse only routes a row to the exact path (never wrong)
    def keyOf(df: DataFrame) =
      concat_ws("", keys.map(c => df(c).cast("string")): _*)
    val existingKeys = existing.select(keys.map(col): _*).distinct()
    val bloom = existingKeys.stat
      .bloomFilter(keyOf(existingKeys), expectedKeys, fpp)
    // broadcast lifetime: like a broadcast-join table, the block is
    // released by ContextCleaner once the returned plan (whose expression
    // tree holds the only reference) is dropped and a driver GC runs —
    // batch loops don't accumulate filters beyond the plans they keep alive
    val bc = incoming.sparkSession.sparkContext.broadcast(bloom)
    val anyKeyNull = keys.map(col(_).isNull).reduce(_ || _)
    val maybe = anyKeyNull || BloomProbe.mightContain(bc, keyOf(incoming))
    incoming.where(!maybe)
      .unionByName(antiJoinOnKeys(incoming.where(maybe), existing, keys))
  }

  /** A11 (`load.py:189-210`): dedup by key keeping the FIRST row. pandas'
    * `keep='first'` is row-order-defined; a distributed engine has no row
    * order, so the caller must supply an explicit deterministic tiebreak
    * ordering — same results on 1 core or 1000 executors. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String],
      orderBy: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
