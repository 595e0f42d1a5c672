package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) merge — the versioned-history twin
  * of the reference's overwrite/append loaders (`load.py` upserts replace
  * attribute values in place; SCD2 keeps every historical version with a
  * validity interval, the standard warehouse pattern for dimensions whose
  * past values must stay queryable, e.g. a customer's segment at order
  * time).
  *
  * Contract: `dim` carries `keyCols ++ attrCols ++ (valid_from,
  * valid_to)`, with `valid_to IS NULL` marking the current version of each
  * key; `updates` carries `keyCols ++ attrCols`, at most one row per key
  * per batch — more than one RAISES at runtime via an in-plan guard (a
  * fanned-out merge would silently emit duplicate closed rows and
  * multiple simultaneous open versions). The merge:
  *   - passes closed history rows through untouched (scan-only);
  *   - keeps current rows whose key is absent from the batch, or whose
  *     attributes are unchanged (null-safe comparison);
  *   - closes current rows whose attributes changed (`valid_to` :=
  *     `batchTs`) and opens a replacement version (`valid_from` :=
  *     `batchTs`);
  *   - opens first versions for keys new to the dimension.
  *
  * Scale shape: the merge is declared as ONE logical full-outer join of
  * the current slice against the batch, but each output branch filters on
  * side-presence, so Catalyst's EliminateOuterJoin specializes it into a
  * LeftOuter (kept/closed) and a RightOuter (opened) — and both then
  * BROADCAST a small batch side instead of shuffling, a plan the full
  * outer could never reach (plan-locked in PlanSpec). History never
  * joins: it unions scan-to-sink. The changed/kept/new split is a
  * map-side projection; no window, no extra shuffle.
  */
object Scd {

  def scd2Apply(dim: DataFrame, updates: DataFrame, keyCols: Seq[String],
      attrCols: Seq[String], batchTs: Column): DataFrame = {
    require(keyCols.nonEmpty, "scd2Apply: keyCols must be non-empty")
    require(attrCols.nonEmpty, "scd2Apply: attrCols must be non-empty")
    val validToType = dim.schema("valid_to").dataType
    val outCols = (keyCols ++ attrCols).map(col) ++
      Seq(col("valid_from"), col("valid_to"))

    val history = dim.filter(col("valid_to").isNotNull).select(outCols: _*)
    val cur = dim.filter(col("valid_to").isNull)

    val curSel = cur.select(
      keyCols.map(col) ++
        attrCols.map(c => col(c).as(s"__cur_$c")) ++
        Seq(col("valid_from").as("__cur_from"),
          lit(true).as("__in_cur")): _*)
    // per-key batch multiplicity: >1 update row per key would fan the
    // current row out through the join and silently emit duplicate closed
    // rows plus multiple simultaneous open versions — guard below turns
    // that into a runtime error instead (window on the small batch side)
    val updW = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    val updSel = updates.select(
      keyCols.map(col) ++
        attrCols.map(c => col(c).as(s"__upd_$c")) ++
        Seq(lit(true).as("__in_upd")): _*)
      .withColumn("__ucnt", count(lit(1)).over(updW))
    val j = curSel.join(updSel, keyCols, "full_outer")
    // in-plan guard, riding the always-evaluated valid_from of every
    // output branch (no extra action, no collect): null __ucnt (no
    // update) falls through to the payload
    def guarded(payload: Column): Column =
      when(col("__ucnt") > 1, raise_error(concat(
        lit("scd2Apply: more than one update row for key ("),
        concat_ws(",", keyCols.map(c => col(c).cast("string")): _*),
        lit(")"))))
        .otherwise(payload)

    // null-safe: a NULL→value or value→NULL attribute transition counts
    // as a change; NULL→NULL does not
    val changed = attrCols
      .map(c => !(col(s"__cur_$c") <=> col(s"__upd_$c")))
      .reduce(_ || _)

    val keptOrClosed = j.filter(col("__in_cur").isNotNull).select(
      keyCols.map(col) ++
        attrCols.map(c => col(s"__cur_$c").as(c)) ++
        Seq(guarded(col("__cur_from")).as("valid_from"),
          when(col("__in_upd").isNotNull && changed, batchTs)
            .as("valid_to")): _*)
    val opened = j
      .filter(col("__in_upd").isNotNull &&
        (col("__in_cur").isNull || changed))
      .select(
        keyCols.map(col) ++
          attrCols.map(c => col(s"__upd_$c").as(c)) ++
          Seq(guarded(batchTs).as("valid_from"),
            lit(null).cast(validToType).as("valid_to")): _*)

    history.unionByName(keptOrClosed).unionByName(opened)
  }

  /** Deterministic last-change-wins compaction of a CDC batch, the
    * one-row-per-key input [[scd2Apply]] requires: one surviving row per
    * key — the one with the greatest `orderCol`, ties broken by the
    * attribute tuple (a struct-max aggregate, so the choice is identical
    * under any partitioning, unlike `dropDuplicates`). */
  def lastWinsByKey(batch: DataFrame, keyCols: Seq[String],
      orderCol: String, attrCols: Seq[String]): DataFrame =
    batch.groupBy(keyCols.map(col): _*)
      .agg(max(struct(col(orderCol) +: attrCols.map(col): _*)).as("__b"))
      .select(keyCols.map(col) ++
        attrCols.map(c => col(s"__b.$c").as(c)): _*)
}
