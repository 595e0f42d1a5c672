package graft.engine

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T7/T8/A10: config-driven gold-entity split (reference
  * `transform.py:240-269`): select each entity's declared columns out of the
  * wide silver frame, materializing literal defaults for declared-but-absent
  * columns, then whole-row dedup.
  *
  * Scale notes: each entity is an independent `Project` + `Distinct` over the
  * same silver scan — Catalyst prunes the parquet read down to each entity's
  * columns, and the distincts are hash-aggregates that combine map-side
  * before the (per-entity, narrow) shuffle. Nothing here widens with the
  * silver schema's 229 columns.
  */
object Entities {

  final case class ColSpec(dtype: String, default: Any)
  final case class EntitySpec(name: String,
      cols: Seq[(String, ColSpec)], required: Seq[String])

  /** Materialize one entity: defaults for missing declared cols
    * (`transform.py:255-261`), project, dedup (`transform.py:264-268`). */
  def conform(silver: DataFrame, spec: EntitySpec): DataFrame = {
    val present = silver.columns.toSet
    val withDefaults = spec.cols.foldLeft(silver) {
      case (df, (name, colSpec)) if !present.contains(name) =>
        df.withColumn(name, defaultLit(colSpec))
      case (df, _) => df
    }
    withDefaults.select(spec.cols.map { case (n, _) => col(n) }: _*)
      .dropDuplicates()
  }

  /** Every entity, in declaration order. */
  def splitAll(silver: DataFrame, specs: Seq[EntitySpec]): Map[String, DataFrame] =
    ListMap.from(specs.map(s => s.name -> conform(silver, s)))

  private def defaultLit(c: ColSpec) = c.default match {
    case d: Double if c.dtype == "int64" => lit(d.toLong)
    case d: Double                       => lit(d)
    case other                           => lit(other.toString)
  }
}
