package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** T1: the reference's cast inference.
  *
  * T1 (`transform.py:85-102`) — trial-cast ladder: each string column is
  * tried as numeric (after the French `','→'.'` decimal fix); if ANY
  * non-null value fails, tried as timestamp; else left as string. pandas'
  * `errors='raise'` means all-or-nothing per column — reproduced here by
  * comparing `try_cast` success counts against non-null counts in ONE
  * aggregation job over all candidate columns (the reference re-scans per
  * column).
  *
  * Spark 4 runs in ANSI mode, so plain `cast` throws on bad input;
  * `try_cast` (SQL form — there is no `functions.try_cast`) gives the
  * pandas coercion semantics and stays codegen'd.
  */
object Cast {

  private def q(name: String) = s"`${name.replace("`", "``")}`"

  /** `try_cast` with optional decimal-comma fix (literal `,`→`.` translate,
    * matching pandas' non-regex `str.replace(',', '.')`). */
  def tryCastCol(colName: String, sqlType: String, commaFix: Boolean = false): Column = {
    val src = if (commaFix) s"translate(${q(colName)}, ',', '.')" else q(colName)
    expr(s"try_cast($src AS $sqlType)")
  }

  /** T1: decide + apply. Returns the cast frame and the decided pandas-style
    * dtype per column (the dtype map the reference persists at
    * `transform.py:394-397`). */
  def autoCastStringColumns(df: DataFrame): (DataFrame, Map[String, String]) = {
    val strCols = df.schema.fields
      .filter(_.dataType == StringType).map(_.name).toSeq
    if (strCols.isEmpty) return (df, Map.empty)

    val aggs = count(lit(1)).as("__rows") +: strCols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      count(tryCastCol(c, "DOUBLE", commaFix = true)).as(s"${c}__num"),
      count(tryCastCol(c, "TIMESTAMP")).as(s"${c}__ts"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getAs[Long]("__rows")

    val decided: Map[String, String] = strCols.map { c =>
      val n = r.getAs[Long](s"${c}__n")
      val dtype =
        // empty FRAME → keep string: an inference run over a 0-row batch
        // must not flip gold schema types between batches (parquet append
        // targets need stable types). All-null columns WITH rows → float64,
        // pandas' trivial to_numeric success.
        if (rows == 0) "string"
        else if (r.getAs[Long](s"${c}__num") == n) "float64"
        else if (r.getAs[Long](s"${c}__ts") == n) "datetime64[ns]"
        else "string"
      c -> dtype
    }.toMap

    val out = decided.foldLeft(df) {
      case (d, (c, "float64")) =>
        d.withColumn(c, tryCastCol(c, "DOUBLE", commaFix = true))
      case (d, (c, "datetime64[ns]")) =>
        d.withColumn(c, tryCastCol(c, "TIMESTAMP"))
      case (d, _) => d
    }
    (out, decided)
  }
}
