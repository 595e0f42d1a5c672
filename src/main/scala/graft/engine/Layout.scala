package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering for
  * min/max-stat data skipping.
  *
  * Why this matters at 100 TB: parquet scans prune row groups / files by
  * column min/max statistics. Sorting by ONE column gives tight ranges on
  * that column and full-range stats on every other — predicates on a
  * second dimension prune nothing. Interleaving the bits of two columns
  * and range-partitioning on the interleaved key gives every output file
  * a compact 2-D tile, so min/max stats are tight on BOTH columns and
  * predicates on EITHER dimension skip most files (the layout trick
  * behind Delta/Iceberg Z-ORDER clustering; Morton 1966).
  *
  * Determinism contract: the interleave is pure integer bit arithmetic
  * over the low `bits` of each (non-negative) input — reproducible in any
  * engine with shifts and AND, so the DuckDB oracle replays it exactly.
  */
object Layout {

  /** Z-value: bit-interleave of the low `bits` of two NON-NEGATIVE
    * integer columns (x in even positions, y in odd). Codegen-friendly —
    * a flat sum of shift/mask terms, no UDF. */
  def zValue(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).map { b =>
      shiftleft(shiftright(xl, b).bitwiseAND(lit(1L)), 2 * b) +
        shiftleft(shiftright(yl, b).bitwiseAND(lit(1L)), 2 * b + 1)
    }.reduce(_ + _)
  }
}
