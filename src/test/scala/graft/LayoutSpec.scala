package graft

import org.apache.spark.sql.functions._

import graft.engine.Layout

/** Z-order layout: interleave correctness against the reference Morton
  * bit interleave. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def mortonRef(x: Long, y: Long, bits: Int): Long =
    (0 until bits).map { b =>
      (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
    }.reduce(_ | _)

  test("zValue matches the reference Morton interleave") {
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (1L, 65535L), (32768L, 1L))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == mortonRef(x, y, 16),
      s"($x, $y)") }
  }

  test("zValue is monotone on each axis within a fixed other-axis tile") {
    // within y = const, z orders by x (restricted to the same y): a
    // consequence of interleaving that makes range pruning sound
    assert(mortonRef(3, 7, 16) < mortonRef(5, 7, 16))
    assert(mortonRef(5, 3, 16) < mortonRef(5, 9, 16))
  }
}
