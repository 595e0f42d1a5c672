package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.Linkage
import graft.llm.JaroWinkler

/** Jaro–Winkler kernel pinned against the published Winkler values and the
  * DuckDB oracle's exact doubles (rapidfuzz-derived, byte-level, boost
  * threshold 0.7, prefix cap 4, p = 0.1), plus the two linkage shapes. */
class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    JaroWinkler.similarity(UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaro-winkler matches the published and oracle-pinned doubles") {
    // Winkler's classic pairs (values produced by DuckDB 1.0's
    // jaro_winkler_similarity — bit-exact pins, not tolerances).
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") == 0.8133333333333332)
    assert(jw("JELLYFISH", "SMELLYFISH") == 0.8962962962962964)
    // prefix-2 boost
    assert(jw("abcde", "abdce") == 0.9466666666666665)
    // BYTE semantics: é is two UTF-8 bytes, so |café| = 5 bytes
    assert(jw("café", "cafe") == 0.8483333333333334)
    // odd transposition count floors (3 diffs -> t = 1)
    assert(jw("abcdef", "bcadef") == 0.9444444444444445)
    // no Winkler boost at or below jaro 0.7, despite the 4-char prefix
    assert(jw("abcdxxxxxx", "abcdyyyyyyyyyy") == 0.5619047619047619)
    // zero matches (incl. empty side) -> 0; identity -> 1
    assert(jw("", "x") == 0.0)
    assert(jw("", "") == 0.0)
    assert(jw("ab", "ba") == 0.0)
    assert(jw("same", "same") == 1.0)
    // beyond the 64-byte bitmask fast path: heap-flag path, same oracle pin
    val la = "the quick brown fox jumps over the lazy dog and keeps on running far"
    val lb = "the quick brown fox jumped over the lazy dog and kept on running far"
    assert(la.length == 68 && jw(la, lb) == 0.9518716577540107)
    // bitmask fast path and heap-flag general path are the same function
    // on their shared domain (both sides <= 64 bytes)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val x = UTF8String.fromBytes(
        Array.fill(rnd.nextInt(64) + 1)(('a' + rnd.nextInt(4)).toByte))
      val y = UTF8String.fromBytes(
        Array.fill(rnd.nextInt(64) + 1)(('a' + rnd.nextInt(4)).toByte))
      assert(JaroWinkler.jaroBits(x, y) == JaroWinkler.jaroFlags(x, y))
    }
  }

  test("jaro_winkler SQL function evaluates through codegen") {
    GraftFunctions.registerAll(spark)
    val out = Seq(("martha", "marhta"), ("DIXON", "DICKSONX"))
      .toDF("a", "b")
      .selectExpr("jaro_winkler(a, b) AS s")
      .as[Double].collect().sorted
    assert(out.toSeq == Seq(0.8133333333333332, 0.9611111111111111))
    // null propagation
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .selectExpr("jaro_winkler(a, b) AS s").collect()
    assert(n.head.isNullAt(0))
  }

  test("atLeast is boolean-identical to full-score compare (incl. bound)") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 500) {
      val x = UTF8String.fromString(
        List.fill(rnd.nextInt(40))(('a' + rnd.nextInt(5)).toChar).mkString)
      val y = UTF8String.fromString(
        List.fill(rnd.nextInt(40))(('a' + rnd.nextInt(5)).toChar).mkString)
      for (t <- Seq(0.0, 0.5, 0.7, 0.9, 0.94, 0.99, 1.0)) {
        assert(JaroWinkler.atLeast(x, y, t) ==
          (JaroWinkler.similarity(x, y) >= t),
          s"x=$x y=$y t=$t")
      }
    }
  }

  test("FuseJaroThreshold rewrites the thresholded predicate to the " +
      "cutoff kernel; results unchanged") {
    val df = graft.engine.Linkage.blockedJaroPairs(
      Seq((1L, "jonathan smith", "b"), (2L, "jonathon smith", "b"),
        (3L, "zz", "b")).toDF("id", "name", "blk"),
      "id", "name", "blk", 0.9)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("jaro_winkler_gte"), optimized)
    // the projected sim column still carries the full score
    val rows = df.orderBy("a_key", "b_key").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(rows.head.getDouble(2) ==
      JaroWinkler.similarity(UTF8String.fromString("jonathan smith"),
        UTF8String.fromString("jonathon smith")))
  }

  test("blockedJaroPairs pairs within blocks only, each pair once") {
    val df = Seq(
      (1L, "jonathan smith", "b1"),
      (2L, "jonathon smith", "b1"),
      (3L, "entirely different", "b1"),
      (4L, "jonathan smith", "b2") // same name, other block: never paired
    ).toDF("id", "name", "blk")
    val got = Linkage.blockedJaroPairs(df, "id", "name", "blk", 0.9)
      .orderBy("a_key", "b_key").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(got.head.getDouble(2) > 0.9)
  }

  test("sortedNeighborhoodPairs: w neighbors in rank order, 1..max band") {
    val df = Seq(
      (10L, "aaaa", "a"), (11L, "aaab", "a"), (12L, "aaac", "a"),
      (13L, "aaaa", "a"), // exact dup of 10: excluded by minDist = 1
      (20L, "zzzz", "z")
    ).toDF("id", "name", "blk")
    val got = Linkage
      .sortedNeighborhoodPairs(df, "id", "name", "blk",
        window = 2, minDist = 1, maxDist = 4)
      .orderBy("a_key", "b_key")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // rank order in block a: (aaaa,10) (aaaa,13) (aaab,11) (aaac,12)
    assert(got == Seq(
      (10L, 11L, 1), // rank1->rank3
      (11L, 12L, 1), (13L, 11L, 1), (13L, 12L, 1)))
  }
}
