package graft.llm

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler name similarity as a native codegen'd expression — the
  * scalar kernel of fuzzy record linkage (the reference's pipeline joins
  * address registries on exact normalized keys, `extract.py:529-535`; a
  * production linkage tier needs the approximate variant for the rows the
  * exact key misses).
  *
  * Semantics pinned to the textbook Winkler convention so the DuckDB
  * oracle's `jaro_winkler_similarity` matches bit-for-bit:
  *
  *  - operates on UTF-8 BYTES (not code points) — multi-byte characters
  *    count per byte, exactly like the oracle's rapidfuzz-derived kernel;
  *  - match window `max(|a|,|b|)/2 - 1` (floored, min 0), greedy
  *    left-to-right matching;
  *  - transpositions = (# matched positions whose byte differs) / 2 with
  *    INTEGER division (odd counts floor);
  *  - `jaro = (m/|a| + m/|b| + (m-t)/m) / 3`, in that IEEE order;
  *  - zero matches — including both sides empty — yield 0.0;
  *  - Winkler boost only when `jaro > 0.7`: `jaro + min(prefix,4)·0.1·(1-jaro)`.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.similarity(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  /** Real codegen (no CodegenFallback): one static call, so linkage
    * filters/projections stay inside whole-stage codegen. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.llm.JaroWinkler.similarity($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaroWinklerExpr = copy(newLeft, newRight)
}

/** `jaro_winkler(a, b) >= threshold` fused into one kernel call with a
  * score cutoff (the rapidfuzz `score_cutoff` idea): an O(1) length-ratio
  * upper bound rejects most non-matching pairs before the O(|a|·|b|)
  * matching loop ever runs. Built by [[JaroWinkler.jaroWinklerAtLeast]]
  * and, in SQL, by [[FuseJaroThreshold]]. Boolean-identical to the
  * unfused comparison — the bound is conservative (1e-9 slack on the
  * cutoff), so no pair that could reach the threshold is skipped. */
case class JaroWinklerGteExpr(left: Expression, right: Expression,
    threshold: Double) extends BinaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "jaro_winkler_gte"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.atLeast(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.llm.JaroWinkler.atLeast($a, $b, $threshold);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaroWinklerGteExpr =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Called from both interpreted eval and generated code. Reads bytes
    * in place via `UTF8String.getByte` — no `getBytes` copy of either
    * operand, so a blocked self-join scoring millions of pairs allocates
    * nothing on the <= 64-byte fast path. */
  def similarity(a: UTF8String, b: UTF8String): Double = {
    val jaro =
      if (a.numBytes <= 64 && b.numBytes <= 64) jaroBits(a, b)
      else jaroFlags(a, b)
    if (jaro > 0.7) {
      val maxPrefix = math.min(4, math.min(a.numBytes, b.numBytes))
      var p = 0
      while (p < maxPrefix && a.getByte(p) == b.getByte(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** `similarity(a, b) >= threshold` with a score cutoff: since the match
    * count m is at most min(|a|,|b|), `jaro <= (2 + min/max)/3`, and the
    * Winkler boost is bounded by `jw <= 0.4 + 0.6·jaro`, so
    * `jw <= 0.4 + 0.6·(2 + min/max)/3`. When that O(1) bound cannot reach
    * the threshold (minus 1e-9 fp slack), the O(|a|·|b|) loop is skipped.
    * Boolean-identical to computing the full score and comparing. */
  def atLeast(a: UTF8String, b: UTF8String, threshold: Double): Boolean = {
    val l1 = a.numBytes
    val l2 = b.numBytes
    if (l1 == 0 || l2 == 0) return 0.0 >= threshold
    val mn = math.min(l1, l2).toDouble
    val mx = math.max(l1, l2).toDouble
    val upper = 0.4 + 0.6 * ((2.0 + mn / mx) / 3.0)
    if (upper < threshold - 1e-9) return false
    similarity(a, b) >= threshold
  }

  /** Allocation-free fast path for strings up to 64 bytes (names,
    * addresses, titles — the linkage hot path): match flags live in two
    * Long bitmasks instead of per-call boolean arrays. */
  private[graft] def jaroBits(s: UTF8String, t: UTF8String): Double = {
    val l1 = s.numBytes
    val l2 = t.numBytes
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    var sMask = 0L
    var tMask = 0L
    var m = 0
    var i = 0
    while (i < l1) {
      val si = s.getByte(i)
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if ((tMask & (1L << j)) == 0L && si == t.getByte(j)) {
          sMask |= 1L << i; tMask |= 1L << j; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // Walk both matched sequences in order; count differing positions.
    var diffs = 0
    var si = 0
    var tj = 0
    while (si < l1) {
      if ((sMask & (1L << si)) != 0L) {
        while ((tMask & (1L << tj)) == 0L) tj += 1
        if (s.getByte(si) != t.getByte(tj)) diffs += 1
        tj += 1
      }
      si += 1
    }
    val trans = diffs / 2 // integer floor, the strcmp95/rapidfuzz convention
    val md = m.toDouble
    (md / l1 + md / l2 + (md - trans) / md) / 3.0
  }

  /** General path (strings beyond 64 bytes): identical algorithm with
    * heap flag arrays. */
  private[graft] def jaroFlags(s: UTF8String, t: UTF8String): Double = {
    val l1 = s.numBytes
    val l2 = t.numBytes
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val sMatch = new Array[Boolean](l1)
    val tMatch = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val si = s.getByte(i)
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!tMatch(j) && si == t.getByte(j)) {
          sMatch(i) = true; tMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var diffs = 0
    var si = 0
    var tj = 0
    while (si < l1) {
      if (sMatch(si)) {
        while (!tMatch(tj)) tj += 1
        if (s.getByte(si) != t.getByte(tj)) diffs += 1
        tj += 1
      }
      si += 1
    }
    val trans = diffs / 2 // integer floor, the strcmp95/rapidfuzz convention
    val md = m.toDouble
    (md / l1 + md / l2 + (md - trans) / md) / 3.0
  }

  /** Column form of `jaro_winkler(a, b)`. */
  def jaroWinkler(a: Column, b: Column): Column =
    graft.GraftFunctions.column("jaro_winkler", a, b)

  /** Column form of `jaro_winkler(a, b) >= threshold`, already fused into
    * the cutoff kernel [[JaroWinklerGteExpr]] (the plan
    * [[FuseJaroThreshold]] makes of the unfused comparison in SQL). */
  def jaroWinklerAtLeast(a: Column, b: Column, threshold: Double): Column =
    GraftExpressionBridge.column(JaroWinklerGteExpr(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b),
      threshold))
}

/** Optimizer rule: rewrite `jaro_winkler(a, b) >= lit` (either comparison
  * orientation) into the fused cutoff kernel [[JaroWinklerGteExpr]], so a
  * thresholded fuzzy join skips the quadratic matching loop on pairs the
  * O(1) length bound already rules out. Semantics-preserving (see
  * [[JaroWinkler.atLeast]]); SQL users get it through
  * `spark.sql.extensions=graft.GraftExtensions` or
  * [[graft.GraftFunctions.registerAll]]. DataFrame code builds the fused
  * filter itself with [[JaroWinkler.jaroWinklerAtLeast]].
  *
  * Measured honestly: on the TPC-H part-name fixture the rewrite is
  * perf-NEUTRAL (5-rep steady state 2.12-2.23 s vs 2.03-2.17 s at sf0.1)
  * because part names have near-uniform byte lengths, so the min/max >=
  * bound almost never fires at 0.94. The cutoff pays on fields with a
  * spread of lengths (addresses, titles, free-text names), where most
  * cross-length pairs exit before the matching loop. */
object FuseJaroThreshold
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.types.DoubleType

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case GreaterThanOrEqual(jw: JaroWinklerExpr, Literal(t: Double, DoubleType)) =>
        JaroWinklerGteExpr(jw.left, jw.right, t)
      case LessThanOrEqual(Literal(t: Double, DoubleType), jw: JaroWinklerExpr) =>
        JaroWinklerGteExpr(jw.left, jw.right, t)
    }
}
