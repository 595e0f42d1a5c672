package graft

import org.apache.spark.sql.{Column, GraftExpressionBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.llm.{CovSums, DotProductExpr, JaroWinklerExpr, MinHashSigsExpr, SimHash64Expr, TopKByScore, WinnowExpr, WordShinglesExpr}

/** The engine's custom Catalyst functions, packaged the two standard ways:
  *
  *  - [[GraftExtensions]] for config-driven injection:
  *    `SparkSession.builder().withExtensions(new GraftExtensions)` or
  *    `spark.sql.extensions=graft.GraftExtensions` — functions resolve in
  *    pure SQL (`SELECT simhash64(text) …`) on every session of the
  *    cluster;
  *  - [[GraftFunctions.registerAll]] for an existing session.
  *
  * DataFrame code needs neither: [[GraftFunctions.column]] binds a
  * function's expression into a `Column` directly, leaving the session's
  * function registry and optimizer untouched.
  *
  * Surface: `simhash64(text)`, `dot_seq(arr, arr)`,
  * `topk_by_score(score, id, k)`, `word_shingles(text, n)` — all native
  * expressions/aggregates (no
  * UDF serialization, codegen-friendly). The builder lambdas here are the
  * single source of truth; Column forms apply the same builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftFunctions._
  override def apply(ext: SparkSessionExtensions): Unit = {
    all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // `jaro_winkler(a,b) >= t` fuses into the cutoff kernel in pure SQL
    ext.injectOptimizerRule(_ => graft.llm.FuseJaroThreshold)
  }
}

object GraftFunctions {

  /** Evaluate a foldable argument as a positive Int (accepts int/long
    * literals, rejects null/other types with a clear error). */
  private def literalK(e: Expression, fn: String): Int = e.eval(null) match {
    case i: java.lang.Integer => require(i > 0, s"$fn: k must be positive"); i
    case l: java.lang.Long    => require(l > 0, s"$fn: k must be positive"); l.toInt
    case null => throw new IllegalArgumentException(
      s"$fn: k must be a non-null integer literal")
    case other => throw new IllegalArgumentException(
      s"$fn: k must be an integer literal, got $other")
  }

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64Expr].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64Expr(exprs.head)),
    ("dot_seq",
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_seq"),
      (exprs: Seq[Expression]) => DotProductExpr(exprs(0), exprs(1))),
    ("topk_by_score",
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      // unconditional Casts (SimplifyCasts erases the no-ops): the
      // aggregate's update() unboxes (double, long) with asInstanceOf,
      // so an int32 id column would otherwise ClassCastException on an
      // executor; coercion here covers every call site at once
      (exprs: Seq[Expression]) =>
        TopKByScore(
          org.apache.spark.sql.catalyst.expressions.Cast(exprs(0),
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(exprs(1),
            org.apache.spark.sql.types.LongType),
          literalK(exprs(2), "topk_by_score"))
          .toAggregateExpression()),
    ("word_shingles",
      new ExpressionInfo(classOf[WordShinglesExpr].getName, "word_shingles"),
      (exprs: Seq[Expression]) =>
        WordShinglesExpr(exprs(0), literalK(exprs(1), "word_shingles"))),
    ("winnow_fps",
      new ExpressionInfo(classOf[WinnowExpr].getName, "winnow_fps"),
      (exprs: Seq[Expression]) =>
        WinnowExpr(exprs(0), literalK(exprs(1), "winnow_fps"),
          literalK(exprs(2), "winnow_fps"))),
    ("minhash_sigs",
      new ExpressionInfo(classOf[MinHashSigsExpr].getName, "minhash_sigs"),
      (exprs: Seq[Expression]) =>
        MinHashSigsExpr(exprs(0), literalK(exprs(1), "minhash_sigs"),
          literalK(exprs(2), "minhash_sigs"))),
    ("jaro_winkler",
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinklerExpr(exprs(0), exprs(1))),
    ("cov_sums",
      new ExpressionInfo(classOf[CovSums].getName, "cov_sums"),
      (exprs: Seq[Expression]) =>
        CovSums(exprs(0), literalK(exprs(1), "cov_sums"))
          .toAggregateExpression()),
    ("poisson_boot_sums",
      new ExpressionInfo(classOf[graft.engine.PoissonBootSums].getName,
        "poisson_boot_sums"),
      (exprs: Seq[Expression]) =>
        graft.engine.PoissonBootSums(exprs(0), exprs(1),
          literalK(exprs(2), "poisson_boot_sums"),
          literalString(exprs(3), "poisson_boot_sums"))
          .toAggregateExpression()),
    ("sign_flip_sums",
      new ExpressionInfo(classOf[graft.engine.SignFlipSums].getName,
        "sign_flip_sums"),
      (exprs: Seq[Expression]) =>
        graft.engine.SignFlipSums(exprs(0), exprs(1),
          literalK(exprs(2), "sign_flip_sums"),
          literalString(exprs(3), "sign_flip_sums"))
          .toAggregateExpression()))

  /** Evaluate a foldable argument as a non-null string literal. */
  private def literalString(e: Expression, fn: String): String =
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case null => throw new IllegalArgumentException(
        s"$fn: seed must be a non-null string literal")
      case other => throw new IllegalArgumentException(
        s"$fn: seed must be a string literal, got $other")
    }

  private lazy val builders: Map[String, Seq[Expression] => Expression] =
    all.map { case (name, _, builder) => name -> builder }.toMap

  /** Column form of one engine function: its builder applied to the
    * argument expressions. Needs no registration and mutates no session. */
  def column(name: String, args: Column*): Column = {
    val builder = builders.getOrElse(name,
      throw new IllegalArgumentException(s"unknown function $name"))
    GraftExpressionBridge.column(builder(args.map(GraftExpressionBridge.expression)))
  }

  /** The SQL opt-in for an existing session: registers every engine
    * function by name (replacing any temporary function of the same name)
    * and installs the `jaro_winkler(a, b) >= t` fusion rule, as
    * [[GraftExtensions]] does config-side. */
  def registerAll(spark: SparkSession): Unit = {
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    // extraOptimizations is a plain Seq: guard against a double append
    if (!spark.experimental.extraOptimizations.contains(graft.llm.FuseJaroThreshold))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.llm.FuseJaroThreshold
  }
}
