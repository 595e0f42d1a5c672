package graft.llm

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a document as a native Catalyst expression.
  *
  * Algorithm (Charikar similarity-estimation, as used in large-scale
  * near-dup detection): tokenize (lowercase, non-alphanumeric splits),
  * weight each distinct token by its occurrence count, hash it to 64 bits,
  * accumulate ±weight per bit position, emit the sign vector as one int64.
  * Token bits come from the first 16 hex chars of md5(token) — chosen
  * because the identical bit derivation is expressible in ANSI SQL
  * (`substr(md5(t), …)` + hex-digit arithmetic), which is what the DuckDB
  * oracle replays (see `DedupQueries.q_simhash`).
  *
  * Why an Expression and not the relational formulation: computing 64 bit
  * positions relationally costs a 64× row explosion + a 64-way aggregation
  * per document; this expression does the whole accumulation in one pass
  * over the row, keeping a 100 TB scan at one-row-in/one-long-out.
  * (`CodegenFallback` for now — the eval is a single tight JVM loop; a
  * `doGenCode` emit is a follow-up optimization.)
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[UTF8String].toString)

  /** Real codegen: static-helper call keeps the document scan inside one
    * whole-stage-codegen'd loop (no interpreted fallback). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.llm.SimHash.compute($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash {

  private val sepPattern = java.util.regex.Pattern.compile("[^a-z0-9]+")

  def compute(text: String): Long = {
    val counts = new java.util.HashMap[String, Int]()
    var i = 0
    val toks = sepPattern.split(text.toLowerCase)
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) counts.merge(t, 1, Integer.sum)
      i += 1
    }
    val acc = new Array[Long](64)
    val md = graft.Md5.digest()
    counts.forEach { (tok, cnt) =>
      val d = md.digest(tok.getBytes(StandardCharsets.UTF_8))
      // bit j is bit (j%4) of the j/4-th HEX DIGIT of the md5 hex string —
      // the contract the SQL oracle replays. Hex digit 2k is the high
      // nibble of byte k, digit 2k+1 the low nibble; read nibbles straight
      // off the 16 digest bytes instead of materializing the hex string.
      var j = 0
      while (j < 64) {
        val k = j / 4
        val nibble =
          if ((k & 1) == 0) (d(k >> 1) >> 4) & 0xf
          else d(k >> 1) & 0xf
        val bit = (nibble >> (j % 4)) & 1
        acc(j) += cnt.toLong * (2 * bit - 1)
        j += 1
      }
    }
    var h = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) h |= 1L << j
      j += 1
    }
    h
  }
}
