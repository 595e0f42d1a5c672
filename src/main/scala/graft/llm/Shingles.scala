package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a document as a native Catalyst expression.
  *
  * Contract (identical to the declarative form in [[Dedup.wordShingles]],
  * which remains as the readable spec): lowercase the text, tokenize on
  * non-[a-z0-9] runs, emit every window of `n` consecutive tokens joined
  * by a single space; fewer than `n` tokens → empty array. The DuckDB
  * oracles replay the same contract relationally, so swapping this in
  * changes no query result.
  *
  * Why an Expression: the declarative chain (regex `split` → HOF `filter` →
  * `transform` + `sequence` + `slice` + `array_join`) allocates a token
  * array, a per-shingle slice array and a joined string per window, and
  * pays the regex engine per document. This kernel is one byte-scan over
  * the UTF8String (token spans are (start,end) ints; multi-byte UTF-8
  * units are ≥ 0x80 so a byte test is exact for the ASCII token class)
  * plus exactly one byte-copy per emitted shingle — and `doGenCode` keeps
  * a 100 TB document scan inside whole-stage codegen. Shingle generation
  * is the shared scan stage of every dedup operator (exact Jaccard,
  * MinHash-LSH, corpus cleaning), which makes it the hottest kernel in
  * the llm surface.
  */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  require(n >= 1, "shingle size n must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    Shingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.llm.Shingles.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

object Shingles {

  /** Column form of `word_shingles(text, n)`. */
  def wordShingles(text: Column, n: Int): Column =
    graft.GraftFunctions.column("word_shingles", text,
      org.apache.spark.sql.functions.lit(n))

  private val Empty = new GenericArrayData(Array.empty[Any])

  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** One-pass shingle kernel. Called from generated code — keep the
    * signature (UTF8String, int) → ArrayData stable. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val lower = text.toLowerCase
    val bytes = lower.getBytes
    val len = bytes.length
    // token spans (start inclusive, end exclusive)
    var starts = new Array[Int](32)
    var ends = new Array[Int](32)
    var t = 0
    var i = 0
    while (i < len) {
      if (isTokenByte(bytes(i))) {
        val s = i
        while (i < len && isTokenByte(bytes(i))) i += 1
        if (t == starts.length) {
          starts = java.util.Arrays.copyOf(starts, t * 2)
          ends = java.util.Arrays.copyOf(ends, t * 2)
        }
        starts(t) = s
        ends(t) = i
        t += 1
      } else {
        i += 1
      }
    }
    if (t < n) return Empty
    val out = new Array[Any](t - n + 1)
    var s = 0
    while (s <= t - n) {
      var total = n - 1 // single-space separators
      var k = s
      while (k < s + n) { total += ends(k) - starts(k); k += 1 }
      val buf = new Array[Byte](total)
      var pos = 0
      k = s
      while (k < s + n) {
        if (k > s) { buf(pos) = ' '; pos += 1 }
        val l = ends(k) - starts(k)
        System.arraycopy(bytes, starts(k), buf, pos, l)
        pos += l
        k += 1
      }
      out(s) = UTF8String.fromBytes(buf)
      s += 1
    }
    new GenericArrayData(out)
  }
}
