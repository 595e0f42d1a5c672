package graft.llm


import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints as a native Catalyst expression.
  *
  * Contract (identical to the declarative chain in
  * [[TextAnalysis.winnow]], which remains the readable spec and the shape
  * the DuckDB oracle replays): hash every k-character-gram as the first 8
  * hex chars of md5, slide a window of `w` hashes, keep each window's
  * minimum, return the distinct minima. Texts shorter than k → empty;
  * shorter than k+w−1 → one fingerprint.
  *
  * Why an Expression: the HOF formulation allocates a UTF8String per gram,
  * runs codegen'd md5 (bytes→hex string) per gram, then slices arrays per
  * window — ~n_grams × (copy + digest + hex + slice) allocations per
  * document. This kernel walks the UTF-8 bytes once to index codepoint
  * starts, feeds each gram to a thread-local MD5 via (buffer, offset, len)
  * — zero copies in — compares the first 4 digest bytes as an unsigned
  * 32-bit int (== lexicographic order of the 8-hex-char prefix, since hex
  * is fixed-width), takes window minima with a monotonic deque (O(n) for
  * any w), and only materializes hex strings for the few distinct minima.
  */
case class WinnowExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  require(k >= 1 && w >= 1, s"winnow: k=$k w=$w must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(input: Any): Any =
    Winnow.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.llm.Winnow.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

object Winnow {

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** One-pass winnowing kernel. Called from generated code — keep the
    * signature (UTF8String, int, int) → ArrayData stable. */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // codepoint start offsets (UTF-8 continuation bytes are 10xxxxxx)
    var starts = new Array[Int](math.max(16, len / 2))
    var nChars = 0
    var i = 0
    while (i < len) {
      if ((bytes(i) & 0xc0) != 0x80) {
        if (nChars == starts.length)
          starts = java.util.Arrays.copyOf(starts, nChars * 2)
        starts(nChars) = i
        nChars += 1
      }
      i += 1
    }
    if (nChars < k) return Empty
    val nGrams = nChars - k + 1
    // unsigned first-4-digest-bytes per gram == its 8-hex-char prefix order
    val md = graft.Md5.digest()
    val hashes = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      val from = starts(g)
      val until = if (g + k < nChars) starts(g + k) else len
      md.update(bytes, from, until - from)
      val d = md.digest()
      hashes(g) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      g += 1
    }
    // window minima via monotonic deque; distinct minima in first-seen order
    val effW = math.min(w, nGrams)
    val deque = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // [head, tail) holds candidate indices, values increasing
    val seen = new java.util.HashSet[Long]()
    val outVals = new java.util.ArrayList[Long]()
    g = 0
    while (g < nGrams) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(g)) tail -= 1
      deque(tail) = g; tail += 1
      if (deque(head) <= g - effW) head += 1
      if (g >= effW - 1) {
        val m = hashes(deque(head))
        if (seen.add(m)) outVals.add(m)
      }
      g += 1
    }
    val out = new Array[Any](outVals.size)
    i = 0
    while (i < outVals.size) {
      out(i) = graft.Md5.hex(outVals.get(i), 8)
      i += 1
    }
    new GenericArrayData(out)
  }
}
