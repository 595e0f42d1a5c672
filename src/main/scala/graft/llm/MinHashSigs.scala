package graft.llm


import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole MinHash signature of a document as ONE native map-side expression.
  *
  * Contract (identical to the declarative
  * `groupBy(id).agg(min(permKey(p, shingle))…, countDistinct(shingle))`
  * over exploded [[Dedup.rawShingles]], which the DuckDB oracles replay):
  * permutation p's key is half (p % 2) of `md5("⌊p/2⌋|" + shingle)` — the
  * 16-hex-char substring — minimized over the DISTINCT word-n-gram
  * shingles; `sz` is the distinct-shingle count. Docs with no shingles
  * return null (the aggregation formulation emits no row — callers filter
  * nulls, preserving identical downstream behavior).
  *
  * Why an Expression: the declarative chain explodes every shingle
  * occurrence into a row, shuffles them through a hash aggregate whose
  * `countDistinct` forces an Expand + two-phase distinct, and evaluates
  * ⌈perms/2⌉ codegen'd md5(concat(...)) calls per shingle ROW (duplicates
  * included). This kernel runs per document inside the scan: distinct
  * shingles via one hash set, ⌈perms/2⌉ digests per DISTINCT shingle fed
  * from reused byte buffers, unsigned-long min tracking, hex only
  * materialized for the perms final values. The signature stage becomes
  * map-only — the explode, the Expand, and the aggregation exchange all
  * disappear from the plan.
  */
case class MinHashSigsExpr(child: Expression, n: Int, numPerms: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  require(n >= 1 && numPerms >= 1, s"minhash_sigs: n=$n perms=$numPerms")
  override def dataType: DataType = StructType(Seq(
    StructField("sigs", ArrayType(StringType, containsNull = false)),
    StructField("sz", LongType, nullable = false)))
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(input: Any): Any =
    MinHashSigs.compute(input.asInstanceOf[UTF8String], n, numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val row = ctx.freshName("mhRow")
    nullSafeCodeGen(ctx, ev, c => {
      s"""InternalRow $row = graft.llm.MinHashSigs.compute($c, $n, $numPerms);
         |if ($row == null) { ${ev.isNull} = true; } else { ${ev.value} = $row; }
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigsExpr =
    copy(child = newChild)
}

object MinHashSigs {

  // "s|" prefixes for the digest seeds, grown on demand (tiny)
  @volatile private var prefixes: Array[Array[Byte]] = Array.empty
  private def prefix(s: Int): Array[Byte] = {
    var p = prefixes
    if (s >= p.length) synchronized {
      p = prefixes
      if (s >= p.length) {
        val np = java.util.Arrays.copyOf(p, s + 8)
        var i = p.length
        while (i < np.length) {
          // explicit charset: default-charset JVMs would change every md5
          np(i) = s"$i|".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          i += 1
        }
        prefixes = np
        p = np
      }
    }
    p(s)
  }

  /** Per-document signature kernel. Returns null when the text yields no
    * shingles (callers filter — matches the aggregation formulation that
    * emits no row). Called from generated code — keep the signature
    * (UTF8String, int, int) → InternalRow stable. */
  def compute(text: UTF8String, n: Int, numPerms: Int): InternalRow = {
    val shingles = Shingles.compute(text, n)
    val count = shingles.numElements()
    if (count == 0) return null
    val seen = new java.util.HashSet[UTF8String](count * 2)
    val nSeeds = (numPerms + 1) / 2
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, -1L) // unsigned max
    val md = graft.Md5.digest()
    var i = 0
    var distinct = 0L
    while (i < count) {
      val sh = shingles.getUTF8String(i)
      if (seen.add(sh)) {
        distinct += 1
        val bytes = sh.getBytes
        var s = 0
        while (s < nSeeds) {
          md.update(prefix(s))
          md.update(bytes)
          val d = md.digest()
          var h0 = 0L; var h1 = 0L
          var b = 0
          while (b < 8) {
            h0 = (h0 << 8) | (d(b) & 0xffL)
            h1 = (h1 << 8) | (d(b + 8) & 0xffL)
            b += 1
          }
          val p0 = 2 * s
          if (java.lang.Long.compareUnsigned(h0, mins(p0)) < 0) mins(p0) = h0
          if (p0 + 1 < numPerms &&
              java.lang.Long.compareUnsigned(h1, mins(p0 + 1)) < 0)
            mins(p0 + 1) = h1
          s += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](numPerms)
    i = 0
    while (i < numPerms) {
      out(i) = graft.Md5.hex(mins(i), 16)
      i += 1
    }
    InternalRow(new GenericArrayData(out), distinct)
  }
}
