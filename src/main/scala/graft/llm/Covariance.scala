package graft.llm

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Gram-matrix / covariance sums as a native aggregate: one pass over the
  * embedding column accumulates n, Σx_i (dim longs) and the upper triangle
  * of ΣX^T X (dim·(dim+1)/2 longs) in EXACT fixed point
  * (x → floor(x·2^16), products exact in int64).
  *
  * Why an aggregate and not a pair-explode: the relational formulation
  * (unnest dims, self-join per row, groupBy (i,j)) amplifies a 100 TB scan
  * by dim²/2 rows BEFORE the shuffle. This buffer is map-side combinable —
  * each task reduces its whole slice to one (dim²/2 + dim + 1)-long state,
  * so the exchange carries one buffer per partition, independent of row
  * count. This is the input statistic for PCA/whitening over embedding
  * corpora.
  *
  * Fixed-point bounds: |x| ≤ 2 ⇒ |xi| ≤ 2^17, |xi·xj| ≤ 2^34; int64
  * overflows after ~2^29 rows per final aggregation. For larger corpora,
  * partition the aggregation (e.g. per shard) and merge the per-shard
  * sums in DECIMAL — the buffers add exactly.
  */
case class CovSums(
    vecExpr: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  // buffer layout: [0] = n, [1..dim] = component sums,
  // [dim+1 ..] = upper-triangle products, index(i<=j) = i*dim - i(i-1)/2 + (j-i)
  private val triLen = dim * (dim + 1) / 2
  private val bufLen = 1 + dim + triLen

  override def children: Seq[Expression] = Seq(vecExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("p", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "cov_sums"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufLen)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val a = vecExpr.eval(input)
    if (a != null) {
      val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      require(arr.numElements() == dim,
        s"cov_sums: expected $dim-dim vector, got ${arr.numElements()}")
      val x = new Array[Long](dim)
      var i = 0
      while (i < dim) {
        x(i) = math.floor(arr.getDouble(i) * 65536.0).toLong
        i += 1
      }
      buf(0) += 1L
      i = 0
      var t = 1 + dim
      while (i < dim) {
        buf(1 + i) += x(i)
        var j = i
        while (j < dim) {
          buf(t) += x(i) * x(j)
          t += 1
          j += 1
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bufLen) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val s = new Array[Any](dim)
    var i = 0
    while (i < dim) { s(i) = buf(1 + i); i += 1 }
    val p = new Array[Any](triLen)
    i = 0
    while (i < triLen) { p(i) = buf(1 + dim + i); i += 1 }
    InternalRow(buf(0), new GenericArrayData(s), new GenericArrayData(p))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(bufLen * 8)
    var i = 0
    while (i < bufLen) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bufLen)
    var i = 0
    while (i < bufLen) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CovSums =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CovSums =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CovSums =
    copy(vecExpr = newChildren(0))
}

object Covariance {
  /** Column form of `cov_sums(vec, dim)` (vec must be array<double>). */
  def covSums(vec: Column, dim: Int): Column =
    graft.GraftFunctions.column("cov_sums", vec,
      org.apache.spark.sql.functions.lit(dim))

  /** Upper-triangle covariance cells (i, j, n, cov) from one [[CovSums]]
    * pass: cov = E[x_i x_j] − E[x_i]E[x_j] at 8dp, the exact expression
    * the DuckDB oracle replays (fixed-point sums → one IEEE division
    * chain). Shared by `q_embed_covariance` and the PCA driver solve. */
  def covarianceCells(emb: org.apache.spark.sql.DataFrame, vecCol: String,
      dim: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val cs = emb
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .agg(covSums(col("v"), dim).as("cs"))
    val ij = cs
      .select(col("cs"), explode(sequence(lit(1), lit(dim))).as("i"))
      .select(col("cs"), col("i"),
        explode(sequence(col("i"), lit(dim))).as("j"))
    val t = (col("i") - 1) * dim - (col("i") - 1) * (col("i") - 2) / 2 +
      (col("j") - col("i")) + 1
    ij.select(
      col("i").cast("long").as("i"), col("j").cast("long").as("j"),
      col("cs.n").as("n"),
      round((element_at(col("cs.p"), t.cast("int")).cast("double") /
          lit(4294967296.0)) / col("cs.n") -
        (element_at(col("cs.s"), col("i").cast("int")).cast("double") /
          lit(65536.0) / col("cs.n")) *
        (element_at(col("cs.s"), col("j").cast("int")).cast("double") /
          lit(65536.0) / col("cs.n")), 8).as("cov"))
  }
}
