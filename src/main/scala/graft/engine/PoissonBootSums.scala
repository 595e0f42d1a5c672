package graft.engine

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Poisson-bootstrap accumulator: ONE pass over the rows updates
  * all `b` replicates' (Σw·cents, Σw) — the aggregate form of the
  * explode-×B plan ([[Bootstrap.meanCi]]'s declarative shape), which
  * amplifies the scan B× before the shuffle. Here each task reduces its
  * slice to one 2B-long buffer, so the exchange carries one buffer per
  * partition regardless of row count (the CovSums argument, applied to
  * resampling).
  *
  * Draw parity with the declarative path (spec-gated): weights come
  * from the SAME md5(seed|key|chunk) digests (thread-local
  * MessageDigest = Catalyst md5 = DuckDB md5), each digest feeding four
  * 8-hex-slice uniforms, compared against [[Bootstrap]]'s 2^32 CDF
  * thresholds — fixed-width lowercase hex compares lexicographically
  * exactly as the parsed 32-bit integer compares numerically.
  *
  * Capacity: Σw·cents accumulates in int64 — with w ≤ 10 and cents ≤
  * 1e7 it wraps after ~9e10 rows per group; shard the aggregation and
  * merge per-shard sums in DECIMAL beyond that (the CovSums contract).
  * Output: array of `b` structs (rep 1-based, ws cents, wn). */
case class PoissonBootSums(
    keyExpr: Expression,
    centsExpr: Expression,
    b: Int,
    seed: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val chunks = (b + 3) / 4
  private val bufLen = 2 * b

  override def children: Seq[Expression] = Seq(keyExpr, centsExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("rep", LongType, nullable = false),
    StructField("ws", LongType, nullable = false),
    StructField("wn", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "poisson_boot_sums"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufLen)

  // Poisson(1) CDF thresholds as unsigned 32-bit values (the hex
  // constants in Bootstrap, parsed once)
  @transient private lazy val thresholds: Array[Long] =
    Bootstrap.cdfHex.map(java.lang.Long.parseLong(_, 16)).toArray

  private def weightOf(v: Long): Long = {
    var w = 0
    while (w < thresholds.length && v >= thresholds(w)) w += 1
    w.toLong
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val k = keyExpr.eval(input)
    val c = centsExpr.eval(input)
    if (k != null && c != null) {
      val key = k.asInstanceOf[UTF8String].toString
      val cents = c.asInstanceOf[Long]
      val digest = graft.Md5.digest()
      var chunk = 0
      while (chunk < chunks) {
        // UTF-8, not ASCII: Catalyst md5 and DuckDB hash UTF-8 bytes —
        // an ASCII encode would silently break draw parity on any
        // non-ASCII key
        digest.update((seed + "|" + key + "|" + chunk).getBytes(UTF_8))
        val d = digest.digest()
        var slot = 0
        while (slot < 4) {
          val rep = chunk * 4 + slot
          if (rep < b) {
            // big-endian unsigned 32-bit from digest bytes [4·slot, …)
            val v = ((d(4 * slot) & 0xffL) << 24) |
              ((d(4 * slot + 1) & 0xffL) << 16) |
              ((d(4 * slot + 2) & 0xffL) << 8) |
              (d(4 * slot + 3) & 0xffL)
            val w = weightOf(v)
            buf(2 * rep) += w * cents
            buf(2 * rep + 1) += w
          }
          slot += 1
        }
        chunk += 1
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
    val out = new Array[Any](b)
    var r = 0
    while (r < b) {
      out(r) = InternalRow(r + 1L, buf(2 * r), buf(2 * r + 1))
      r += 1
    }
    new GenericArrayData(out)
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

  override def withNewMutableAggBufferOffset(n: Int): PoissonBootSums =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): PoissonBootSums =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PoissonBootSums =
    copy(keyExpr = newChildren(0), centsExpr = newChildren(1))
}

/** Native sign-flip permutation accumulator: ONE pass over the rows
  * updates all `b` replicates' signed cent sums — the aggregate form of
  * [[Stats.groupedSignFlip]]'s explode-×B plan (81 s → sub-second at
  * sf0.1: the explode amplified 600k rows 99× and hashed once per
  * (row, replicate); here each row is hashed ONCE and its 128 digest
  * bits drive up to 128 replicates, each task reducing to one b-long
  * buffer before the shuffle — the PoissonBootSums argument applied to
  * sign flipping).
  *
  * Flip parity with the declarative oracle: replicate r flips the row
  * iff bit (3 − r mod 4) of hex digit (r div 4) of md5(seed|key) is
  * set — exactly `((instr('0123456789abcdef', substr(md5(seed || '|'
  * || key), 1 + r // 4, 1)) - 1) >> (3 - r % 4)) & 1` in DuckDB, so an
  * oracle can replay every flip relationally.
  *
  * Capacity: one digest = 128 bits caps b at 128 (chunked digests like
  * PoissonBootSums are the extension if a caller ever needs more);
  * signed cent sums accumulate in int64 — with cents ≤ 1e7 they wrap
  * after ~9e11 rows per group (the CovSums shard-and-merge contract).
  * Output: array of `b` longs (replicate sign-flipped Σcents). */
case class SignFlipSums(
    keyExpr: Expression,
    centsExpr: Expression,
    b: Int,
    seed: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(b >= 1 && b <= 128, s"sign_flip_sums: b=$b (one digest = 128 bits)")

  override def children: Seq[Expression] = Seq(keyExpr, centsExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_flip_sums"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](b)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val k = keyExpr.eval(input)
    val c = centsExpr.eval(input)
    if (k != null && c != null) {
      val key = k.asInstanceOf[UTF8String].toString
      val cents = c.asInstanceOf[Long]
      val digest = graft.Md5.digest()
      digest.update((seed + "|" + key).getBytes(UTF_8))
      val d = digest.digest()
      var r = 0
      while (r < b) {
        // hex digit r/4 of the digest, bit (3 - r%4) — the exact SQL
        // replay formula in the scaladoc
        val byte = d(r / 8) & 0xff
        val digit = if ((r / 4) % 2 == 0) byte >> 4 else byte & 0xf
        val flip = ((digit >> (3 - r % 4)) & 1) == 1
        buf(r) += (if (flip) -cents else cents)
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(x => x: Any))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(b * 8)
    var i = 0
    while (i < b) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](b)
    var i = 0
    while (i < b) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): SignFlipSums =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SignFlipSums =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SignFlipSums =
    copy(keyExpr = newChildren(0), centsExpr = newChildren(1))
}
