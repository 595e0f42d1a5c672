package graft.llm

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Grouped top-k as a native aggregate: keep the k best (score, id) pairs
  * per group in a bounded heap.
  *
  * Why: the standard Spark formulation of "top-k per key" is a
  * `row_number() OVER (PARTITION BY key ORDER BY score DESC)` window, which
  * shuffles and SORTS every candidate row (25M rows for a 5k×5k brute-force
  * cosine; at cluster scale, billions). A `TypedImperativeAggregate` is
  * map-side combinable: each task reduces its partition to ≤k rows per key
  * before the exchange, so the shuffle carries |keys|×k rows instead of all
  * candidates, and nothing is globally sorted. That last clause is only
  * true in ObjectHashAggregate's HASH mode — see
  * [[TopK.raiseSortFallbackThreshold]], which [[graft.Sessions.local]] calls
  * to lift the 128-key sort-based fallback threshold that would otherwise
  * silently re-introduce a full-input sort on any large key domain.
  *
  * Ordering matches the window formulation exactly: higher score wins, ties
  * broken by smaller id — so results are identical to `row_number`-based
  * top-k (and to the DuckDB oracle's window mirror).
  */
case class TopKByScore(
    scoreExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  // NOTE: inputs MUST be (double, long) — update() unboxes with
  // asInstanceOf. The builder in GraftFunctions wraps both
  // arguments in Cast unconditionally (SimplifyCasts erases the no-ops),
  // so an int32 parquet id or a float score coerces instead of crashing
  // an executor with an opaque ClassCastException. Constructing the
  // aggregate directly bypasses that coercion — go through the builder
  // (TopK.topKByScore or SQL `topk_by_score`).
  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))))
  override def prettyName: String = "topk_by_score"

  /** "Goodness" order: an element is smaller when better (higher score,
    * tie → smaller id). PriorityQueue dequeues the MAX = the worst. */
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.by[(Double, Long), (Double, Long)] { case (s, i) => (-s, i) }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      add(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(add(buf, _))
    buf
  }

  private def add(buf: mutable.PriorityQueue[(Double, Long)],
      e: (Double, Long)): Unit = {
    if (buf.size < k) buf.enqueue(e)
    else if (worstFirst.compare(e, buf.head) < 0) { // e beats current worst
      buf.dequeue(); buf.enqueue(e)
    }
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toArray.sorted(worstFirst) // ascending = best-first
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object TopK {
  /** ObjectHashAggregateExec (the physical operator every
    * TypedImperativeAggregate runs in) falls back to SORT-based
    * aggregation once a partition has seen
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * distinct keys — default 128. For a grouped-top-k over a large key
    * domain that default silently voids this aggregate's whole contract:
    * virtually every input row takes the sort path, and the sort spills
    * the FULL input row (vector payloads included), not the ≤k-pair
    * state. Measured at sf100 (2M vectors): the flat multi-probe
    * router's 3.9e9 routing rows × ~550 B needed ~2 TB of sort spill
    * and died on disk, where hash mode holds 62k bounded heaps per
    * partition (~tens of MB) and spills nothing. 2^20 keys/partition ×
    * (k·16 B heap + ~180 B overhead) ≈ 200 MB worst case — safe on any
    * executor this engine targets, and the fallback still protects a
    * truly unbounded key domain past that. */
  private val FallbackThresholdKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Graft-scoped override knob for the raise below: set
    * `spark.graft.objectHashCapacity=<n>` (any value, including 128) and
    * the entry points apply THAT instead of the 2^20 default. This is
    * the only reliable "user explicitly chose" signal: for a REGISTERED
    * Spark conf, `spark.conf.getOption` returns the DEFAULT ("128") even
    * when nothing was ever set, so unset-vs-explicitly-128 is not
    * distinguishable through the public conf API (measured the hard way:
    * an isEmpty guard here never fired and an sf100 run re-ran the 2 TB
    * sort-spill this raise exists to prevent). */
  private val CapacityKey = "spark.graft.objectHashCapacity"

  /** Raise the sort-based fallback threshold for this session — called by
    * [[graft.Sessions.local]], the factory of every graft entry point
    * (Bench, Verify, DpePin, Explain, FixtureGen, ProfileQ, the test
    * suites), never as a side effect of binding a function: the threshold is
    * session-wide and also governs Spark builtins with genuinely
    * unbounded per-key buffers (collect_list / collect_set / percentile),
    * where the sort fallback is an OOM safety valve. A raise hidden
    * inside a function binding would silently disable that valve for
    * everything in the session — including sessions graft does not own. The graft
    * mains own their sessions, so here the raise is unconditional (to
    * 2^20, or to [[CapacityKey]] when set — the explicit-user-choice
    * channel, since the underlying Spark conf cannot distinguish unset
    * from explicitly-128 through the public API). */
  def raiseSortFallbackThreshold(spark: SparkSession): Unit =
    spark.conf.set(FallbackThresholdKey,
      spark.conf.getOption(CapacityKey).getOrElse((1 << 20).toString))

  /** Column form of `topk_by_score(score, id, k)`; `k` must be a
    * positive integer literal. */
  def topKByScore(score: Column, id: Column, k: Column): Column =
    graft.GraftFunctions.column("topk_by_score", score, id, k)
}
