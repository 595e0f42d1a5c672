package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training (Sennrich et al., ACL 2016 — the
  * tokenizer-training step of a pretraining pipeline), distributed:
  *
  *  1. the corpus reduces ONCE to a (word, count) vocabulary — everything
  *     after is proportional to vocabulary size, not corpus size (the
  *     reason BPE training is tractable at 100 TB: the heavy shuffle
  *     happens exactly once);
  *  2. each word is a symbol sequence (initially characters, `</w>`
  *     marking word end);
  *  3. per round: count weighted adjacent symbol pairs (explode + sum —
  *     map-side combinable), pick the global max (count desc, then
  *     lexicographic pair — fully deterministic), and merge that pair in
  *     every word via one array pass.
  *
  * Rounds materialize through [[graft.engine.Checkpoints.iterationBarrier]]
  * like the CC loops (reliable-checkpoint switch applies). The 1-row
  * argmax per round is collected to drive the next round's literal merge
  * pair — O(merges) driver rows, never data-proportional.
  */
object Bpe {

  /** End-of-word marker (attached to the final character). */
  val Eow = "</w>"

  /** (word, count) vocabulary of the corpus — the one corpus-wide
    * aggregation. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Initial symbolization: characters, last one fused with [[Eow]]. */
  private def symbolize(word: Column): Column = {
    val chars = split(word, "")
    val n = size(chars)
    transform(chars, (c, i) => when(i === n - 1, concat(c, lit(Eow))).otherwise(c))
  }

  /** One array-pass merge of adjacent pair (a, b) → "ab" inside a symbol
    * array: left-to-right, non-overlapping (aggregate fold — an element
    * consumed by a merge cannot start the next one). */
  private def mergePair(syms: Column, a: String, b: String): Column = {
    val folded = aggregate(syms,
      struct(array().cast("array<string>").as("acc"),
        lit(false).as("justMerged")),
      (st, s) => {
        val acc = st.getField("acc")
        val last = element_at(acc, lit(-1))
        val canMerge = (size(acc) > 0) && !st.getField("justMerged") &&
          (last === lit(a)) && (s === lit(b))
        when(canMerge,
          struct(concat(slice(acc, lit(1), size(acc) - 1),
              array(lit(a + b))).as("acc"),
            lit(true).as("justMerged")))
          .otherwise(struct(concat(acc, array(s)).as("acc"), lit(false).as("justMerged")))
      })
    folded.getField("acc")
  }

  /** Learn `numMerges` BPE merges from a corpus. Returns the merge table:
    * (rank, left, right, pair_count) in learned order. */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    require(numMerges >= 1, s"numMerges=$numMerges")
    var vocab = graft.engine.Checkpoints.iterationBarrier(
      wordCounts(docs, textCol)
        .select(col("word"), col("cnt"), symbolize(col("word")).as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      // weighted adjacent-pair counts (zip syms with its own tail);
      // global argmax under a total order — deterministic on any engine
      exhausted = true
      val top = vocab
        .select(col("cnt"),
          explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.nonEmpty) {
        val row = top(0)
        val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
        if (n >= 2) { // a pair seen once has no compression value
          merges += ((rank, l, r, n))
          vocab = graft.engine.Checkpoints.iterationBarrier(
            vocab.select(col("word"), col("cnt"),
              mergePair(col("syms"), l, r).as("syms")))
          rank += 1
          exhausted = false
        }
      }
    }
    val out = merges.toSeq
    spark.createDataFrame(out).toDF("rank", "left", "right", "pair_count")
  }

  /** Apply a learned merge table to segment words: (word, symbols array).
    * Replays merges in rank order over the vocabulary — same
    * vocabulary-proportional cost as training rounds. */
  def segment(docs: DataFrame, textCol: String, mergeTable: Seq[(String, String)]): DataFrame = {
    val vocab = wordCounts(docs, textCol)
      .select(col("word"), symbolize(col("word")).as("syms"))
    mergeTable.foldLeft(vocab) { case (v, (l, r)) =>
      v.select(col("word"), mergePair(col("syms"), l, r).as("syms"))
    }
  }
}
