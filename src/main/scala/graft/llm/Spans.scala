package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact repeated-span detection across documents (the substring-dedup
  * pass of Lee et al. 2021, "Deduplicating Training Data Makes Language
  * Models Better" — published public work; reference analog: the
  * text-overlap derivations of `transform.py`): every MAXIMAL run of
  * tokens shared verbatim between two documents, found by merging
  * consecutive shared k-gram hits along match diagonals.
  *
  * Where [[Dedup.containmentPairs]] scores how MUCH two documents
  * overlap, this recovers WHERE — the (start, start, length) spans a
  * surgical dedup actually cuts (Lee et al. remove the repeated span,
  * not the document).
  *
  * Plan shape (the suffix-array step of the paper re-expressed
  * relationally): positional k-gram postings (map-only scan) → df-capped
  * gram join (candidate volume Σ df² ≤ maxDf·Σ df — linear in corpus
  * tokens for fixed maxDf, the winnowing/TF-IDF candidate contract;
  * recall is full for spans containing at least one sub-maxDf gram) →
  * per-(pair, diagonal) gaps-and-islands window (consecutive pos₁ with
  * rn-difference constant = one maximal run). The window partitions on
  * (id1, id2, diag) — high-cardinality — and sorts only each diagonal's
  * hits, never the corpus. Everything is exact integer arithmetic, so
  * the spans are engine-portable (the oracle replays the identical
  * logic).
  */
object Spans {

  /** Maximal cross-document repeated spans of at least `minTokens`
    * tokens, as (id1 < id2, start1, start2, len_tokens) in 0-based token
    * offsets. `k` is the seed gram width (spans shorter than `k` are
    * invisible by construction — Lee et al. use 50; small corpora want
    * smaller seeds); grams in more than `maxDf` documents are dropped
    * from candidate generation (boilerplate guard, documented recall
    * contract). */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: Long, minTokens: Int): DataFrame = {
    require(k >= 1, s"k=$k")
    require(minTokens >= k, s"minTokens=$minTokens must be >= k=$k")
    require(maxDf >= 2, s"maxDf=$maxDf (cross-doc spans need df >= 2)")
    val postings = docs.select(col(idCol).as("id"),
      posexplode(Shingles.wordShingles(col(textCol), k)).as(Seq("pos", "gram")))
    // df ∈ [2, maxDf]: df=1 grams cannot seed a cross-doc match, df>maxDf
    // grams generate df² candidates with no dedup signal
    val rare = postings.groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= 2 && col("df") <= lit(maxDf))
      .select("gram")
    val pruned = postings.join(rare, "gram")
    val matches = pruned.select(col("gram"), col("id").as("id1"), col("pos").as("pos1"))
      .join(pruned.select(col("gram"), col("id").as("id2"), col("pos").as("pos2")),
        Seq("gram"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("pos1"),
        (col("pos1") - col("pos2")).as("diag"))
    // gaps-and-islands: on one diagonal, consecutive pos1 values belong to
    // one maximal run ⇔ pos1 − row_number is constant ((pos1, pos2) is
    // unique per diagonal, so the ordering is total and deterministic)
    val w = Window.partitionBy(col("id1"), col("id2"), col("diag"))
      .orderBy(col("pos1"))
    matches
      .withColumn("island", col("pos1") - row_number().over(w))
      .groupBy(col("id1"), col("id2"), col("diag"), col("island"))
      .agg(min(col("pos1")).as("s1"), max(col("pos1")).as("e1"))
      .select(col("id1"), col("id2"),
        col("s1").cast("long").as("start1"),
        (col("s1") - col("diag")).cast("long").as("start2"),
        (col("e1") - col("s1") + lit(k)).cast("long").as("len_tokens"))
      .filter(col("len_tokens") >= minTokens)
  }
}
