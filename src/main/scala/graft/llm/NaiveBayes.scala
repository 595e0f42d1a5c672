package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial naive Bayes over token counts (McCallum & Nigam 1998,
  * "A Comparison of Event Models for Naive Bayes Text Classification")
  * — the classic distributed-trainable document classifier a curation
  * pipeline uses to route/verify provenance labels (fastText's linear
  * baseline tier; [[LinearModel.score]] is the inference-only dual with
  * externally trained weights — THIS trains from the corpus itself).
  *
  * Train and score in one plan:
  *  - model = two aggregations of the exploded token table: per-label
  *    token counts c(t,l) and per-label totals c(l); plus doc priors
  *    n(l)/N and the vocabulary size V — all |vocab|·|labels|-sized,
  *    never corpus-sized;
  *  - score(d,l) = ln(n(l)/N) + Σ_t tf(d,t)·ln((c(t,l)+1)/(c(l)+V))
  *    (Laplace add-one), evaluated by crossing each doc's tf rows with
  *    the label set (|labels| is small — documented contract) and
  *    left-joining the model so unseen (t,l) fall back to the ln(1/
  *    (c(l)+V)) floor;
  *  - argmax per doc, ties to the lexicographically SMALLEST label.
  *
  * Determinism: counts are exact integers; each per-token ln rounds to
  * the 8dp integer grid (the [[TextAnalysis.bigramLogProb]] contract) so
  * per-doc-per-label totals are exact longs and the argmax compares
  * integers — bit-identical on any engine. Scale: the cross-with-labels
  * multiplies the token table by |labels| before one doc-keyed shuffle;
  * the model side is a broadcast-sized dimension at any corpus size
  * (vocab·labels rows), left unhinted so AQE decides (the
  * [[TextAnalysis.oovRate]] convention).
  */
object NaiveBayes {

  /** Self-train on `labelCol` and score every document under the learned
    * model. Output: idCol, labelCol (actual), predicted,
    * neg_logprob (total score magnitude, double, 8dp-grid-exact).
    *
    * Requires each id to carry exactly one label. Rows sharing an id are
    * scored as ONE document over their pooled tokens and every one of
    * them is returned with that single prediction, so an id with two
    * labels can be right for at most one of them. */
  def trainScore(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    val toks = docs.select(col(idCol), col(labelCol).as("__lbl"),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
    // Per-doc term frequencies — the ONE corpus-sized tokenize +
    // aggregation (round 11): carrying the label through the groupBy is
    // free (idCol determines it — same groups, one extra tiny key
    // column), and every OTHER corpus-scale pass derives from this
    // aggregated table instead of re-tokenizing:
    //  - ctl(t,l) = Σ_{d: lbl(d)=l} tf(d,t) — a rollup of tf, exactly
    //    the old per-occurrence count grouped the same way;
    //  - tf's exchange is an identical subtree under both consumers, so
    //    ReuseExchange runs tokenize/explode ONCE per action (round 10
    //    ran it twice and round-10's docs-spread then shuffled the full
    //    TEXT column to parallelize the second pass — both costs gone).
    val tf = toks.groupBy(col(idCol), col("__lbl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // model: per-(token,label) and per-label counts, vocab size, priors
    val ctl = tf.groupBy(col("token"), col("__lbl"))
      .agg(sum(col("tf")).as("ctl"))
    val cl = ctl.groupBy(col("__lbl")).agg(sum(col("ctl")).as("cl"))
    // vocab size from the MODEL table, not the corpus-sized tf table:
    // the distinct-token set of ctl IS the corpus vocabulary (every
    // token appears under ≥1 label), and deriving it here keeps tf a
    // single-consumer subtree (round-10: one fewer corpus-scale
    // aggregation; same value by construction)
    val vsz = ctl.agg(countDistinct(col("token")).as("__vsz"))
    val nDocs = docs.groupBy(col(labelCol).as("__lbl"))
      .agg(count(lit(1)).as("nl"))
    val nTot = docs.agg(count(lit(1)).as("__n"))
    // 8dp-ln integer grid: nlp = -1e8 * round(ln p, 8), positive long
    def grid(p: org.apache.spark.sql.Column) =
      (round(log(p), 8).cast("decimal(20,8)") * lit(-100000000L)).cast("long")
    val priors = nDocs.crossJoin(nTot)
      .select(col("__lbl"),
        grid(col("nl").cast("double") / col("__n").cast("double"))
          .as("__prior"))
    // label dimension carrying everything per-label scoring needs,
    // including the unseen-(token,label) floor term ln(1/(c(l)+V)) —
    // |labels| grid(log) evaluations, computed once
    val labelDim = cl.join(priors, Seq("__lbl")).crossJoin(vsz)
      .withColumn("__floor",
        grid(lit(1.0) / (col("cl") + col("__vsz")).cast("double")))
    // Per-(token,label) model term ln((c(t,l)+1)/(c(l)+V)) precomputed
    // on the MODEL table (round 10): the term depends only on (token,
    // label), so evaluating it here costs |vocab|·|labels| grid(log)
    // calls instead of |tf|·|labels| after the join — at sf0.1 that is
    // ~0.2M vs ~4M log+BRound evaluations (the 3.3 s single-task
    // scoring stage in ProfileQ), and at 100 TB it moves a per-corpus-
    // row transcendental to the model-sized side. Values are identical:
    // present (t,l) rows take __t = grid((ctl+1)/(cl+V)), absent ones
    // coalesce to the per-label __floor = grid(1/(cl+V)) — exactly the
    // old coalesce(ctl, 0) branches.
    val term = ctl.join(cl, Seq("__lbl")).crossJoin(vsz)
      .select(col("token"), col("__lbl"),
        grid((col("ctl") + 1).cast("double") /
          (col("cl") + col("__vsz")).cast("double")).as("__t"))
    // tf's own label column drops before the cross: scoring crosses each
    // doc's tf rows with EVERY label, and labelDim brings its own __lbl
    val scored = tf.drop("__lbl").crossJoin(
        labelDim.select(col("__lbl"), col("__prior"), col("__floor")))
      .join(term, Seq("token", "__lbl"), "left")
      .select(col(idCol), col("__lbl"), col("__prior"),
        (col("tf") * coalesce(col("__t"), col("__floor"))).as("__c"))
      .groupBy(col(idCol), col("__lbl"), col("__prior"))
      .agg(sum(col("__c")).as("__s"))
      .select(col(idCol), col("__lbl"),
        (col("__prior") + col("__s")).as("__cost"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__cost").asc, col("__lbl").asc)
    val best = scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col("__lbl").as("predicted"),
        (col("__cost").cast("double") / lit(100000000.0)).as("neg_logprob"))
    // token-less docs have no tf rows and thus no scored row; they take
    // the prior argmax (every per-token term is absent, so the score IS
    // the prior) instead of silently vanishing from the output
    // (review-found: the inner join dropped them)
    val fallback = priors.orderBy(col("__prior").asc, col("__lbl").asc)
      .limit(1)
      .select(col("__lbl").as("__fbl"),
        (col("__prior").cast("double") / lit(100000000.0)).as("__fbc"))
    docs.select(col(idCol), col(labelCol))
      .join(best, Seq(idCol), "left")
      .crossJoin(broadcast(fallback))
      .select(col(idCol), col(labelCol),
        coalesce(col("predicted"), col("__fbl")).as("predicted"),
        coalesce(col("neg_logprob"), col("__fbc")).as("neg_logprob"))
  }
}
