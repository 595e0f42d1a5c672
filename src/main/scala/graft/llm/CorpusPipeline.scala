package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The canonical pretraining-corpus cleaning flow, composed from the
  * engine's operators: quality scoring → language filter → MinHash-LSH
  * near-dup removal keeping one canonical document per duplicate cluster.
  *
  * This is the composition a training-data user actually runs; every stage
  * is one of the individually-oracle-verified operators, and the composed
  * result is itself oracle-checked end-to-end (`q_corpus_clean`).
  *
  * Scale shape: quality + language are map-side/broadcast stages over the
  * document scan; the only super-linear work is LSH candidate generation
  * (equi-join on band keys) + verification on candidates; cluster
  * resolution runs on the (tiny) near-dup pair set.
  */
object CorpusPipeline {

  final case class Config(
      minQuality: Double = 0.45,
      lang: String = "en",
      shingleN: Int = 3,
      bands: Int = 3,
      rowsPerBand: Int = 3,
      jaccardThreshold: Double = 0.5)

  /** Returns the surviving documents with their audit columns:
    * (idCol, lang_pred, quality_score).
    *
    * Gates run BEFORE dedup: near-dup clusters are resolved among the
    * gate-surviving docs only, so every cluster keeps exactly one passing
    * representative (a failing canonical can't drag its passing duplicates
    * out of the corpus) — and the expensive LSH stage sees only the
    * already-filtered subset. */
  def clean(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    // Both gates are map-side column expressions over one tokenization of
    // the scan — a single fused projection, no self-joins, no shuffle
    // before LSH. Counts get their own named-column step so the token
    // array is built once (CollapseProject keeps non-cheap
    // multi-referenced projections separate).
    val counts = TextAnalysis.wordHitCounts(col("__toks"))
    // native one-pass tokenizer (word_shingles n=1 ≡ TextAnalysis.tokens;
    // equivalence covered in DedupSpec) — the token array is the widest
    // intermediate of the gate stage
    val counted = docs
      .select(col(idCol), col(textCol),
        Shingles.wordShingles(col(textCol), 1).as("__toks"))
      .select(col(idCol) +: col(textCol) +:
        TextAnalysis.qualityScore(col(textCol), col("__toks"))
          .as("quality_score") +:
        counts.map { case (l, n) => n.as(s"__n_$l") }: _*)
    val (bestLang, _) = TextAnalysis.argmaxByLang(
      counts.map { case (l, _) => l -> col(s"__n_$l") })

    // materialize the gated set once: it feeds the LSH signature scan, the
    // verification joins, and the final output — without the checkpoint the
    // gate subtree would be recomputed for each consumer
    val gated = counted
      .select(col(idCol), col(textCol), bestLang.as("lang_pred"),
        col("quality_score"))
      .filter(col("quality_score") >= cfg.minQuality &&
        col("lang_pred") === cfg.lang)
    val gatedCk = graft.engine.Checkpoints.iterationBarrier(gated)

    val pairs = Dedup.minhashNearDups(gatedCk, idCol, textCol,
      cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.jaccardThreshold)
      .select("id1", "id2")
    val losers = Dedup.dupClusters(pairs)
      .filter(col("id") =!= col("canonical_id"))
      .select(col("id").as(idCol))

    gatedCk.drop(textCol).join(losers, Seq(idCol), "left_anti")
  }
}
