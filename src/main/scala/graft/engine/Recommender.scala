package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item-item collaborative filtering over co-occurrence baskets
  * (Sarwar et al. 2001; the Amazon item-to-item shape) — the
  * recommendation primitive a curation pipeline uses for "related
  * items" and for co-occurrence-based feature generation.
  */
object Recommender {

  /** Item-item cosine neighbors from (basket, item) rows:
    *
    *   cos(i, j) = |U_i ∩ U_j| / sqrt(|U_i|·|U_j|)
    *
    * over binary basket-item incidence. Pairs generate BASKET-locally
    * (sorted per-basket item arrays from one b-keyed aggregation, tail
    * slices per position — cost Σ_b |b|², the wedge bound, with no
    * join); `maxBasket` drops power-baskets above the cap first (the
    * winnowing maxDf contract: a basket containing everything links
    * everything to everything at near-zero signal); `minSupport` drops
    * pairs co-occurring fewer than that many times BEFORE the
    * cosine/rank stage — the standard noise cut and the scale lever
    * (on this corpus c ≥ 2 shrinks the ranking stage 30×, and
    * singleton co-occurrences are exactly the pairs a recommender
    * should not trust). Counts are exact; the cosine is one IEEE
    * division + sqrt of exact ints, rounded to 8dp; per-item top-k
    * ranks on (cos DESC, neighbor) — a total order. Output: item,
    * neighbor, co/cos columns, rank ≤ `k`. */
  def itemNeighbors(baskets: DataFrame, basketCol: String,
      itemCol: String, k: Int = 3, maxBasket: Int = 1000,
      minSupport: Int = 1): DataFrame = {
    val inc = baskets
      .select(col(basketCol).cast("long").as("b"),
        col(itemCol).cast("long").as("i"))
      .where(col("b").isNotNull && col("i").isNotNull)
      .distinct()
    // Per-basket item SETS via one b-keyed aggregation (round 11,
    // guide §2/§3: per-basket local pair generation). The r10 shape
    // (size filter + left-semi + kept ⋈ kept self-join on b) paid two
    // sorts and three reads of the incidence exchange and was the
    // bench's #1 cost in the full-suite run (37.2 s, anti-scaling 0.18
    // at 32 cores). Here the pairs generate LOCALLY from the sorted
    // array — no self-join, no sort. `distinct()` upstream makes the
    // array a strictly increasing set, so the tail slice after each
    // position is exactly the i < j pair set of the old θ-join.
    // The cap applies before the collect (count + left-semi pre-filter),
    // so a power basket never builds its item array: per-group state
    // stays ≤ maxBasket longs whatever the input holds.
    // spreadExpand: the pair stage below writes ~30× its input — without
    // the pin AQE coalesces the small basket shuffle to ~3 partitions
    // and serializes the expansion (measured: 3 tasks / 4.4 s at 32
    // cores); identity at scale (static scan-splits guard)
    val capped = inc.groupBy(col("b")).agg(count(lit(1)).as("n"))
      .where(col("n") <= maxBasket)
    val basket = Partitioning.spreadExpand(
      inc.join(capped, Seq("b"), "left_semi").groupBy(col("b"))
        .agg(sort_array(collect_list(col("i"))).as("items")))
    val ni = basket.select(explode(col("items")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("n"))
    val co = basket
      .select(posexplode(col("items")).as(Seq("p", "i")), col("items"))
      .select(col("i"),
        explode(slice(col("items"), col("p") + lit(2),
          size(col("items")))).as("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minSupport)
    val withN = co
      .join(ni, "i").withColumnRenamed("n", "n_i")
      .join(ni.withColumnRenamed("i", "j"), "j")
      .withColumnRenamed("n", "n_j")
      .select(col("i"), col("j"), col("c"),
        round(col("c").cast("double") /
          sqrt(col("n_i").cast("double") * col("n_j").cast("double")), 8)
          .as("cos"))
    // both directions so every item lists its neighbors — ONE local
    // explode instead of a union of two selects (the union shape read
    // the scored-pair exchange twice: 229.5 MB of a 114.8 MB exchange
    // in the round-11 open profile)
    val sym = withN.select(explode(array(
        struct(col("i"), col("j"), col("c"), col("cos")),
        struct(col("j").as("i"), col("i").as("j"), col("c"),
          col("cos")))).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"),
        col("e.c").as("c"), col("e.cos").as("cos"))
    val w = Window.partitionBy(col("i"))
      .orderBy(col("cos").desc, col("j"))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("i").as("item"), col("j").as("neighbor"),
        col("c").as("co_count"), col("cos"), col("rank"))
  }
}
