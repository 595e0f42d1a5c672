package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers, as a 100 TB pipeline needs both:
  *  - brute-force cosine (exact): all-pairs / top-k — the correctness
  *    baseline and the small-collection path;
  *  - sign-LSH (random hyperplanes): O(n) bucketing, candidates only within
  *    buckets, then exact verification — the scale path. Hyperplane
  *    components are ±1 derived from md5 hex digits, so the identical
  *    planes are constructible in any engine (the DuckDB oracle re-derives
  *    them in SQL) and across cluster restarts with no RNG state.
  *
  * Numeric determinism: dot products are sequential left-folds over
  * double-cast components ([[dot]]) — IEEE-identical on every
  * engine/partitioning, so thresholds compare bit-equal doubles.
  */
object Similarity {

  /** Float embedding → double components (exact widening). */
  def vecDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product as a sequential left-fold, `((0.0 + a0·b0) + a1·b1) + …`
    * in component order, evaluated by the native [[DotProductExpr]]: the
    * fixed order makes the double result bit-identical on every engine and
    * partitioning. */
  def dot(a: Column, b: Column): Column = DotProduct.dotSeq(a, b)

  /** Cosine from a pair dot product and the precomputed squared norms,
    * guarded for zero-norm vectors: the norm product is nulled when 0, so
    * degenerate embeddings yield null (filtered by any threshold) instead
    * of an ANSI-mode divide-by-zero crash — matching SQL NULL semantics. */
  private def cosine(v1: Column, n21: Column, v2: Column, n22: Column): Column = {
    val normProd = sqrt(n21 * n22)
    dot(v1, v2) / when(normProd =!= 0, normProd)
  }

  /** Pairwise cosine for all (id1 < id2) pairs with cos ≥ minCos.
    * Output: id1, id2, cos. Quadratic — verification/baseline path. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
      minCos: Double): DataFrame = {
    val withNorm = emb.select(col(idCol).as("id"),
      vecDouble(col(vecCol)).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val a = withNorm.toDF("id1", "v1", "n21")
    val b = withNorm.toDF("id2", "v2", "n22")
    val cos = cosine(col("v1"), col("n21"), col("v2"), col("n22"))
    a.crossJoin(b)
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cos)
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), round(col("cos"), 8).as("cos"))
  }

  /** Exact top-k neighbors per vector: brute-force pair scores reduced by
    * the bounded-heap [[TopKByScore]] aggregate — map-side combine brings
    * each task down to ≤k rows per id BEFORE the exchange, so the shuffle
    * carries |ids|×k rows instead of all |ids|² candidates (a window-rank
    * formulation would sort the full pair set). Ordering/ties identical to
    * `row_number() OVER (ORDER BY cos DESC, neighbor_id)`.
    * Output: id, neighbor_id, rank, cos. */
  def topKNeighbors(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val withNorm = emb.select(col(idCol).as("id"),
      vecDouble(col(vecCol)).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val a = withNorm.toDF("id", "v1", "n21")
    val b = withNorm.toDF("neighbor_id", "v2", "n22")
    val cos = cosine(col("v1"), col("n21"), col("v2"), col("n22"))
    a.crossJoin(b)
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"), cos.as("cos"), col("neighbor_id"))
      .groupBy(col("id"))
      .agg(TopK.topKByScore(col("cos"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("t.score"), 8).as("cos"))
  }

  /** Deterministic ±1 hyperplanes: component j of plane p is +1 when the
    * first hex digit of md5("hp<p>|<j>") is even. Engine-portable. */
  def hyperplanes(planes: Int, dim: Int): Seq[Array[Double]] =
    (0 until planes).map { p =>
      Array.tabulate(dim) { j =>
        val hex = graft.Md5.hex(s"hp$p|$j")
        if (Character.digit(hex.charAt(0), 16) % 2 == 0) 1.0 else -1.0
      }
    }

  /** Sign-LSH bucket key: one bit per hyperplane ('1' iff v·r ≥ 0). */
  def lshBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    concat(planes.map { r =>
      when(dot(vec, typedLit(r.toSeq)) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** ANN via sign-LSH: bucket, candidate pairs within a bucket, exact
    * cosine verification ≥ minCos. Output: id1, id2, cos. */
  def annPairs(emb: DataFrame, idCol: String, vecCol: String,
      planes: Int, minCos: Double): DataFrame = {
    // planes <= 0 would make lshBucket a constant (one bucket = the
    // all-pairs cross join this function exists to avoid) — fail loud,
    // the ivfProbeTopKNeighbors parameter-guard convention
    require(planes >= 1, s"annPairs: planes=$planes")
    val hp = hyperplanes(planes, dimOf(emb, vecCol))
    val withB = emb.select(col(idCol).as("id"), vecDouble(col(vecCol)).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .withColumn("bucket", lshBucket(col("v"), hp))
    val a = withB.toDF("id1", "v1", "n21", "bucket")
    val b = withB.toDF("id2", "v2", "n22", "bucket")
    val cos = cosine(col("v1"), col("n21"), col("v2"), col("n22"))
    a.join(b, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cos)
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), round(col("cos"), 8).as("cos"))
  }

  /** Cross-corpus semantic contamination: LEFT vectors (e.g. an eval
    * set) that have a near neighbor among RIGHT vectors (e.g. the
    * training corpus) in embedding space — the semantic complement of
    * n-gram decontamination ([[Dedup.contaminatedDocs]] catches verbatim
    * overlap; this catches paraphrases that embed nearby).
    *
    * Shape: both sides bucket under the SAME md5-derived sign-LSH planes,
    * candidates come from the bucket equi-join (never a cross join), and
    * only candidates pay the exact cosine. At 100 TB the tiny eval side's
    * buckets broadcast; the train side is a map-only bucket projection.
    * Output: one row per contaminated left id — idCol, n_neighbors,
    * max_cos (8dp). */
  def crossContamination(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, planes: Int, minCos: Double): DataFrame = {
    require(planes >= 1, s"crossContamination: planes=$planes")
    // schema drift between the two corpora must surface, not truncate:
    // the native dot loops to min(len) — with mismatched dims the
    // buckets and cosines would be silently computed over the shared
    // prefix. Checked only when both sides are non-empty (an empty side
    // flows zero rows regardless).
    val (ld, rd) = (dimOf(left, vecCol, emptyDim = 0),
      dimOf(right, vecCol, emptyDim = 0))
    require(ld == 0 || rd == 0 || ld == rd,
      s"crossContamination: dim mismatch left=$ld right=$rd")
    // whichever side is non-empty supplies the plane dimension (an
    // empty left with a non-empty right previously projected the right
    // side through degenerate dim-1 planes — correct output, since the
    // bucket join stays empty, but wasted projection work)
    val hp = hyperplanes(planes, math.max(math.max(ld, rd), 1))
    def side(df: DataFrame, p: String): DataFrame =
      df.select(col(idCol).as(s"${p}_id"), vecDouble(col(vecCol)).as(s"${p}_v"))
        .withColumn(s"${p}_n2", dot(col(s"${p}_v"), col(s"${p}_v")))
        .withColumn("bucket", lshBucket(col(s"${p}_v"), hp))
    side(left, "l").join(side(right, "r"), Seq("bucket"))
      .withColumn("cos",
        cosine(col("l_v"), col("l_n2"), col("r_v"), col("r_n2")))
      .filter(col("cos") >= minCos)
      .groupBy(col("l_id"))
      .agg(count(lit(1)).as("n_neighbors"),
        round(max(col("cos")), 8).as("max_cos"))
      .select(col("l_id").as(idCol), col("n_neighbors"), col("max_cos"))
  }

  /** IVF-style ANN: partition vectors into cells by nearest centroid, then
    * search only within cells (nprobe=1), verifying candidates with exact
    * cosine. Centroids are the vectors with the `numCells` smallest ids —
    * deterministic and engine-portable; a production build would plug
    * k-means centroids into the same cell-assignment plan. Assignment ties
    * break on centroid id, so cells are reproducible bit-for-bit.
    * Output: id1, id2, cos ≥ minCos. */
  /** IVF cell assignment shared by [[ivfPairs]] and [[pqIvfTopK]]:
    * centroids are the `numCells` lowest-id vectors (broadcast), each
    * vector routes to its highest-cosine centroid, ties to the smallest
    * centroid id.
    *
    * `numCells <= 0` means AUTO: ⌊√n⌋ cells (min 1) from one count of
    * the vector table — the standard IVF heuristic that keeps cell-pair
    * work Σ cell² ≈ n^1.5 instead of n²/cells for a FIXED cell count
    * (the sf10 lesson: 16 cells that cost 30 s at 20k vectors cost
    * ~100× more at 200k; √n re-tunes itself as the corpus grows). The
    * count is a driver scalar (the PageRank |V| prologue class) and
    * runs AT PLAN-CONSTRUCTION time — one column-pruned pass over the
    * vector table the moment the auto variant is built, even if the
    * result is never executed (LIMIT needs a literal; callers that only
    * want the plan shape should pass an explicit numCells). √ is
    * IEEE-exact so the engine and a COUNT(*)-windowed oracle derive the
    * SAME cell count bit-for-bit. Output: id, v, n2, cell. */
  def ivfCells(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int): DataFrame = {
    val withNorm = emb.select(col(idCol).as("id"), vecDouble(col(vecCol)).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val cells =
      if (numCells > 0) numCells
      else math.max(1L, math.floor(math.sqrt(withNorm.count()
        .toDouble)).toLong).toInt
    // genuinely the numCells LOWEST ids (TakeOrdered — bounded heap, no
    // full sort), not `id < numCells`: a non-zero-based or gapped id
    // space would silently shrink or empty the centroid set otherwise.
    val centroids = broadcast(withNorm.orderBy(col("id")).limit(cells)
      .toDF("cid", "cv", "cn2"))
    val score = cosine(col("v"), col("n2"), col("cv"), col("cn2"))
    val wAssign = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("cid").asc)
    withNorm.crossJoin(centroids)
      .withColumn("score", score)
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("id"), col("v"), col("n2"), col("cid").as("cell"))
  }

  /** Cell-local top-k neighbors — [[topKNeighbors]] with IVF candidate
    * generation (nprobe=1): each vector is ranked only against the OTHER
    * members of its own [[ivfCells]] cell, verified with exact cosine,
    * top-k via the bounded-heap TopK aggregate. The pair stage is an
    * equi-join on the cell id (never a cross product), so per-cell cost
    * is (n/cells)² for balanced cells and the candidate row count is
    * Σ cell² — the standard IVF recall/cost trade (a neighbor routed to
    * a different cell is unreachable; raise numCells with corpus size,
    * or probe adjacent cells, to tune it). With numCells = 1 this IS
    * the exact tier (single cell = all candidates), which EvalSpec uses
    * as an equivalence gate. Output: id, neighbor_id, rank, cos. */
  def ivfTopKNeighbors(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, numCells: Int): DataFrame = {
    val cells = ivfCells(emb, idCol, vecCol, numCells)
    val a = cells.toDF("id", "v1", "n21", "cell")
    val b = cells.toDF("neighbor_id", "v2", "n22", "cell")
    a.join(b, Seq("cell"))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"),
        cosine(col("v1"), col("n21"), col("v2"), col("n22")).as("cos"),
        col("neighbor_id"))
      .groupBy(col("id"))
      .agg(TopK.topKByScore(col("cos"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("t.score"), 8).as("cos"))
  }

  // ---------------------------------------------------------------------
  // Multi-probe IVF routing stages — shared by the flat tier and the
  // two-level (hier) tiers.
  // ---------------------------------------------------------------------

  /** (id, v, n2) with zero-norm vectors excluded from corpus and queries
    * alike (no cosine exists — the [[mrlOverlap]] convention). */
  private[graft] def ivfNorm(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    emb.select(col(idCol).as("id"), vecDouble(col(vecCol)).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .where(col("n2") > 0.0)
  }

  /** The `cells` lowest-id vectors as a broadcast centroid table
    * (cid, cv, cn2) — the deterministic, engine-portable id-seeding rule
    * shared with [[ivfCells]] and the k-means seeds. */
  private[graft] def lowestIdCentroids(withNorm: DataFrame,
      cells: Int): DataFrame =
    broadcast(withNorm.orderBy(col("id")).limit(cells)
      .toDF("cid", "cv", "cn2"))

  /** Id-seeded super-centroids (sid, sv, sn2): the `scells` lowest-id
    * vectors. MEASURED CAVEAT (sf100, 2M vectors — SCALING.md finding 3):
    * id-seeding the COARSE level is only safe when the
    * lowest-id vectors happen to spread the corpus; on a drifted fixture
    * the untrained super-centroids collapse assignment mass (maxAssign
    * 45,042 vs flat 3,242), inflate candidate pairs 4.2×, and the hier
    * tier runs 3.3× SLOWER than flat. Use [[trainedSuperCents]] at scale. */
  private def idSeededSuperCents(withNorm: DataFrame,
      scells: Int): DataFrame =
    broadcast(withNorm.orderBy(col("id")).limit(scells)
      .toDF("sid", "sv", "sn2"))

  /** Deterministic corpus sample for coarse-quantizer training: the
    * `size` vectors whose md5(id-string) sorts lowest, re-labeled
    * cid = 1..size in that hash order — a uniform, engine-portable
    * pseudo-random draw (the id-hash trick the minhash permutations
    * already rely on; the oracle replays it as
    * `ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id)`).
    *
    * Why not lowest-id, like the LIST-level centroids? On a sharded or
    * replicated corpus the lowest ids all live in the FIRST shard, so a
    * lowest-id training set never sees cross-shard structure — measured
    * at sf100 (drifted-replica fixture): super-centroids trained on the
    * all-replica-0 centroid table still collapsed assignment mass
    * (maxAssign 25,273 vs flat's 3,242; every heavily-drifted vector
    * ranks the same drift-friendliest super-centroid first), where a
    * hash sample spans the drift axis and spreads. The FINE level
    * tolerates lowest-id seeding because 1953 fine cells over-cover the
    * base cloud; the 44-cell coarse level has no such slack. Cost: one
    * TakeOrdered (bounded heap) over the corpus + a `size`-row window. */
  private[graft] def hashSample(withNorm: DataFrame, size: Int): DataFrame = {
    val hkey = md5(col("id").cast("string"))
    val w = Window.orderBy(md5(col("id").cast("string")), col("id"))
    broadcast(withNorm.orderBy(hkey, col("id")).limit(size)
      .select(row_number().over(w).cast("long").as("cid"),
        col("v").as("cv"), col("n2").as("cn2")))
  }

  /** K-MEANS-TRAINED centroids (sid, sv, sn2) from a TRAINING-SET table
    * (cid, cv, cn2): `iters` deterministic fixed-point Lloyd rounds (the
    * [[kmeansAssign]] arithmetic — seeds are the `k` lowest-cid rows of
    * the training set, distances exact integer sums of 2^scaleBits
    * fixed-point squared differences, ties to the smaller seed id); the
    * trained centroid is the final per-cluster mean, each component
    * `round(Σxi/2^scaleBits/n, 8)` — a double computed by the identical
    * expression in any engine, so the oracle replays the training
    * relationally. Used at BOTH index levels by
    * [[ivfHierProbeTopKNeighborsTrained]]: fine centroids train on a
    * [[hashSample]] of the corpus (cid = hash rank, so seeds are a
    * uniform draw), super-centroids train on the trained fine centroids
    * themselves (clustering the centroid set — the FAISS coarse-level
    * geometry). Training cost is |trainSet|×k×iters per-DIM integer
    * multiply-adds — ~1/dim the cost of the same count of full dots, and
    * never an n-scale pass.
    *
    * A seed whose cluster empties in some round drops out (the
    * [[kmeansAssign]] convention, mirrored by the oracle's joins); a
    * surviving cluster always has every dim. `sid` is the seed row's
    * cid, so tie-breaks stay anchored to the same id space. */
  private[graft] def trainedCentroids(train: DataFrame, k: Int,
      iters: Int, scaleBits: Int = 20): DataFrame = {
    require(k >= 1 && iters >= 1, s"trainedCentroids: k=$k iters=$iters")
    val scale = (1L << scaleBits).toDouble
    // repartition by cid: the training table arrives as a SINGLE
    // partition (orderBy().limit() output), and the per-round
    // dim-broadcast join fans it out |train|×k-fold — measured at sf100
    // (7812-sample × 1953 clusters = 976M joined rows) running in ONE
    // task for tens of minutes. cid-partitioning spreads the fan-out
    // across the cluster AND bounds each task's partial-agg group count
    // to (cids-per-partition × k), instead of the full |train|×k map a
    // dim-partitioning would force on every task.
    val cvx = train
      .select(col("cid"), posexplode(col("cv")).as(Seq("pos", "x")))
      .select(col("cid"), (col("pos") + 1).cast("long").as("dim"),
        floor(col("x") * lit(scale)).cast("long").as("xi"))
      .repartition(col("cid"))
    val seeds = train.orderBy(col("cid")).limit(k)
      .select(col("cid").as("cluster"))
    var cent = seeds
      .join(cvx.withColumnRenamed("cid", "cluster"), Seq("cluster"))
      .select(col("cluster"), col("dim"), col("xi").as("ci"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("d2").asc, col("cluster").asc)
    var means: DataFrame = null
    for (_ <- 1 to iters) {
      val diff = col("xi") - col("ci")
      val assign = cvx.join(broadcast(cent), Seq("dim"))
        .groupBy(col("cid"), col("cluster"))
        .agg(sum(diff * diff).as("d2"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("cid"), col("cluster"))
      // barrier per round (the kmeansAssign discipline): means feeds BOTH
      // the next round's quantized table and the final output — without
      // it each round's consumers replay every earlier round, and the
      // returned table's many downstream references (coarse-level cvx,
      // seeds, cmap, every coarse Lloyd round) each re-run the whole
      // |train|×k training job (measured at sf100: the 976M-row fine
      // pass re-executed per reference, minutes → tens of minutes)
      means = graft.engine.Checkpoints.iterationBarrier(
        assign.join(cvx, Seq("cid"))
          .groupBy(col("cluster"), col("dim"))
          .agg(round(sum(col("xi")).cast("double") / lit(scale) /
            count(lit(1)), 8).as("m")))
      cent = means.select(col("cluster"), col("dim"),
        floor(col("m") * lit(scale)).cast("long").as("ci"))
    }
    broadcast(means
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("__sm"))
      .select(col("cluster").as("sid"),
        transform(col("__sm"), x => x.getField("m")).as("sv"))
      .withColumn("sn2", dot(col("sv"), col("sv"))))
  }

  /** Flat routing: broadcast-score every centroid, keep the top-nprobe
    * per vector with the bounded-heap aggregate — TopK's (score desc, id
    * asc) order matches the assignment tie-break; probes(1) IS the
    * assignment. Materialized once (iterationBarrier): both candidate
    * join sides consume it, and the routing scan is the expensive
    * subtree. Returns (id, probes[nprobe], v, n2). */
  private[graft] def flatRoute(withNorm: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    withNorm.crossJoin(centroids)
      .select(col("id"), col("v"), col("n2"),
        cosine(col("v"), col("n2"), col("cv"), col("cn2")).as("score"),
        col("cid"))
      .groupBy(col("id"))
      .agg(TopK.topKByScore(col("score"), col("cid"), lit(nprobe))
          .as("probes"),
        first(col("v")).as("v"), first(col("n2")).as("n2"))
      // iterationBarrier, not bare localCheckpoint: honors the
      // spark.graft.checkpoint.reliable mode long cluster jobs set
      .transform(graft.engine.Checkpoints.iterationBarrier)
  }

  /** Two-level routing: assign each centroid to its nearest super-cell
    * (cells × scells broadcast job), probe each vector's `sprobe`
    * nearest super-cells, then score only the centroids living in those
    * super-cells (a broadcast equi-join on sid — a centroid maps to
    * exactly ONE super-cell, so (id, cid) pairs are unique by
    * construction). Same output contract as [[flatRoute]]. */
  private[graft] def hierRoute(withNorm: DataFrame, centroids: DataFrame,
      superCents: DataFrame, nprobe: Int, sprobe: Int): DataFrame = {
    val cmap = broadcast(centroids.crossJoin(superCents)
      .select(col("cid"), col("cv"), col("cn2"),
        cosine(col("cv"), col("cn2"), col("sv"), col("sn2")).as("score"),
        col("sid"))
      .groupBy(col("cid"))
      .agg(TopK.topKByScore(col("score"), col("sid"), lit(1)).as("s"),
        first(col("cv")).as("cv"), first(col("cn2")).as("cn2"))
      .select(col("cid"), col("cv"), col("cn2"),
        element_at(col("s"), 1).getField("id").as("sid")))
    val sroutes = withNorm.crossJoin(superCents)
      .select(col("id"), col("v"), col("n2"),
        cosine(col("v"), col("n2"), col("sv"), col("sn2")).as("score"),
        col("sid"))
      .groupBy(col("id"))
      .agg(TopK.topKByScore(col("score"), col("sid"), lit(sprobe))
          .as("sps"),
        first(col("v")).as("v"), first(col("n2")).as("n2"))
      .select(col("id"), col("v"), col("n2"),
        explode(transform(col("sps"), p => p.getField("id"))).as("sid"))
    sroutes.join(cmap, Seq("sid"))
      .select(col("id"), col("v"), col("n2"),
        cosine(col("v"), col("n2"), col("cv"), col("cn2")).as("score"),
        col("cid"))
      .groupBy(col("id"))
      .agg(TopK.topKByScore(col("score"), col("cid"), lit(nprobe))
          .as("probes"),
        first(col("v")).as("v"), first(col("n2")).as("n2"))
      .transform(graft.engine.Checkpoints.iterationBarrier)
  }

  /** Probe⋈assign candidate equi-join + bounded-heap top-k tail shared
    * by every multi-probe tier: probes explode to (id, cell) query rows,
    * probes(1) is the data-side assignment, candidates pay one exact
    * cosine, and the per-id top-k reduces map-side (|ids|×k shuffle
    * rows). Output: id, neighbor_id, rank, cos. */
  private[graft] def probeTopKTail(routed: DataFrame, k: Int): DataFrame = {
    val qry = routed.select(col("id"), col("v").as("v1"),
      col("n2").as("n21"),
      explode(transform(col("probes"), p => p.getField("id"))).as("cell"))
    val data = routed.select(col("id").as("neighbor_id"),
      col("v").as("v2"), col("n2").as("n22"),
      element_at(col("probes"), 1).getField("id").as("cell"))
    qry.join(data, Seq("cell"))
      .filter(col("id") =!= col("neighbor_id"))
      .select(col("id"),
        cosine(col("v1"), col("n21"), col("v2"), col("n22")).as("cos"),
        col("neighbor_id"))
      .groupBy(col("id"))
      .agg(TopK.topKByScore(col("cos"), col("neighbor_id"), lit(k)).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("t.score"), 8).as("cos"))
  }

  /** Multi-probe IVF top-k neighbors — the LINEAR-candidate-volume ANN
    * contract the auto-√n tier can't give (√n cells ⇒ Σ cell² ≈ n^1.5
    * candidates, the measured 62.6× for 10× rows at sf10):
    *
    *  - cells = max(1, ⌊n / targetCellSize⌋), so cell SIZE stays ~constant
    *    as the corpus grows;
    *  - every vector is ASSIGNED to its single highest-cosine centroid
    *    (the [[ivfCells]] rule, ties to the smaller centroid id) — the
    *    data side;
    *  - every vector PROBES its `nprobe` highest-cosine centroids — the
    *    query side — recovering the neighbors that sit just across a cell
    *    boundary (the standard multi-probe recall fix).
    *
    * Candidate volume is n · nprobe · targetCellSize — LINEAR in n — and
    * every shuffle is linear too: routing scores the broadcast centroid
    * table map-side and reduces to one row per vector via the
    * bounded-heap TopK aggregate (map-side combine — never the n×cells
    * scored rows a window formulation would sort), and the probe⋈assign
    * stage is an equi-join on the cell id. The remaining super-linear
    * term is routing CPU, n·cells = n²/targetCellSize dots: it crosses
    * the candidate term at n ≈ nprobe·targetCellSize² (≈ 2M vectors at
    * the registered 1024/2) — past that decade a coarse quantizer level
    * in front of the centroid scan is the standard fix (FAISS IVF with
    * an HNSW coarse quantizer); recorded here so the cliff is a known
    * contract, not a surprise.
    *
    * Zero-norm vectors have no cosine to any centroid and are excluded
    * from corpus and queries alike (the [[mrlOverlap]] convention).
    * Centroid count derives from one column-pruned count at
    * plan-construction time (the [[ivfCells]] auto caveat); integer
    * division n/targetCellSize is exact in any engine, so the oracle's
    * COUNT(*)-windowed `nn // targetCellSize` lands on the SAME cell
    * count. With cells = 1 (n ≤ targetCellSize) this IS the exact tier.
    * Output: id, neighbor_id, rank, cos. */
  def ivfProbeTopKNeighbors(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, targetCellSize: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && targetCellSize >= 1 && nprobe >= 1,
      s"ivfProbeTopKNeighbors: k=$k targetCellSize=$targetCellSize " +
        s"nprobe=$nprobe")
    // materialize the normed projection ONCE: count(), the centroid
    // TakeOrdered, and the routing crossJoin each re-ran the full
    // source scan + dot(v,v) otherwise (3+ passes per call)
    val withNorm = graft.engine.Checkpoints.iterationBarrier(
      ivfNorm(emb, idCol, vecCol))
    val n = withNorm.count()
    val cells = math.max(1L, n / targetCellSize).toInt
    val centroids = lowestIdCentroids(withNorm, cells)
    probeTopKTail(flatRoute(withNorm, centroids, nprobe), k)
  }

  /** Two-level (coarse-quantized) multi-probe IVF top-k — the routing
    * fix for [[ivfProbeTopKNeighbors]]' one remaining super-linear term.
    * Flat multi-probe routing scores every vector against every centroid
    * (n·cells = n²/targetCellSize rows), which crosses the linear
    * candidate term at n ≈ nprobe·targetCellSize² — 2M vectors at the
    * registered 1024/2, i.e. the sf100 decade of the 2k-vector base
    * fixture. The standard fix (FAISS's coarse quantizer in front of an
    * IVF list scan) adds one level:
    *
    *  - ⌊√cells⌋ SUPER-centroids (min 1; id-seeded — the lowest-id
    *    centroids, same deterministic rule as the centroids themselves);
    *  - each centroid is assigned to its nearest super-centroid (cosine,
    *    ties to the smaller super-id) — a cells×√cells broadcast job;
    *  - each vector scores only the √cells super-centroids, probes its
    *    `sprobe` nearest, and then scores only the centroids assigned to
    *    those super-cells: ~sprobe·√cells of them.
    *
    * Routing rows drop from n·cells to n·(√cells + sprobe·√cells) =
    * O(n·√cells·sprobe). MEASURED CAVEAT (sf100, 2M drifted vectors —
    * SCALING.md finding 3): the end-to-end volume is
    * candidates-dominated (linear) ONLY when the coarse level spreads
    * assignment mass. This variant's UNTRAINED id-seeded super-centroids
    * collapse on drifted corpora — maxAssign 45,042 vs flat 3,242,
    * candidate pairs 1.89e10 vs 4.51e9, wall-clock 3.3× SLOWER than flat
    * — exactly the failure FAISS trains its coarse quantizer to avoid.
    * Prefer [[ivfHierProbeTopKNeighborsTrained]] beyond the ~2M-vector
    * crossover; this id-seeded form is safe for well-spread corpora and
    * as the spec-gated equivalence baseline. The price of any coarse
    * level is the standard recall approximation: a centroid whose
    * super-cell is not probed is invisible to that query vector even if
    * it is the true nearest (with scells = 1 — i.e. cells ≤ 3 — stage 1
    * is a no-op and this IS flat multi-probe, spec-gated). Every score
    * is the same sequential-fold double cosine, all ties break to the
    * smaller id, and the oracle replays the whole two-level split
    * relationally, so results stay engine-portable.
    * Output: id, neighbor_id, rank, cos. */
  def ivfHierProbeTopKNeighbors(emb: DataFrame, idCol: String,
      vecCol: String, k: Int, targetCellSize: Int, nprobe: Int,
      sprobe: Int): DataFrame = {
    require(k >= 1 && targetCellSize >= 1 && nprobe >= 1 && sprobe >= 1,
      s"ivfHierProbeTopKNeighbors: k=$k targetCellSize=$targetCellSize " +
        s"nprobe=$nprobe sprobe=$sprobe")
    // materialize the normed projection ONCE: count(), the centroid
    // TakeOrdered, and the routing crossJoin each re-ran the full
    // source scan + dot(v,v) otherwise (3+ passes per call)
    val withNorm = graft.engine.Checkpoints.iterationBarrier(
      ivfNorm(emb, idCol, vecCol))
    val n = withNorm.count()
    val cells = math.max(1L, n / targetCellSize).toInt
    val scells = math.max(1, math.floor(math.sqrt(cells.toDouble)).toInt)
    val centroids = lowestIdCentroids(withNorm, cells)
    val superCents = idSeededSuperCents(withNorm, scells)
    probeTopKTail(hierRoute(withNorm, centroids, superCents, nprobe,
      sprobe), k)
  }

  /** [[ivfHierProbeTopKNeighbors]] with BOTH index levels K-MEANS-TRAINED
    * — the production two-level tier, and the FAISS IVF construction
    * proper (train the list-level quantizer on a data sample; the coarse
    * quantizer then indexes the trained centroid set):
    *
    *  - FINE centroids: [[trainedCentroids]] over a [[hashSample]] of
    *    4·cells corpus vectors, k = cells — so the cell partition spans
    *    whatever structure the corpus has (drift, shards, replicas),
    *    unlike lowest-id seeding which samples only the first shard;
    *  - SUPER-centroids: [[trainedCentroids]] over those trained fine
    *    centroids, k = ⌊√cells⌋ — the coarse level must live in the
    *    CENTROID manifold it routes over (measured dead ends at sf100,
    *    SCALING.md: id-seeded coarse maxAssign 45,042; coarse trained
    *    on the all-replica-0 id-seeded centroid table 25,273; coarse
    *    trained on a corpus sample OVER id-seeded fine centroids 48,331
    *    — spreading super-cells along an axis the fine centroids don't
    *    span just empties most super-cells; vs flat 3,242).
    *
    * Training cost is (4·cells·cells + cells·√cells)·iters per-dim
    * integer multiply-adds — at the 2M-vector decade ~2e9 dim-rows ≈
    * 30M dot-equivalents, noise against the 3.9e9-dot flat routing scan
    * it replaces. Routing, candidate join, top-k, and every tie-break
    * are the identical shared stages; the oracle unrolls the hash
    * sample and both Lloyd chains relationally, so the result stays
    * engine-portable and hash-checkable. With cells = 1 the trained
    * index is one cell and this equals the exact tier by construction
    * (spec gate); with sprobe ≥ scells the coarse level prunes nothing
    * and this equals a flat probe over the SAME trained centroids
    * (spec gate). Output: id, neighbor_id, rank, cos. */
  def ivfHierProbeTopKNeighborsTrained(emb: DataFrame, idCol: String,
      vecCol: String, k: Int, targetCellSize: Int, nprobe: Int,
      sprobe: Int, trainIters: Int): DataFrame = {
    require(k >= 1 && targetCellSize >= 1 && nprobe >= 1 && sprobe >= 1 &&
      trainIters >= 1,
      s"ivfHierProbeTopKNeighborsTrained: k=$k " +
        s"targetCellSize=$targetCellSize nprobe=$nprobe sprobe=$sprobe " +
        s"trainIters=$trainIters")
    // materialize the normed projection ONCE: count(), the centroid
    // TakeOrdered, and the routing crossJoin each re-ran the full
    // source scan + dot(v,v) otherwise (3+ passes per call)
    val withNorm = graft.engine.Checkpoints.iterationBarrier(
      ivfNorm(emb, idCol, vecCol))
    val n = withNorm.count()
    val cells = math.max(1L, n / targetCellSize).toInt
    val scells = math.max(1, math.floor(math.sqrt(cells.toDouble)).toInt)
    val fineCents = broadcast(
      trainedCentroids(hashSample(withNorm, 4 * cells), cells, trainIters)
        .toDF("cid", "cv", "cn2"))
    val superCents = trainedCentroids(fineCents, scells, trainIters)
    probeTopKTail(hierRoute(withNorm, fineCents, superCents, nprobe,
      sprobe), k)
  }

  /** Hard-negative mining over the IVF cells — the contrastive-training
    * complement of [[ivfTopKNeighbors]]: for each vector, the `k`
    * highest-cosine vectors IN ITS OWN CELL carrying a DIFFERENT label
    * (the "confusable" negatives a two-tower trainer wants, vs
    * [[graft.llm.Sampling.negativeSample]]'s uniform draws). Same
    * Σ cell² candidate cost and cell-equi-join shape as the IVF tiers;
    * vectors with a NULL label neither mine nor serve (the null-safe
    * inequality would otherwise admit them as "different"). Ties break
    * toward the smaller negative id (TopK order). Output: id, neg_id,
    * rank, cos. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, numCells: Int): DataFrame = {
    val cells = ivfCells(emb, idCol, vecCol, numCells)
      .join(emb.select(col(idCol).as("id"), col(labelCol).as("lbl")), "id")
    val a = cells.toDF("id", "v1", "n21", "cell", "lbl1")
    val b = cells.toDF("neg_id", "v2", "n22", "cell", "lbl2")
    a.join(b, Seq("cell"))
      .filter(col("id") =!= col("neg_id") && col("lbl1") =!= col("lbl2"))
      .select(col("id"),
        cosine(col("v1"), col("n21"), col("v2"), col("n22")).as("cos"),
        col("neg_id"))
      .groupBy(col("id"))
      .agg(TopK.topKByScore(col("cos"), col("neg_id"), lit(k)).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("id"), col("t.id").as("neg_id"),
        (col("pos") + 1).cast("int").as("rank"),
        round(col("t.score"), 8).as("cos"))
  }

  def ivfPairs(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int, minCos: Double): DataFrame = {
    val cells = ivfCells(emb, idCol, vecCol, numCells)
    val a = cells.toDF("id1", "v1", "n21", "cell")
    val b = cells.toDF("id2", "v2", "n22", "cell")
    val cos = cosine(col("v1"), col("n21"), col("v2"), col("n22"))
    a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cos)
      .filter(col("cos") >= minCos)
      .select(col("id1"), col("id2"), round(col("cos"), 8).as("cos"))
  }

  /** Per-label centroid of an embedding column — the training step of an
    * IVF index (cells = labels here; k-means iterations are this exact
    * aggregation in a loop) and the class-prototype primitive of
    * nearest-centroid classification.
    *
    * Determinism: each float component is scaled by 2^scaleBits and
    * FLOORED to an exact long (float→double is exact, ×2^20 is exact, so
    * the fixed-point value is identical in any engine); the centroid is
    * the exact integer sum divided back out — no float summation order
    * anywhere. One shuffle of (label, dim) partial sums; map-side
    * combine reduces each task to |labels|×dim rows.
    * Output: labelCol, dim (1-based), n, centroid (rounded 8 dp). */
  def labelCentroids(emb: DataFrame, labelCol: String, vecCol: String,
      scaleBits: Int = 20): DataFrame = {
    val scale = (1L << scaleBits).toDouble
    emb.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col(labelCol), (col("pos") + 1).cast("long").as("dim"),
        floor(col("x").cast("double") * scale).cast("long").as("xi"))
      .groupBy(col(labelCol), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("s"))
      .select(col(labelCol), col("dim"), col("n"),
        round(col("s").cast("double") / scale / col("n"), 8).as("centroid"))
  }

  /** Nearest-centroid assignment (IVF cell routing / nearest-prototype
    * classification): each vector goes to the centroid with the highest
    * dot product, ties to the smallest label. Both sides are fixed-point
    * (2^20) longs, so the per-(vector, label) dot is an EXACT integer sum
    * — deterministic under any partitioning, no float summation order.
    * The centroid table broadcasts (|labels|×dim rows); per-vector work
    * is one explode + broadcast join + integer aggregation.
    * Output: idCol, assigned_label, score (fixed-point dot / 2^40, 8 dp). */
  def nearestCentroids(emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, labelCol: String = "label",
      scaleBits: Int = 20): DataFrame = {
    val scale = (1L << scaleBits).toDouble
    val cent = centroids.select(col(labelCol), col("dim"),
      floor(col("centroid") * lit(scale)).cast("long").as("ci"))
    val vx = emb.select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("dim"),
        floor(col("x").cast("double") * lit(scale)).cast("long").as("xi"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("s").desc, col(labelCol).asc)
    vx.join(broadcast(cent), Seq("dim"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sum(col("xi") * col("ci")).as("s"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(labelCol).as("assigned_label"),
        round(col("s").cast("double") / lit(scale * scale), 8).as("score"))
  }

  /** Deterministic k-means (Lloyd) over an embedding column: seeds are
    * the k lowest-id vectors (no RNG), distances are exact integer sums of
    * fixed-point squared differences, centroid updates are the exact
    * fixed-point means of [[labelCentroids]] re-quantized each round —
    * every step is bit-deterministic under any partitioning and
    * replayable in plain SQL (the oracle unrolls the iterations).
    * Cluster labels are the seed ids. A fixed iteration count (no
    * convergence test) keeps the computation engine-portable.
    *
    * Scale: per iteration, one broadcast join of the (k×dim) centroid
    * table against the exploded vectors + one integer aggregation —
    * the canonical distributed Lloyd shape. The k×dim centroid table is
    * materialized per round via [[graft.engine.Checkpoints.iterationBarrier]]
    * (local by default; reliable `checkpoint()` under
    * `spark.graft.checkpoint.reliable` for cluster fault-tolerance), so
    * plan depth stays O(1) in the iteration count instead of the rounds
    * composing into one unboundedly deep lazy tree.
    * Output: idCol, cluster_id. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scaleBits: Int = 20): DataFrame = {
    require(k >= 1 && iters >= 1, s"kmeans: k=$k iters=$iters")
    val scale = (1L << scaleBits).toDouble
    val vx = emb
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col(idCol), (col("pos") + 1).cast("long").as("dim"),
        floor(col("x").cast("double") * lit(scale)).cast("long").as("xi"))
    val seeds = emb.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cluster"))
    var centFixed = seeds
      .join(vx.withColumnRenamed(idCol, "cluster"), Seq("cluster"))
      .select(col("cluster"), col("dim"), col("xi").as("ci"))
    var assign: DataFrame = null
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("d2").asc, col("cluster").asc)
    for (i <- 1 to iters) {
      val diff = col("xi") - col("ci")
      assign = vx.join(broadcast(centFixed), Seq("dim"))
        .groupBy(col(idCol), col("cluster"))
        .agg(sum(diff * diff).as("d2"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col(idCol), col("cluster"))
      if (i < iters) {
        centFixed = graft.engine.Checkpoints.iterationBarrier(
          assign.join(vx, Seq(idCol))
            .groupBy(col("cluster"), col("dim"))
            .agg(floor(round(sum(col("xi")).cast("double") / lit(scale) /
              count(lit(1)), 8) * lit(scale)).cast("long").as("ci")))
      }
    }
    assign.select(col(idCol), col("cluster").as("cluster_id"))
  }

  /** Deterministic ±1 random projection (Achlioptas sign matrix):
    * dimension reduction for embedding columns — out_j = Σ_i s(i,j)·v_i
    * with the sign s(i,j) derived from an md5 nibble, so the SAME
    * projection matrix exists on every engine and run without shipping
    * one. Johnson–Lindenstrauss: pairwise geometry is preserved to
    * O(1/√outDim) — the storage/bandwidth tier ahead of exact cosine,
    * complementing [[quantizeInt8]] (which narrows values; this narrows
    * DIMENSIONS).
    *
    * Exactness: inputs quantize to 2^scaleBits fixed-point longs, the
    * signed sum is exact integer arithmetic, and one division rescales at
    * the end — bit-identical under any partitioning and replayable in
    * plain SQL. Shape: explode(dims) × broadcast j-grid, partial
    * aggregation map-side; the shuffle carries (id, j) groups only.
    * Output: idCol, dim (1..outDim), value. */
  def randomProjection(emb: DataFrame, idCol: String, vecCol: String,
      outDim: Int, seed: String = "rp", scaleBits: Int = 20): DataFrame = {
    require(outDim >= 1, s"outDim=$outDim")
    val scale = (1L << scaleBits).toDouble
    val vx = emb
      .select(col(idCol), posexplode(vecDouble(col(vecCol))).as(Seq("pos", "x")))
      .select(col(idCol), (col("pos") + 1).as("i"),
        floor(col("x") * lit(scale)).cast("long").as("xi"))
    val sign = (conv(substring(md5(concat_ws("|",
        lit(seed), col("i"), col("j"))), 1, 1), 16, 10).cast("int")
      % 2) * 2 - 1
    vx.select(col(idCol), col("i"), col("xi"),
        explode(sequence(lit(1), lit(outDim))).as("j"))
      .groupBy(col(idCol), col("j"))
      .agg(sum(col("xi") * sign).as("__acc"))
      .select(col(idCol), col("j").cast("long").as("dim"),
        round(col("__acc").cast("double") / lit(scale), 8).as("value"))
  }

  /** Per-vector symmetric int8 scalar quantization: `q_j = round(127 ·
    * v_j / amax)` with `amax = max_j |v_j|` (an all-zero vector stays
    * all-zero with a null scale). Codes are 4× smaller than float32 —
    * the storage/bandwidth tier for 100 TB similarity search: candidate
    * scans read int8 codes, only survivors fetch full-precision vectors.
    * Output: id, q (array<bigint> in [-127,127]), scale (amax/127).
    *
    * The codes are emitted as longs rather than bytes so downstream
    * integer arithmetic can't overflow a narrow type under ANSI mode;
    * a parquet sink would store them as `array<tinyint>` via cast. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), vecDouble(col(vecCol)).as("v"))
      .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      .select(col("id"),
        when(col("amax") =!= 0,
          transform(col("v"), x => round(x * lit(127.0) / col("amax")).cast("long")))
          .otherwise(transform(col("v"), _ => lit(0L))).as("q"),
        when(col("amax") =!= 0, col("amax") / 127.0).as("scale"))

  /** Pairwise cosine on int8-quantized codes ≥ minCos. The per-vector
    * uniform scale cancels in cosine, so the score is computed purely
    * from exact INTEGER dot products — bit-identical on any engine and
    * partitioning with no floating-fold contract at all (the one place
    * the quantized tier is *more* deterministic than the exact one).
    * Output: id1, id2, qcos. Quadratic demonstration shape — at scale the
    * same verification runs inside LSH/IVF candidate buckets. */
  def quantizedCosPairs(emb: DataFrame, idCol: String, vecCol: String,
      minCos: Double): DataFrame = {
    // codes and their products are small integers (|q| ≤ 127, dots ≤
    // 127²·dim ≪ 2^53): every intermediate is exactly representable in
    // double, so the native codegen'd dot expression over double-cast
    // codes yields the EXACT integer dot — same value as the oracle's
    // BIGINT list_sum, at DotProductExpr speed instead of a per-pair
    // interpreted higher-order-function fold (measured 16s → sub-second
    // at sf0.1 on the quadratic pair join).
    val q = quantizeInt8(emb, idCol, vecCol)
      .select(col("id"), vecDouble(col("q")).as("qd"))
      .withColumn("qn2", dot(col("qd"), col("qd")))
    val a = q.toDF("id1", "q1", "qn21")
    val b = q.toDF("id2", "q2", "qn22")
    val normProd = sqrt(col("qn21") * col("qn22"))
    val qcos = dot(col("q1"), col("q2")) / when(normProd =!= 0, normProd)
    a.crossJoin(b)
      .filter(col("id1") < col("id2"))
      .withColumn("qcos", qcos)
      .filter(col("qcos") >= minCos)
      .select(col("id1"), col("id2"), round(col("qcos"), 8).as("qcos"))
  }

  /** Shared PQ explode: vector → (id, s = subspace 0..m-1, j = offset
    * within subspace, xi = 2^scaleBits fixed-point component). */
  private def pqVx(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, scaleBits: Int): DataFrame = {
    require(m >= 1, s"PQ: m=$m")
    val dim = dimOf(emb, vecCol, emptyDim = m)
    require(dim % m == 0, s"PQ: m=$m must divide dim=$dim")
    val dsub = dim / m
    val scale = (1L << scaleBits).toDouble
    emb.select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("id"),
        expr(s"CAST(pos div $dsub AS BIGINT)").as("s"),
        pmod(col("pos"), lit(dsub)).cast("long").as("j"),
        floor(col("x").cast("double") * lit(scale)).cast("long").as("xi"))
  }

  /** PQ codebook: the subvectors of the `ksub` LOWEST-id vectors, with
    * `code` = that vector's id (deterministic, engine-portable — same
    * convention as [[ivfCells]] centroids and the k-means seeds; a
    * production build would plug per-subspace k-means into the same
    * plan). Selected via TakeOrdered on the UNEXPLODED embedding ids (one
    * column, no distinct over the m·dsub-times-larger subvector frame), so
    * gapped or non-zero-based id spaces still yield exactly `ksub`
    * entries. */
  private def pqCodebook(emb: DataFrame, idCol: String, vx: DataFrame,
      ksub: Int): DataFrame = {
    val ids = emb.select(col(idCol).cast("long").as("id"))
      .orderBy(col("id")).limit(ksub)
    vx.join(broadcast(ids), "id")
      .select(col("id").cast("long").as("code"), col("s"), col("j"),
        col("xi").as("ci"))
  }

  /** Per-(vector, subspace) PQ code assignment — nearest codebook entry by
    * exact fixed-point integer L2, ties to the smallest code; the shared
    * argmin kernel of [[pqCodes]], [[pqAdcTopK]] and [[pqIvfTopK]].
    * Output: id, s, code, d2. */
  private def pqAssign(vx: DataFrame, cb: DataFrame): DataFrame = {
    val diff = col("xi") - col("ci")
    vx.join(cb, Seq("s", "j"))
      .groupBy(col("id"), col("s"), col("code"))
      .agg(sum(diff * diff).as("d2"))
      .groupBy(col("id"), col("s"))
      .agg(min(struct(col("d2"), col("code"))).as("b"))
      .select(col("id"), col("s"), col("b.code").as("code"),
        col("b.d2").as("d2"))
  }

  /** Per-query ADC lookup table: exact integer L2 from each query
    * subvector to every codebook entry (Q·m·ksub rows — broadcast-sized).
    * Output: qid, s, code, ld2. */
  private def pqLut(vx: DataFrame, cb: DataFrame,
      queryIds: Seq[Long]): DataFrame = {
    val diff = col("xi") - col("ci")
    vx.filter(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("s"), col("j"), col("xi"))
      .join(cb, Seq("s", "j"))
      .groupBy(col("qid"), col("s"), col("code"))
      .agg(sum(diff * diff).as("ld2"))
  }

  /** Product quantization (PQ, Jégou et al. 2011): each vector splits into
    * `m` contiguous subvectors; each subvector is assigned the nearest of
    * `ksub` codebook entries by EXACT fixed-point integer L2 distance
    * (ties → smallest code). A 64-dim float vector compresses to m codes —
    * the storage tier that makes billion-scale ANN fit in memory,
    * complementing [[quantizeInt8]] (narrows values) and
    * [[randomProjection]] (narrows dimensions).
    *
    * Scale shape: the codebook (m·ksub·dsub rows) broadcasts; candidate
    * distances aggregate with map-side combine to m·ksub rows per vector,
    * and the argmin is a `min(struct(d2, code))` aggregate — no window
    * sort. All arithmetic is exact integers (components are 2^scaleBits
    * fixed-point; d2 ≤ dsub·2^(2·scaleBits+2) ≪ 2^63).
    * Output: idCol, subspace (0-based), code, d2. */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, scaleBits: Int = 20): DataFrame = {
    require(ksub >= 1, s"ksub=$ksub")
    val vx = pqVx(emb, idCol, vecCol, m, scaleBits)
    val cb = broadcast(pqCodebook(emb, idCol, vx, ksub))
    pqAssign(vx, cb)
      .select(col("id").as(idCol), col("s").as("subspace"),
        col("code"), col("d2"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: queries stay full
    * precision; the distance to a coded vector is the sum over subspaces
    * of the query-to-codebook-entry distance looked up from a per-query
    * LUT (Q·m·ksub exact integer entries, broadcast). The scan side
    * touches only the m codes per vector — never the original floats —
    * which is the whole point of PQ at 100 TB: the index is ~1/32 the
    * corpus, and candidates alone fetch full vectors for re-ranking.
    *
    * Top-k smallest distances per query via the bounded-heap
    * [[TopKByScore]] aggregate (map-side combine: the shuffle carries
    * queries×k rows, not queries×n); ties → smallest neighbor id; the
    * query itself is excluded. All distances are exact integers (< 2^53,
    * so the negated double score is exact too).
    * Output: query_id, neighbor_id, rank, d2. */
  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, queryIds: Seq[Long], k: Int,
      scaleBits: Int = 20): DataFrame = {
    require(k >= 1 && queryIds.nonEmpty, s"pqAdcTopK: k=$k queries=$queryIds")
    val vx = pqVx(emb, idCol, vecCol, m, scaleBits)
    val cb = broadcast(pqCodebook(emb, idCol, vx, ksub))
    val codes = pqAssign(vx, cb).select(col("id"), col("s"), col("code"))
    val lut = broadcast(pqLut(vx, cb, queryIds))
    codes.join(lut, Seq("s", "code"))
      .filter(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ld2")).as("d2"))
      .select(col("qid"), (-col("d2").cast("double")).as("score"), col("id"))
      .groupBy(col("qid"))
      .agg(TopK.topKByScore(col("score"), col("id"), lit(k)).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        (-col("t.score")).cast("long").as("d2"))
  }

  /** PQ candidate-generation + exact re-rank — the production
    * composition [[pqAdcTopK]]'s scaladoc promises ("candidates alone
    * fetch full vectors for re-ranking"). The ADC stage (broadcast LUT
    * over codes only — the scan never touches floats) selects the
    * top-`cand` candidates per query (cand ≈ 4–8×k); the candidate set —
    * queries×cand rows, broadcast-sized — then fetches full fixed-point
    * vectors via a BROADCAST-pruned id-equi join and re-ranks by EXACT
    * integer L2 over all dim components. Quantization error survives
    * only as candidate-SELECTION loss: a true neighbor is missed iff ADC
    * pushes it below rank `cand`, not rank `k` (recall@5 gated at sf1 in
    * EvalSpec vs 0.6150 for raw ADC ranks at the same m/ksub).
    *
    * Scale shape: identical to [[pqAdcTopK]] through the ADC stage; the
    * re-rank stage reads full vectors ONLY for the candidate ids, so its
    * cost is queries·cand·dim — independent of corpus size — and the
    * corpus-side vector fetch is an equi-join pruned by the broadcast
    * candidate table, never a second full-float scan. Exact grid L2² ≤
    * dim·2^(2·scaleBits+2) ≪ 2^53, so the negated double heap score is
    * exact. Ties → smallest neighbor id at BOTH boundaries (candidate
    * cut and final rank); the query itself is excluded.
    * Output: query_id, neighbor_id, rank, d2 (exact fixed-point L2²). */
  def pqAdcRerank(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, queryIds: Seq[Long], k: Int, cand: Int,
      scaleBits: Int = 20): DataFrame = {
    require(k >= 1 && cand >= k && queryIds.nonEmpty,
      s"pqAdcRerank: k=$k cand=$cand queries=$queryIds")
    val vx = pqVx(emb, idCol, vecCol, m, scaleBits)
    val cb = broadcast(pqCodebook(emb, idCol, vx, ksub))
    val codes = pqAssign(vx, cb).select(col("id"), col("s"), col("code"))
    val lut = broadcast(pqLut(vx, cb, queryIds))
    val candidates = codes.join(lut, Seq("s", "code"))
      .filter(col("id") =!= col("qid"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ld2")).as("ad2"))
      .select(col("qid"), (-col("ad2").cast("double")).as("score"), col("id"))
      .groupBy(col("qid"))
      .agg(TopK.topKByScore(col("score"), col("id"), lit(cand)).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("id"))
    val qvx = broadcast(vx.filter(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("s"), col("j"), col("xi").as("qxi")))
    val diff = col("xi") - col("qxi")
    vx.join(broadcast(candidates), Seq("id"))
      .join(qvx, Seq("qid", "s", "j"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(diff * diff).as("d2"))
      .select(col("qid"), (-col("d2").cast("double")).as("score"), col("id"))
      .groupBy(col("qid"))
      .agg(TopK.topKByScore(col("score"), col("id"), lit(k)).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        (-col("t.score")).cast("long").as("d2"))
  }

  /** IVF-PQ: the composed production ANN shape (route, then compress) —
    * vectors route to IVF cells ([[ivfCells]]), and within the query's
    * cell (nprobe = 1, same recall contract as [[ivfPairs]]) candidates
    * rank by PQ asymmetric distance ([[pqAdcTopK]]'s LUT), never by the
    * raw floats. At 100 TB this is the FAISS IVFADC layout: the cell
    * prunes the scan to 1/numCells of the corpus, the codes shrink what
    * remains ~32×, and only the returned top-k would fetch full vectors
    * for re-ranking. Broadcasts: centroids (route), codebook, per-query
    * LUT, query-cell table — all tiny; nothing quadratic anywhere.
    * Output: query_id, neighbor_id, rank, d2. */
  def pqIvfTopK(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int, m: Int, ksub: Int, queryIds: Seq[Long], k: Int,
      scaleBits: Int = 20): DataFrame = {
    require(k >= 1 && queryIds.nonEmpty, s"pqIvfTopK: k=$k queries=$queryIds")
    val cells = ivfCells(emb, idCol, vecCol, numCells)
      .select(col("id"), col("cell"))
    val vx = pqVx(emb, idCol, vecCol, m, scaleBits)
    val cb = broadcast(pqCodebook(emb, idCol, vx, ksub))
    val codes = pqAssign(vx, cb).select(col("id"), col("s"), col("code"))
    val qcells = broadcast(cells.filter(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("cell")))
    val lut = broadcast(pqLut(vx, cb, queryIds))
    codes.join(cells, Seq("id"))
      .join(qcells, Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .join(lut, Seq("qid", "s", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ld2")).as("d2"))
      .select(col("qid"), (-col("d2").cast("double")).as("score"), col("id"))
      .groupBy(col("qid"))
      .agg(TopK.topKByScore(col("score"), col("id"), lit(k)).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        (-col("t.score")).cast("long").as("d2"))
  }

  /** IVF-PQ + exact re-rank — the full FAISS-default retrieval shape
    * (route → compress → re-rank), composing [[pqIvfTopK]]'s cell-pruned
    * ADC candidate generation with [[pqAdcRerank]]'s exact-distance
    * re-rank: the query's IVF cell prunes the scan to 1/numCells of the
    * corpus, PQ codes rank what remains asymmetrically (top-`cand` out),
    * and only those candidate ids fetch full fixed-point vectors for the
    * exact integer L2 final ranking. Same tie/exclusion contract as the
    * other PQ tiers; candidate-selection loss now includes the routing
    * term (a true neighbor outside the query's cell can't be recovered
    * by the re-rank — the nprobe=1 recall contract of [[ivfPairs]]).
    * Output: query_id, neighbor_id, rank, d2 (exact fixed-point L2²). */
  def pqIvfRerank(emb: DataFrame, idCol: String, vecCol: String,
      numCells: Int, m: Int, ksub: Int, queryIds: Seq[Long], k: Int,
      cand: Int, scaleBits: Int = 20): DataFrame = {
    require(k >= 1 && cand >= k && queryIds.nonEmpty,
      s"pqIvfRerank: k=$k cand=$cand queries=$queryIds")
    val candidates = pqIvfTopK(emb, idCol, vecCol, numCells, m, ksub,
        queryIds, cand, scaleBits)
      .select(col("query_id").as("qid"), col("neighbor_id").as("id"))
    val vx = pqVx(emb, idCol, vecCol, m, scaleBits)
    val qvx = broadcast(vx.filter(col("id").isInCollection(queryIds))
      .select(col("id").as("qid"), col("s"), col("j"), col("xi").as("qxi")))
    val diff = col("xi") - col("qxi")
    vx.join(broadcast(candidates), Seq("id"))
      .join(qvx, Seq("qid", "s", "j"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(diff * diff).as("d2"))
      .select(col("qid"), (-col("d2").cast("double")).as("score"), col("id"))
      .groupBy(col("qid"))
      .agg(TopK.topKByScore(col("score"), col("id"), lit(k)).as("top"))
      .select(col("qid").as("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        (-col("t.score")).cast("long").as("d2"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning via
    * cluster-then-compare. Vectors are k-means-clustered
    * ([[kmeansAssign]] — deterministic seeds/fixed-point updates), and
    * exact pairwise cosine runs only WITHIN each cluster: a vector is
    * dropped when a lower-id vector in its cluster has cosine ≥ minCos
    * (the non-chained greedy rule — one join, no sequential dependency).
    *
    * Scale shape: the quadratic compare is confined to cluster-local
    * candidate sets (k chosen so clusters fit comfortably — the paper uses
    * ~√n clusters); the cluster assignment itself is the broadcast-centroid
    * Lloyd iteration. The self-join keys on cluster_id, so candidate
    * generation is an equi-join, not a cross join.
    *
    * Output: idCol, cluster_id, kept (false = semantic duplicate). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, minCos: Double): DataFrame = {
    val assign = kmeansAssign(emb, idCol, vecCol, k, iters)
    // withNorm feeds BOTH pair sides and the final kept-projection: the
    // Lloyd-assignment subtree is the operator's most expensive plan, so
    // materialize it once (iterationBarrier: localCheckpoint by default
    // — blocks free on RDD GC, no CacheManager pin, the verifiedOverlap
    // rationale — or a reliable checkpoint when the cluster mode asks)
    val withNorm = emb.select(col(idCol), vecDouble(col(vecCol)).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .join(assign, Seq(idCol))
      .transform(graft.engine.Checkpoints.iterationBarrier)
    val a = withNorm.select(col(idCol).as("id1"), col("v").as("v1"),
      col("n2").as("n21"), col("cluster_id"))
    val b = withNorm.select(col(idCol).as("id2"), col("v").as("v2"),
      col("n2").as("n22"), col("cluster_id"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosine(col("v1"), col("n21"), col("v2"), col("n22")))
      .filter(col("cos") >= minCos)
      .select(col("id2").as(idCol)).distinct()
    withNorm.select(col(idCol), col("cluster_id"))
      .join(dropped.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"),
        coalesce(col("__dup"), lit(false)).unary_!.as("kept"))
  }

  /** Embedding dimension from the first non-null vector. Empty corpus
    * (or all-null vectors) → `emptyDim`: any dim valid for the caller is
    * correct there, since no rows flow through the plan it parameterizes
    * — the callers (hyperplanes, PQ subspace split) then return their
    * empty result instead of crashing head() on an empty/null first row
    * (a legitimately empty daily partition must not kill the job).
    * annPairs/crossContamination pass 1; pqVx passes `m` so its
    * dim-divisibility require stays satisfiable on the empty frame. */
  private def dimOf(emb: DataFrame, vecCol: String,
      emptyDim: Int = 1): Int =
    emb.where(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d"))
      .head(1).headOption.map(_.getInt(0)).getOrElse(emptyDim)

  /** Matryoshka truncation fidelity (Kusupati et al. 2022): for each
    * query vector, the top-k cosine neighbor set under the FULL
    * embedding vs under its first `prefixDim` components — overlap@k
    * answers "how many retrieval neighbors survive truncating the
    * embedding", the measurement behind serving shorter vectors.
    *
    * Shape: the query side is a bounded predicate-selected set (never
    * all-pairs both ways); both rankings come from one candidate join
    * with the bounded-heap TopK aggregate (map-side pre-reduce), ties
    * broken by neighbor id — the q_cosine_topk convention on both
    * scores. Output per query: id, overlap (|∩|/k, 8dp). */
  def mrlOverlap(emb: DataFrame, idCol: String, vecCol: String,
      prefixDim: Int, k: Int, queryPred: Column): DataFrame = {
    require(prefixDim >= 1, s"mrlOverlap: prefixDim=$prefixDim")
    require(k >= 1, s"mrlOverlap: k=$k")
    val base = emb.select(col(idCol).as("id"),
        vecDouble(col(vecCol)).as("v"))
      .withColumn("p", slice(col("v"), 1, prefixDim))
      .withColumn("n2", dot(col("v"), col("v")))
      .withColumn("np2", dot(col("p"), col("p")))
      // zero-norm vectors (full OR truncated) have no cosine: excluded
      // from queries and candidates alike, the cosinePairs convention
      .where(col("n2") > 0.0 && col("np2") > 0.0)
    val q = base.select(col("id").as("qid"), col("v").as("qv"),
      col("p").as("qp"), col("n2").as("qn2"), col("np2").as("qnp2"))
      .where(queryPred)
    val pairs = q.join(base, col("qid") =!= col("id"))
      .select(col("qid"), col("id"),
        (dot(col("qv"), col("v")) / sqrt(col("qn2") * col("n2")))
          .as("cf"),
        (dot(col("qp"), col("p")) / sqrt(col("qnp2") * col("np2")))
          .as("cp"))
    val top = pairs.groupBy(col("qid")).agg(
      TopK.topKByScore(col("cf"), col("id"), lit(k)).as("tf"),
      TopK.topKByScore(col("cp"), col("id"), lit(k)).as("tp"))
    // LEFT join from the query set: a query with ZERO candidates (every
    // other vector zero-norm, or a one-vector corpus) must emit
    // overlap 0.0 — the oracle's `q LEFT JOIN ov` shape — not silently
    // vanish from the output
    q.select(col("qid"))
      .join(top, Seq("qid"), "left")
      .select(col("qid").as("id"),
        coalesce(round(size(array_intersect(
          transform(col("tf"), t => t.getField("id")),
          transform(col("tp"), t => t.getField("id"))))
          .cast("double") / lit(k.toDouble), 8), lit(0.0)).as("overlap"))
  }
}
