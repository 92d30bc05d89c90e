package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  *  - [[cosine]]: explicit dot/norm expression (sequential fold, so the
  *    double result is reproducible and oracle-comparable after round).
  *  - [[topK]]: brute-force scored top-k — the correctness baseline;
  *    plans as TakeOrderedAndProject (no global sort materialization).
  *  - [[nearDupPairs]]: brute-force all-pairs above a threshold.
  *  - [[lshNearDupPairs]]: random-hyperplane LSH — sign-bucket join, then
  *    exact verify. The scale path: O(n·planes) hashing + bucket-local
  *    pairs instead of O(n²).
  */
object Similarity {

  /** Largest input the O(n²) brute tier will accept (≈1.25e9 pair
    * evaluations at the bound — minutes on 32 cores, and the outer edge
    * of "small dimension table"). Callers with more rows belong on the
    * bucketed tiers.
    */
  val MaxBruteRows: Long = 50000L

  /** Sequential-fold dot product (higher-order-function reference form;
    * [[graft.plans.VectorExpressions.dotFast]] is the hot-path form — same
    * left-to-right summation, one JVM loop instead of per-element
    * interpretation).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def dotF(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dotFast(a, b)

  /** Cosine similarity of two `array<double>` columns. Inside pair joins
    * prefer precomputing the norms per side (see [[nearDupPairs]]) — this
    * form recomputes them per pair.
    */
  def cosine(a: Column, b: Column): Column =
    dotF(a, b) / (sqrt(dotF(a, a)) * sqrt(dotF(b, b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Score every row against the embedding of `queryId` (self-lookup via a
    * broadcast 1-row crossJoin — the query never leaves the plan). Norms
    * are computed once per side, not per pair.
    */
  def scoreAgainst(df: DataFrame, id: String, vec: String, queryId: Long): DataFrame = {
    val q = df.filter(col(id) === queryId)
      .select(asDouble(col(vec)).as("__qv"))
      .select(col("__qv"), sqrt(dotF(col("__qv"), col("__qv"))).as("__qn"))
    df.select(col(id), asDouble(col(vec)).as("__v"))
      .withColumn("__vn", sqrt(dotF(col("__v"), col("__v"))))
      .crossJoin(broadcast(q))
      .select(
        col(id),
        (dotF(col("__v"), col("__qv")) / (col("__vn") * col("__qn"))).as("cos"))
  }

  /** Brute-force top-k by cosine against `queryId`'s embedding; rounded
    * score + id tiebreak keeps the cut deterministic.
    */
  def topK(df: DataFrame, id: String, vec: String, queryId: Long, k: Int): DataFrame =
    scoreAgainst(df, id, vec, queryId)
      .withColumn("cos", round(col("cos"), 6))
      .orderBy(col("cos").desc, col(id))
      .limit(k)

  /** Brute-force near-duplicate pairs: all (a, b), a < b, cosine ≥
    * threshold. O(n²) — correctness baseline and small-dimension-table
    * path only, and GUARDED as such: an in-plan row count (one narrow
    * scan, runs as one of the first stages — the same honest-price
    * pattern as `Sampling.shardedPrefix`'s offsets guard) fails the job
    * with a descriptive error before the quadratic crossJoin can start
    * if the input exceeds `maxBruteRows`. Nothing else stops a caller
    * handing the brute tier a corpus; the scale paths are
    * [[lshNearDupPairs]] / [[clusterNearDupPairs]].
    */
  def nearDupPairs(
      df: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      maxBruteRows: Long = MaxBruteRows): DataFrame = {
    val guard = df.agg(count(lit(1)).as("__bn"))
    val a = df.select(col(id).as("id_a"), asDouble(col(vec)).as("va"))
      .withColumn("na", sqrt(dotF(col("va"), col("va"))))
      .crossJoin(broadcast(guard))
      .filter(assert_true(
        col("__bn") <= lit(maxBruteRows),
        format_string(
          "nearDupPairs is the O(n²) brute/oracle tier: input has %d rows, over " +
            "the brute-safe bound %d. Use lshNearDupPairs or clusterNearDupPairs " +
            "(bucketed, never all-pairs) for corpus-scale inputs.",
          col("__bn"), lit(maxBruteRows))).isNull)
      .drop("__bn")
    val b = df.select(col(id).as("id_b"), asDouble(col(vec)).as("vb"))
      .withColumn("nb", sqrt(dotF(col("vb"), col("vb"))))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dotF(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Deterministic pseudo-random hyperplanes (seeded — reproducible across
    * runs and cluster layouts).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** ±1 signed-random-projection hyperplane matrix (`dims` rows ×
    * `bits` columns) from the murmur3 fmix32 finalizer of
    * `dim·bits + bit + 1` — a deterministic PARAMETER both engines can
    * embed as a literal (fixed-quantizer discipline, no RNG state).
    */
  def srpSigns(dims: Int, bits: Int): Seq[Seq[Int]] = {
    def fmix32(h0: Int): Int = {
      var h = h0
      h ^= h >>> 16; h *= 0x85ebca6b
      h ^= h >>> 13; h *= 0xc2b2ae35
      h ^= h >>> 16; h
    }
    (0 until dims).map { d =>
      (0 until bits).map(k => if (fmix32(d * bits + k + 1) >= 0) 1 else -1)
    }
  }

  /** Signed-random-projection bit signatures (SimHash for dense vectors):
    * each vector's `bits`-bit code from the signs of its dot products
    * with the [[srpSigns]] hyperplanes — Hamming distance on the codes
    * estimates angular distance (the candidate-bucketing key for
    * billion-scale near-dup). Components are fixed-point
    * `floor(x·2²⁰ + ½)` BIGINTs, so every projection is an exact integer
    * sum — bit-portable with no float arithmetic anywhere; ties
    * (projection exactly 0) take bit 1.
    *
    * Scale shape: one posexplode, one `dims`-row broadcast relation, ONE
    * hash aggregate carrying the `bits` projections as columns (no
    * `bits`× row expansion), a pure packing projection.
    */
  def srpBits(
      df: DataFrame,
      id: String,
      vec: String,
      dims: Int = 64,
      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 62, s"bits $bits out of range")
    val spark = df.sparkSession
    val signs = srpSigns(dims, bits)
    val x = df
      .select(col(id),
        posexplode(asDouble(col(vec))).as(Seq("__pos", "__xv")))
      .withColumn("__q", floor(col("__xv") * lit(1048576.0) + lit(0.5)).cast("long"))
    val mat = typedLit(signs.map(_.toSeq))
    val dim = spark.range(dims).select(
      col("id").cast("int").as("__pos2"),
      element_at(mat, col("id").cast("int") + 1).as("__sv"))
    val sums = (0 until bits).map(k =>
      sum(col("__q") * col("__sv").getItem(k)).as(s"__d$k"))
    val agg = x.join(broadcast(dim), col("__pos") === col("__pos2"))
      .groupBy(col(id))
      .agg(sums.head, sums.tail: _*)
    val code = (0 until bits)
      .map(k => when(col(s"__d$k") >= 0, lit(1L << k)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col(id), code.cast("long").as("srp_code"))
  }

  /** Cluster-scoped near-duplicate pairs — the SemDeDup shape (public
    * literature: cluster the embeddings, compare only within a cluster):
    * assign every vector to its nearest centroid, emit (a < b) pairs with
    * cosine ≥ `threshold` INSIDE each cluster. Complements
    * [[lshNearDupPairs]]: LSH recall depends on the threshold band,
    * cluster scoping recall depends on the quantizer — both turn O(n²)
    * into per-bucket work, and at 100 TB the cluster column doubles as a
    * partition key (compare [[Ivf.writePartitioned]]). Pairs whose
    * members land in different cells are missed by construction — the
    * documented trade of the method.
    */
  def clusterNearDupPairs(
      df: DataFrame,
      id: String,
      vec: String,
      model: Ivf.Model,
      threshold: Double): DataFrame =
    pairsWithinCell(Ivf.assign(df, vec, model), id, vec, threshold)

  /** Cluster-scoped kNN GRAPH — each vector's top-`k` nearest neighbors
    * within its quantizer cell (directed edges, cosine): the input
    * relation of graph clustering, near-dup family expansion
    * ([[LabelProp]], [[graft.operators.Components]]), and diversity
    * analysis. Same cell-scoping approximation as
    * [[clusterNearDupPairs]] (SemDeDup semantics: candidates never
    * cross cells), same plan shape — one equi-join per cell — plus a
    * per-SOURCE-vector ranking window whose partitions are bounded by
    * the cell size, never the corpus. Ranking orders by the UNROUNDED
    * cosine (both engines compute identical doubles from identical
    * dots), ties broken by neighbor id; the reported cosine is
    * round-6.
    */
  def clusterKnnGraph(
      df: DataFrame,
      id: String,
      vec: String,
      model: Ivf.Model,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k $k out of range")
    val keyed = Ivf.assign(df, vec, model)
      .select(col(id), col("cluster"), asDouble(col(vec)).as("__v"))
      .withColumn("__n", sqrt(dotF(col("__v"), col("__v"))))
    val a = keyed.select(
      col("cluster"), col(id).as("src"), col("__v").as("va"), col("__n").as("na"))
    val b = keyed.select(
      col("cluster"), col(id).as("dst"), col("__v").as("vb"), col("__n").as("nb"))
    val w = Window.partitionBy("src").orderBy(col("__cos").desc, col("dst"))
    a.join(b, Seq("cluster"))
      .filter(col("src") =!= col("dst"))
      .withColumn("__cos", dotF(col("va"), col("vb")) / (col("na") * col("nb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("cluster"),
        round(col("__cos"), 6).as("cos"), col("rank").cast("long").as("rank"))
  }

  /** The within-cell pair join + exact cosine verify shared by both
    * quantizer tiers: `assigned` carries (id, vec, cluster). Null-cluster
    * rows (null embeddings) drop out of the equi-join — no pair can be
    * verified against a missing vector.
    */
  private def pairsWithinCell(
      assigned: DataFrame,
      id: String,
      vec: String,
      threshold: Double): DataFrame = {
    val keyed = assigned
      .select(col(id), col("cluster"), asDouble(col(vec)).as("__v"))
      .withColumn("__n", sqrt(dotF(col("__v"), col("__v"))))
    val a = keyed.select(
      col("cluster"), col(id).as("id_a"), col("__v").as("va"), col("__n").as("na"))
    val b = keyed.select(
      col("cluster"), col(id).as("id_b"), col("__v").as("vb"), col("__n").as("nb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dotF(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Quantizer size for a corpus of `rows` vectors targeting cells of
    * ~`targetCellSize`: cells stay constant-sized as the corpus grows, so
    * within-cell pair work grows LINEARLY with the corpus instead of
    * quadratically (fixed k ⇒ cells grow with the corpus ⇒ O(n²/k) pair
    * candidates — a fixed-k copy ladder of `semantic_pairs` measured
    * exactly that blow-up). Capped at 2¹⁶ cells: the flat model (k×dim
    * doubles on the driver, broadcast to every task) stops being the
    * right shape somewhere past that — beyond the cap, cells grow past
    * the target again and the honest next tier is a two-level
    * (hierarchical) quantizer, which this library does not ship; the cap
    * makes that boundary explicit instead of OOMing inside train().
    */
  def autoK(rows: Long, targetCellSize: Int): Int =
    math.max(1L, (rows + targetCellSize - 1) / targetCellSize).min(1L << 16).toInt

  /** [[clusterNearDupPairs]] with the quantizer sized FROM the corpus —
    * the production default. One count job picks k ≈ rows/targetCellSize,
    * the coarse quantizer trains at that k, and pair work stays bounded
    * per cell at any corpus size. The fixed-model overload remains the
    * oracle tier (its centroid literals are mirrored into DuckDB SQL).
    *
    * Training is BOUNDED in the corpus on both axes:
    *  - it runs on a hash-sample of ≈ `pointsPerCentroid` × k vectors
    *    (quantizer quality is a property of the sample, and k itself is
    *    capped — see [[autoK]] — so the sample tops out at
    *    pointsPerCentroid × 2¹⁶ vectors no matter the corpus);
    *  - past `driverModelMaxK` centroids the codebook never touches the
    *    driver: [[Ivf.trainCodebook]] keeps every iteration in scratch
    *    parquet and [[Ivf.assignByJoin]] labels the corpus with a
    *    broadcast join instead of a collected model.
    * The corpus-wide work is therefore exactly one linear assignment pass
    * plus the per-cell pair join, at any scale.
    */
  def clusterNearDupPairsAuto(
      df: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      targetCellSize: Int = 512,
      iters: Int = 4,
      seed: Long = 7L,
      pointsPerCentroid: Int = 64,
      driverModelMaxK: Int = Ivf.DriverModelMaxK): DataFrame = {
    val rows = df.count()
    val k = autoK(rows, targetCellSize)
    // one count sizes BOTH k and the training sample — hashThin reuses it
    // so the input plan is never evaluated twice just to measure itself
    val trainSet = Ivf.hashThin(df, id, seed, rows, pointsPerCentroid.toLong * k)
    if (k <= driverModelMaxK) {
      val model = Ivf.train(trainSet, id, vec, k, iters, seed)
      clusterNearDupPairs(df, id, vec, model, threshold)
    } else {
      val codebook = Ivf.trainCodebook(trainSet, id, vec, k, iters, seed)
      pairsWithinCell(Ivf.assignByJoin(df, id, vec, codebook), id, vec, threshold)
    }
  }

  /** Random-hyperplane LSH near-dup pairs: bucket on the `numPlanes`-bit
    * sign signature, exact-verify cosine within buckets. Recall comes from
    * `bands` independent sign-bands (each `planesPerBand` bits).
    */
  def lshNearDupPairs(
      df: DataFrame,
      id: String,
      vec: String,
      dim: Int,
      bands: Int,
      planesPerBand: Int,
      threshold: Double,
      seed: Long): DataFrame = {
    val planes = hyperplanes(bands * planesPerBand, dim, seed)
    val v = asDouble(col(vec))
    // sign bit per plane, folded into one long key per band
    val bandKeys: Seq[Column] = (0 until bands).map { b =>
      val bits = (0 until planesPerBand).map { p =>
        val plane = planes(b * planesPerBand + p)
        val d = dotF(col("__v"), typedlit(plane.toSeq))
        when(d >= 0, 1L << p).otherwise(0L)
      }
      bits.reduce(_ + _).as(s"band_$b")
    }
    // ids + band keys ONLY — the candidate join must never shuffle vectors.
    // (Round-1 lesson: banded rows carrying the 64-dim vector through the
    // self-join + dropDuplicates turned a 2k-row table into a 72 s query.)
    val keyed = df.select(col(id), v.as("__v"))
      .select((col(id) +: bandKeys): _*)
    val banded = keyed.select(
      col(id),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), col(s"band_$b").as("bkey"))): _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val l = banded.select(col(id).as("id_a"), col("band"), col("bkey"))
    val r = banded.select(col(id).as("id_b"), col("band"), col("bkey"))
    val candidates = l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // exact verify: join the (few) candidate ids back to vectors + norms.
    // The band-key pass is recomputed per join side — a linear hashing pass,
    // deliberately NOT cached so the operator owns no persisted state at
    // 100 TB (candidate verify touches only the candidate subset anyway).
    val vecs = df.select(col(id), v.as("__v"))
      .withColumn("__n", sqrt(dotF(col("__v"), col("__v"))))
    candidates
      .join(vecs.select(col(id).as("id_a"), col("__v").as("va"), col("__n").as("na")), "id_a")
      .join(vecs.select(col(id).as("id_b"), col("__v").as("vb"), col("__n").as("nb")), "id_b")
      .withColumn("cos", dotF(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Largest query-set size [[hardNegatives]] will score exhaustively —
    * cost is corpus × queries, so the query side must stay a broadcast
    * relation, not a second corpus.
    */
  val MaxHardNegQueries: Long = 1024L

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-SIMILAR corpus vectors with a DIFFERENT
    * label — the "confusable but wrong" examples a contrastive or
    * reranker objective trains on. Exhaustive over corpus × queries
    * (every query scores every differently-labeled row), so the query
    * set is broadcast and GUARDED at `maxQueries` — mining negatives
    * for a whole second corpus belongs on the ANN tiers (IVF/PQ probe →
    * re-rank), not here.
    *
    * The per-query cut is a SALTED TOURNAMENT, not one corpus-wide
    * window: stage 1 takes top-k within (query, xxhash64(id) mod
    * `saltBuckets`) — partitions are corpus/saltBuckets rows — stage 2
    * reduces the surviving saltBuckets×k rows per query. Because the
    * ordering (rounded cos desc, id asc) is TOTAL, the tournament's
    * result is exactly the direct top-k — the salt changes partitioning,
    * never the answer, so the scale path is also the oracle path.
    *
    * Output: (query_id, vec_id, cos round-6) — k rows per query.
    */
  /** Matryoshka-style truncation-recall evaluation: recall@k of
    * brute-force cosine top-k computed on the FIRST `truncDims`
    * dimensions against the full-dimension top-k, per query — the
    * acceptance metric for dimension-truncated serving (store/search the
    * prefix, keep the full vector for re-ranking; Kusupati et al. 2022).
    * A recall regression here means the embedding space does NOT
    * front-load information and prefix-truncation is unsafe.
    *
    * Both sides are the deterministic brute kernel (round-6 cosine, id
    * tiebreak — the [[topK]] contract), each cut by the salted
    * tournament ([[hardNegatives]]'s two-stage top-k: per-(query, salt)
    * then per-query, exact because the ordering is total), so the
    * overlap count is exact and oracle-replayable. Cost is
    * corpus × |queries| × 2 — the query set must stay a broadcast
    * relation (guarded at [[MaxHardNegQueries]]); evaluating recall for
    * a whole query corpus belongs on sampled query sets, which is what
    * the metric means anyway.
    *
    * Output: (query_id, n_hits, recall) — one row per query.
    */
  def truncationRecall(
      df: DataFrame,
      id: String,
      vec: String,
      queryIds: Seq[Long],
      truncDims: Int,
      k: Int,
      saltBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryIds.nonEmpty && queryIds.size <= MaxHardNegQueries,
      s"truncationRecall scores corpus × queries exhaustively twice: " +
        s"${queryIds.size} queries is over the broadcast-safe bound " +
        s"$MaxHardNegQueries — evaluate on a sampled query set.")
    require(truncDims >= 1, s"truncDims $truncDims out of range")
    def topKAt(project: Column => Column): DataFrame = {
      val q = df.filter(col(id).isInCollection(queryIds))
        .select(col(id).as("query_id"), project(asDouble(col(vec))).as("__qv"))
        .withColumn("__qn", sqrt(dotF(col("__qv"), col("__qv"))))
      val c = df.select(col(id).as("__cid"), project(asDouble(col(vec))).as("__v"))
        .withColumn("__vn", sqrt(dotF(col("__v"), col("__v"))))
      val cand = c.crossJoin(broadcast(q))
        .select(
          col("query_id"), col("__cid"),
          round(dotF(col("__v"), col("__qv")) / (col("__vn") * col("__qn")), 6)
            .as("cos"))
      val stage1 = Window
        .partitionBy(col("query_id"), pmod(xxhash64(col("__cid")), lit(saltBuckets.toLong)))
        .orderBy(col("cos").desc, col("__cid"))
      val stage2 = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("__cid"))
      cand
        .withColumn("__r1", row_number().over(stage1))
        .filter(col("__r1") <= k)
        .drop("__r1")
        .withColumn("__r2", row_number().over(stage2))
        .filter(col("__r2") <= k)
        .select(col("query_id"), col("__cid"))
    }
    val full = topKAt(identity)
    val trunc = topKAt(v => slice(v, 1, truncDims))
      .select(col("query_id").as("__tq"), col("__cid").as("__tid"))
    full
      .join(trunc,
        full("query_id") === col("__tq") && full("__cid") === col("__tid"),
        "left")
      .groupBy("query_id")
      .agg(sum(when(col("__tid").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select(
        col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(k.toDouble)).as("recall"))
  }

  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      label: String,
      k: Int,
      saltBuckets: Int = 32,
      maxQueries: Long = MaxHardNegQueries): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qGuard = queries.agg(count(lit(1)).as("__qn"))
    val q = queries
      .select(
        col(id).as("query_id"),
        col(label).as("__ql"),
        asDouble(col(vec)).as("__qv"))
      .withColumn("__qn2", sqrt(dotF(col("__qv"), col("__qv"))))
      .crossJoin(broadcast(qGuard))
      .filter(assert_true(
        col("__qn") <= lit(maxQueries),
        format_string(
          "hardNegatives scores corpus × queries exhaustively: %d queries is over " +
            "the broadcast-safe bound %d. Mine negatives for large query sets " +
            "through the ANN tiers (Ivf.searchTopKBatch + label filter).",
          col("__qn"), lit(maxQueries))).isNull)
      .drop("__qn")
    val c = corpus
      .select(col(id), col(label), asDouble(col(vec)).as("__v"))
      .withColumn("__vn", sqrt(dotF(col("__v"), col("__v"))))
    val cand = c.join(broadcast(q), col(label) =!= col("__ql"))
      .withColumn("cos", round(dotF(col("__v"), col("__qv")) / (col("__vn") * col("__qn2")), 6))
      .select(col("query_id"), col(id), col("cos"))
    val stage1 = Window
      .partitionBy(col("query_id"), pmod(xxhash64(col(id)), lit(saltBuckets.toLong)))
      .orderBy(col("cos").desc, col(id))
    val stage2 = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col(id))
    cand
      .withColumn("__r1", row_number().over(stage1))
      .filter(col("__r1") <= k)
      .drop("__r1")
      .withColumn("__r2", row_number().over(stage2))
      .filter(col("__r2") <= k)
      .select(col("query_id"), col(id), col("cos"))
  }
}
