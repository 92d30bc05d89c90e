package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.VectorExpressions.dotFast

/** Product quantization (Jégou et al., public literature) — the
  * compression tier of large-scale ANN: the embedding is split into `m`
  * subvectors, each quantized to one of `k` per-subspace centroids, so a
  * 64-float vector becomes `m` small codes. At 100 TB this is what makes
  * the index FIT — 256 bytes of floats become 8 codes — and search
  * scores against a tiny per-query lookup table instead of raw vectors.
  *
  * Deterministic end to end: subspace codebooks come from a seeded
  * joint L2 k-means (same seeding discipline as [[Ivf]], all subspaces
  * per pass); encoding and ADC scoring are plain column arithmetic.
  *
  * Accuracy discipline: ADC scores are approximations — [[searchTopK]]
  * over-fetches `rerank` candidates by ADC and re-scores them EXACTLY
  * (the standard PQ + re-rank pipeline); PqSpec pins recall against
  * brute force.
  */
object Pq {

  /** Per-subspace codebooks: `m` × `k` × (dim/m) centroid array. */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def subDim: Int = codebooks.head.head.length
  }

  /** L2-normalized full vector (norm bound as a lambda VARIABLE — see
    * spark-perf-traps: a plain column ref inside the divide lambda gets
    * re-inlined and the norm re-evaluated per element). Search metric is
    * cosine, so PQ runs on the unit sphere — ADC then approximates
    * cosine directly instead of an inner product distorted by norms.
    */
  private def normFull(vec: Column): Column = {
    val v = vec.cast("array<double>")
    flatten(transform(
      array(sqrt(dotFast(v, v))),
      n => transform(v, x => x / n)))
  }

  private def subVec(vec: Column, sub: Int, subDim: Int): Column =
    slice(normFull(vec), sub * subDim + 1, subDim)

  /** The all-subspaces seeding-pool plan: top-`poolN` hash-ordered rows
    * per subspace via ONE rank-guarded window. Factored out so PqSpec can
    * pin that the rank filter actually plans as a map-side
    * WindowGroupLimit (each task forwards ≤ poolN rows per subspace —
    * the property that keeps the m single-task group sorts poolN-bounded
    * at any corpus size).
    *
    * The map-side bound only exists when the session's
    * `windowGroupLimitThreshold` covers `poolN` (GraftSession.tune raises
    * it; Spark's default is 1000 < poolN for k > 50) — and Pq is a public
    * operator, so a plain-session caller must NOT silently fall into m
    * single-task sorts over the FULL n×m relation. Below the threshold
    * the plan degrades to a union of per-subspace TakeOrdered branches
    * instead: one job, m heap-bounded top-poolN sorts, no unbounded
    * window partition anywhere — the shape the rank-guarded window was
    * an m-jobs-to-one optimization of, never a replacement for.
    */
  private[graft] def seedPoolPlan(
      hashed: DataFrame, id: String, poolN: Int, m: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val thr = hashed.sparkSession.conf
      .get("spark.sql.optimizer.windowGroupLimitThreshold", "1000").toLong
    if (thr >= poolN)
      hashed
        .withColumn("__rn", row_number().over(
          Window.partitionBy("s").orderBy(col("__h"), col(id))))
        .filter(col("__rn") <= poolN)
        .select(col("s"), col("__h"), col("sv"))
    else
      (0 until m)
        .map(s => hashed.filter(col("s") === s)
          .orderBy(col("__h"), col(id))
          .limit(poolN)
          .select(col("s"), col("__h"), col("sv")))
        .reduce(_ unionByName _)
  }

  /** Train all `m` subspace codebooks JOINTLY: one long-form
    * (id, subspace, subvector) relation is bracket-cached and every Lloyd
    * iteration is ONE aggregation covering every subspace — m separate
    * trainings would pay ~m× the job-scheduling overhead for the same
    * arithmetic. Plain L2 k-means on the RAW subvectors (assignment by
    * max ⟨x,c⟩ − ‖c‖²/2, update = plain mean), exactly the metric
    * [[encode]] uses.
    */
  def train(
      df: DataFrame,
      id: String,
      vec: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      seed: Long): Model = {
    import org.apache.spark.sql.expressions.Window
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val v = col(vec).cast("array<double>")
    val subs = df.select(
      col(id),
      posexplode(array((0 until m).map(s => subVec(col(vec), s, subDim)): _*))
        .as(Seq("s", "sv")))
    CheckpointScope.using() { scope =>
      scope.pin(subs)
      // per-subspace hash-ordered candidate pool, greedy max-min seeding.
      // ONE rank-guarded window job for all m subspaces, not m TakeOrdered
      // jobs: the `rn <= poolN` filter turns the window into a map-side
      // WindowGroupLimit (GraftSession raises the threshold above poolN),
      // so each task forwards at most poolN rows per subspace and the m
      // single-task group sorts see poolN-bounded input, never the full
      // n×m relation — and the pool derivation costs one scheduler
      // round-trip instead of m (training latency is m small jobs deep,
      // which dominated this operator's benchmark).
      val poolN = math.max(20 * k, 100)
      val hashed = subs.withColumn("__h", xxhash64(col(id), col("s"), lit(seed)))
      val pool: Map[Int, Array[Array[Double]]] =
        seedPoolPlan(hashed, id, poolN, m)
          .collect()
          .groupBy(_.getInt(0))
          .map { case (s, rows) =>
            s -> rows.sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray)
          }
      val books: Array[Array[Array[Double]]] = (0 until m).toArray.map { s =>
        val cand = pool(s)
        val chosen = scala.collection.mutable.ArrayBuffer(cand.head)
        while (chosen.length < k && chosen.length < cand.length) {
          chosen += cand.maxBy { p =>
            chosen.map { c =>
              var d = 0.0; var i = 0
              while (i < p.length) { val t = p(i) - c(i); d += t * t; i += 1 }
              d
            }.min
          }
        }
        chosen.toArray
      }
      val spark = df.sparkSession
      import spark.implicits._
      for (_ <- 0 until iters) {
        // assignment via a broadcast join against the tiny centroid table
        // — a chained-CASE expression with m×k embedded literal arrays
        // recompiles a huge codegen unit every iteration (measured slower
        // than the join at any size)
        val cents = (0 until m).flatMap { s =>
          books(s).zipWithIndex.map { case (c, j) =>
            (s, j, c.toSeq, c.map(x => x * x).sum / 2.0)
          }
        }.toDF("s", "j", "cv", "half")
        val assigned = subs.join(broadcast(cents), "s")
          .withColumn(
            "__score",
            round(dotFast(col("sv"), col("cv")) - col("half"), 9))
          .groupBy(col(id), col("s"))
          .agg(
            max_by(col("j"), struct(col("__score"), -col("j"))).as("__c"),
            first(col("sv")).as("sv"))
        // per-(subspace, cluster, dimension) sums
        val sums = assigned
          .select(col("s"), col("__c"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy("s", "__c", "pos")
          .agg(sum("x").as("sx"), count(lit(1)).as("n"))
          .collect()
        sums.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((s, c), rows) =>
          val mean = new Array[Double](subDim)
          var n = 0L
          rows.foreach { r => mean(r.getInt(2)) = r.getDouble(3); n = r.getLong(4) }
          if (n > 0) books(s)(c) = mean.map(_ / n)
        }
      }
      Model(books)
    }
  }

  /** [[train]], memoized per JVM. Training is DETERMINISTIC in
    * (corpus, parameters) — seeded hash pool, greedy init, fixed
    * iteration count — so two calls over the same corpus return
    * bit-identical codebooks and retraining per search invocation is pure
    * waste: the production shape is train-once / serve-many (at sf0.1 the
    * ~1.5 s training pass dominated every sim_pq_topk call). `corpusKey`
    * names the corpus (e.g. its path); the CALLER owns key hygiene — a
    * reused key over changed data returns the stale model. Memoized via
    * [[TrainCache]] on the full parameter list including `id`/`vec`.
    */
  def trainCached(
      df: DataFrame,
      id: String,
      vec: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int,
      seed: Long,
      corpusKey: String): Model =
    TrainCache.memo("pq", Seq(corpusKey, id, vec, dim, m, k, iters, seed)) {
      train(df, id, vec, dim, m, k, iters, seed)
    }

  /** Encode: adds `codes` (array<int>, length m) — the per-subspace
    * nearest-centroid ids (nearest by L2 = max ⟨x,c⟩ − ‖c‖²/2, exact
    * argmin arithmetic, ties to the smaller id). Broadcast-join form for
    * the same reason as [[train]]: a per-row expression embedding all
    * m×k centroid literals compiles a pathological codegen unit.
    */
  def encode(df: DataFrame, id: String, vec: String, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = (0 until model.m).flatMap { s =>
      model.codebooks(s).zipWithIndex.map { case (c, j) =>
        (s, j, c.toSeq, c.map(x => x * x).sum / 2.0)
      }
    }.toDF("s", "j", "cv", "half")
    df.select(
      col(id),
      posexplode(array((0 until model.m).map(s =>
        subVec(col(vec), s, model.subDim)): _*)).as(Seq("s", "sv")))
      .join(broadcast(cents), "s")
      .withColumn("__score", round(dotFast(col("sv"), col("cv")) - col("half"), 9))
      .groupBy(col(id), col("s"))
      .agg(max_by(col("j"), struct(col("__score"), -col("j"))).as("__c"))
      .groupBy(col(id))
      .agg(transform(
        array_sort(collect_list(struct(col("s"), col("__c")))),
        x => x.getField("__c")).as("codes"))
  }

  /** Reconstruction-distortion certificate: per-vector squared error of
    * the PQ reconstruction against the unit-normalized vector, summarized
    * as (n, avg, max) — the quality bound a serving stack pins beside
    * recall ([[graft.queries.SimilarityQueries]] `sim_ivf_recall`): a
    * codebook regression shows up here before it shows up in latency.
    *
    * On the unit sphere the error needs NO reconstruction join:
    * ‖v − ĉ‖² = 1 + Σₛ‖cₛ‖² − 2Σₛ⟨vₛ,cₛ⟩ = 1 − 2·Σₛ scoreₛ where
    * scoreₛ = ⟨vₛ,cₛ⟩ − ‖cₛ‖²/2 is exactly the (round-9) argmax score the
    * encoder already computes — so the chosen score per subspace IS
    * max(score), and the per-vector error is one fixed left-associative
    * 8-term chain (the ADC-chain discipline: same IEEE order in any
    * engine). The corpus average rides round-6 per-vector errors through
    * the exact decimal sum (the LM-score discipline); the max is
    * order-free and stays unrounded.
    */
  def distortion(df: DataFrame, id: String, vec: String, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = (0 until model.m).flatMap { s =>
      model.codebooks(s).zipWithIndex.map { case (c, j) =>
        (s, j, c.toSeq, c.map(x => x * x).sum / 2.0)
      }
    }.toDF("s", "j", "cv", "half")
    val best = df.select(
      col(id),
      posexplode(array((0 until model.m).map(s =>
        subVec(col(vec), s, model.subDim)): _*)).as(Seq("s", "sv")))
      .join(broadcast(cents), "s")
      .withColumn("__score", round(dotFast(col("sv"), col("cv")) - col("half"), 9))
      .groupBy(col(id), col("s"))
      .agg(max(col("__score")).as("b"))
    val chain = (0 until model.m)
      .map(s => s"MAX(CASE WHEN s = $s THEN b END)")
      .mkString("0.0e0 + ", " + ", "")
    best.groupBy(col(id))
      .agg(expr(s"1.0e0 - 2.0e0 * ($chain)").as("sq_err"))
      .agg(
        count(lit(1)).as("n_vecs"),
        (graft.functions.DetAgg.dsum(round(col("sq_err"), 6)) / count(lit(1)))
          .as("avg_sq_err"),
        max(col("sq_err")).as("max_sq_err"))
  }

  /** ADC top-k with exact re-rank: score every encoded row against the
    * query's per-subspace dot-product table (m×k driver-side doubles),
    * keep the best `rerank` by ADC, re-score those exactly against the
    * raw vectors, return the true top `topK`.
    */
  def searchTopK(
      encoded: DataFrame,
      raw: DataFrame,
      id: String,
      vec: String,
      model: Model,
      queryVec: Array[Double],
      topK: Int,
      rerank: Int): DataFrame = {
    require(queryVec.length == model.m * model.subDim)
    // codebooks live on the unit sphere — normalize the query to match
    val qn = math.sqrt(queryVec.map(x => x * x).sum)
    val q0 = queryVec.map(_ / qn)
    // flat m×k lookup table: table(s*k + j) = <query_sub_s, centroid_sj>
    val table: Seq[Double] = (0 until model.m).flatMap { s =>
      val q = q0.slice(s * model.subDim, (s + 1) * model.subDim)
      model.codebooks(s).map(c => c.zip(q).map { case (a, b) => a * b }.sum)
    }
    val adc = aggregate(
      zip_with(
        col("codes"),
        sequence(lit(0), lit(model.m - 1)),
        (code, s) => element_at(typedlit(table), s * model.k + code + 1)),
      lit(0.0), (acc, x) => acc + x)
    val shortlist = encoded
      .withColumn("__adc", adc)
      .orderBy(col("__adc").desc, col(id))
      .limit(rerank)
      .select(id)
    // exact re-rank of the shortlist only
    raw.join(shortlist, id)
      .withColumn(
        "cos",
        round(
          dotFast(col(vec).cast("array<double>"), typedlit(queryVec.toSeq))
            / (sqrt(dotFast(col(vec).cast("array<double>"), col(vec).cast("array<double>")))
              * lit(math.sqrt(queryVec.map(x => x * x).sum))), 6))
      .orderBy(col("cos").desc, col(id))
      .limit(topK)
      .select(col(id), col("cos"))
  }
}
