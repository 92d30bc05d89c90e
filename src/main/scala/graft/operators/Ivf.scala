package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.VectorExpressions.dotFast

/** IVF (inverted-file) approximate nearest neighbor — the partition-based
  * alternative to [[Similarity.lshNearDupPairs]]'s hashing approach:
  * spherical k-means coarse quantizer → per-cluster inverted lists →
  * query probes only the `nprobe` nearest cells.
  *
  * Deterministic throughout: centroid seeding by xxhash64 order, Lloyd
  * iterations are plain aggregations (decimal-routed means), ties break
  * by cluster id. Training collects only k×dim centroid doubles to the
  * driver per iteration — the data itself never moves.
  *
  * At scale the assignment column doubles as a PARTITIONING key: write
  * the corpus bucketed by `cluster` and a query touches nprobe/k of the
  * data.
  */
object Ivf {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** L2-normalized copy of the embedding column (spherical k-means:
    * cosine similarity = dot product on normalized vectors).
    *
    * The norm is bound as a lambda VARIABLE (`flatten(transform(array(n),
    * ...))`): a plain column reference inside the divide lambda gets
    * re-inlined by CollapseProject and the sqrt(dot) is then re-evaluated
    * per ELEMENT — 64× the work per row (round-1 lesson, see
    * spark-perf-traps).
    */
  private def normalized(df: DataFrame, vec: String): DataFrame =
    df.withColumn("__v", asDouble(col(vec)))
      .withColumn(
        "__v",
        flatten(transform(
          array(sqrt(dotFast(col("__v"), col("__v")))),
          n => transform(col("__v"), x => x / n))))

  /** Nearest-centroid id by dot product (normalized inputs), ties to the
    * smaller cluster id.
    */
  private def clusterCol(model: Model): Column = {
    val scored = model.centroids.zipWithIndex.map { case (c, j) =>
      struct(
        round(dotFast(col("__v"), typedlit(c.toSeq)), 9).as("s"),
        lit(-j).as("negj"))
    }
    (-array_max(array(scored: _*)).getField("negj")).cast("int")
  }

  /** Largest k assigned through the literal-expression path. [[clusterCol]]
    * embeds every centroid as a typed literal in ONE expression — ideal
    * for oracle mirroring and codegen at small k, but the expression tree
    * (k structs × dim literals) outgrows codegen somewhere past a few
    * hundred centroids. Above this bound assignment switches to the
    * broadcast-kernel tier.
    */
  val ExprAssignMaxK = 64

  /** Broadcast-kernel assignment for large k (the auto-sized SemDeDup
    * regime): centroids broadcast once, a tight JVM loop per partition
    * scores k×dim per row. Scoring semantics are BIT-IDENTICAL to
    * [[clusterCol]] — sequential left-to-right dot (same as the codegen'd
    * [[dotFast]]), HALF_UP round to 9 dp (the exact arithmetic of Spark's
    * `round`), first-maximum tie = smallest cluster id — IvfSpec pins the
    * tiers equal. mapPartitions is justified here (SURVEY §2 preference
    * (d)): per-row k-way scoring is genuine imperative per-partition work
    * no bounded expression tree can express.
    */
  private[graft] def assignKernel(normalizedDf: DataFrame, model: Model): DataFrame = {
    val spark = normalizedDf.sparkSession
    val bc = spark.sparkContext.broadcast(model.centroids)
    val schema = normalizedDf.schema.add("cluster", org.apache.spark.sql.types.IntegerType)
    val vIdx = normalizedDf.schema.fieldIndex("__v")
    val rdd = normalizedDf.rdd.mapPartitions { it =>
      val cents = bc.value
      it.map { r =>
        // null embedding → null cluster, matching the expression tier
        // (dot(null) → null score → null cluster) — without the guard the
        // tiers claimed bit-identical diverge on nulls and behavior flips
        // with model size
        if (r.isNullAt(vIdx)) org.apache.spark.sql.Row.fromSeq(r.toSeq :+ null)
        else {
        val v = r.getSeq[Double](vIdx).toArray
        var bestS = Double.NegativeInfinity
        var bestJ = 0
        var j = 0
        while (j < cents.length) {
          val c = cents(j)
          val n = math.min(v.length, c.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += v(i) * c(i); i += 1 }
          val sr = java.math.BigDecimal.valueOf(s)
            .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
          if (sr > bestS) { bestS = sr; bestJ = j }
          j += 1
        }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ bestJ)
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Tier-dispatched cluster assignment over an already-normalized frame.
    * Null embeddings get a NULL cluster in every tier — without the
    * explicit guard the expression tier's null-score structs lose the
    * array_max to their own negj field and a null vector lands in
    * cluster 0, while the kernel tier NPEs: the tiers must agree, and
    * "no cluster" is the only honest label for a row that cannot be
    * scored.
    */
  private def withCluster(normalizedDf: DataFrame, model: Model, as: String): DataFrame =
    if (model.k <= ExprAssignMaxK)
      normalizedDf.withColumn(as, when(col("__v").isNotNull, clusterCol(model)))
    else assignKernel(normalizedDf, model).withColumnRenamed("cluster", as)

  /** Deterministic bounded training sample: hash-thin `df` to ≈ `cap`
    * rows (cap ≤ 0 ⇒ no sampling). Quantizer quality is a property of the
    * SAMPLE, not the corpus — k centroids are fit against O(k) points
    * regardless of corpus size, so training cost stops growing with the
    * data while the assignment pass (the only corpus-wide stage) stays
    * one linear map. The thinning predicate is a pure column expression
    * (seeded xxhash64 mod), so it pushes into the scan and the skipped
    * rows are never deserialized.
    */
  private def boundedSample(df: DataFrame, id: String, seed: Long, cap: Long): DataFrame =
    if (cap <= 0L) df else hashThin(df, id, seed, df.count(), cap)

  /** The thinning predicate of [[boundedSample]] with the corpus size
    * supplied by the caller — for pipelines that already ran the count
    * (e.g. auto-k sizing), so the input plan is not evaluated twice.
    */
  private[graft] def hashThin(
      df: DataFrame, id: String, seed: Long, rows: Long, cap: Long): DataFrame =
    if (cap <= 0L || rows <= cap) df
    else {
      val Mod = 1L << 20
      val keep = math.max(1L, (cap * Mod) / rows)
      df.filter(pmod(xxhash64(col(id), lit(seed ^ 0x53414d50L)), lit(Mod)) < lit(keep))
    }

  /** Hash seeding for large k: the k smallest-min-hash DISTINCT vectors.
    * The distinct (groupBy __v, min hash) matters on dedup corpora —
    * duplicate vectors would otherwise seed duplicate centroids, and with
    * ties assigned to the smaller cluster id the duplicate stays
    * point-less through every Lloyd iteration, silently shrinking
    * effective k below the sized target.
    */
  private[graft] def hashSeedFrame(data: DataFrame, id: String, k: Int, seed: Long): DataFrame =
    data
      .withColumn("__h", xxhash64(col(id), lit(seed)))
      .groupBy("__v").agg(min("__h").as("__h"))
      .orderBy("__h")
      .limit(k)

  /** Train the coarse quantizer: deterministic seeding (k smallest
    * xxhash64(id, seed)) + `iters` Lloyd iterations over a bounded
    * hash-sample (`sampleCap` > 0 — the production tier for auto-sized k;
    * 0 keeps the full corpus for small fixed-k models and back-compat).
    */
  def train(
      df: DataFrame,
      id: String,
      vec: String,
      k: Int,
      iters: Int,
      seed: Long,
      sampleCap: Long = 0L): Model = {
    // Training is eager (each iteration collects k×dim centroid sums), so
    // the normalized corpus is bracket-cached for the seeding pass + all
    // Lloyd iterations and guaranteed-unpersisted on return — round 1
    // rebuilt this scan+normalize ~5× (53 s at sf0.1).
    val data = normalized(boundedSample(df, id, seed, sampleCap), vec)
      .select(col(id), col("__v"))
      .filter(col("__v").isNotNull)
    CheckpointScope.using() { scope =>
      scope.pin(data)
      // deterministic k-means++-style init: hash-sample a candidate pool
      // (one pass), then greedy max-min selection on the driver — avoids
      // the two-centroids-in-one-cluster degeneracy of naive seeding.
      // The greedy is O(pool·k·dim) with pool = 50·k, so past ~1k
      // centroids (the auto-sized-quantizer regime, where k tracks the
      // CORPUS) both the pool collect and the driver CPU would grow with
      // the data — there the init degrades gracefully to pure hash
      // seeding: the k smallest xxhash64(id) vectors ARE the centroids
      // (one pass; k×dim to the driver — the size of the model itself,
      // which training must hold anyway). Lloyd iterations repair any
      // seeding degeneracy either way.
      val GreedyInitMaxK = 1024
      val chosen: Array[Array[Double]] =
        if (k <= GreedyInitMaxK) {
          val pool = data
            .withColumn("__h", xxhash64(col(id), lit(seed)))
            .orderBy("__h")
            .limit(math.max(50 * k, 200))
            .select("__v")
            .collect()
            .map(_.getSeq[Double](0).toArray)
          val acc = scala.collection.mutable.ArrayBuffer(pool.head)
          while (acc.length < k && acc.length < pool.length) {
            val next = pool.maxBy { p =>
              acc.map(c => {
                var d = 0.0; var i = 0
                while (i < p.length) { val t = p(i) - c(i); d += t * t; i += 1 }
                d
              }).min
            }
            acc += next
          }
          acc.toArray
        } else hashSeedFrame(data, id, k, seed)
          .select("__v")
          .collect()
          .map(_.getSeq[Double](0).toArray)
      var model = Model(chosen)
      val dim = chosen.head.length
      for (_ <- 0 until iters) {
        val assigned = withCluster(data, model, "__c")
        // per-dimension sums via posexplode + hash agg — no per-group
        // buffering, only k×dim rows ever reach the driver
        val sums = assigned
          .select(col("__c"), posexplode(col("__v")).as(Seq("pos", "x")))
          .groupBy("__c", "pos")
          .agg(sum("x").as("s"), count(lit(1)).as("n"))
          .collect()
        val acc = Array.fill(model.k)(new Array[Double](dim))
        val counts = new Array[Long](model.k)
        sums.foreach { r =>
          val c = r.getInt(0)
          acc(c)(r.getInt(1)) = r.getDouble(2)
          counts(c) = r.getLong(3)
        }
        val updated = model.centroids.clone()
        for (c <- 0 until model.k if counts(c) > 0) {
          val mean = acc(c).map(_ / counts(c))
          val norm = math.sqrt(mean.map(x => x * x).sum)
          if (norm > 0) updated(c) = mean.map(_ / norm)
        }
        model = Model(updated)
      }
      model
    }
  }

  /** Assign every row to its inverted list: adds `cluster`. */
  def assign(df: DataFrame, vec: String, model: Model): DataFrame =
    withCluster(normalized(df, vec), model, "cluster").drop("__v")

  /** [[train]], memoized per JVM via [[TrainCache]] — train-once /
    * serve-many for repeated searches over a stable corpus (training is
    * deterministic in (corpus, params)). `corpusKey` names the corpus
    * (e.g. its path); the CALLER owns key hygiene — a reused key over
    * changed data returns the stale model. The key carries the full
    * parameter list including `id`/`vec`, so two vector columns of the
    * same corpus are distinct entries.
    */
  def trainCached(
      df: DataFrame,
      id: String,
      vec: String,
      k: Int,
      iters: Int,
      seed: Long,
      corpusKey: String,
      sampleCap: Long = 0L): Model =
    TrainCache.memo("ivf", Seq(corpusKey, id, vec, k, iters, seed, sampleCap)) {
      train(df, id, vec, k, iters, seed, sampleCap)
    }

  /** Largest k for which the trained codebook lives on the driver as a
    * [[Model]] (collected seeds + per-iteration k×dim sum collects +
    * task-closure/broadcast shipping). Past it, [[trainCodebook]] +
    * [[assignByJoin]] keep the codebook in scratch parquet: the driver
    * never holds it as a long-lived model — the only driver-side
    * materialization left is the TRANSIENT broadcast build inside
    * [[joinLabels]]' broadcast tier (freed by the context cleaner), and
    * past [[BroadcastCodebookMaxBytes]] even that goes away.
    */
  val DriverModelMaxK = 4096

  /** Largest ESTIMATED codebook (rows × dim × 8 bytes of raw doubles) the
    * assignment join ships as a broadcast. A broadcast relation is built
    * ON THE DRIVER before distribution AND Spark hard-fails any
    * BroadcastExchange past 8 GB — so the tier cutoff must track BYTES,
    * not rows: 2²⁰ rows is a comfortable broadcast at dim 64 (~0.5 GB)
    * and a guaranteed job failure at dim 1024 (~8 GB). 1 GB leaves
    * headroom for row/struct overhead on top of the raw doubles. Past
    * this bound [[joinLabels]] uses a plain (un-hinted) crossJoin
    * instead: Catalyst plans the scratch-parquet side as a distributed
    * cartesian — every row still scores against every centroid, but NO
    * single node ever holds the whole codebook.
    */
  val BroadcastCodebookMaxBytes = 1L << 30

  /** Train the coarse quantizer WITHOUT the codebook ever living on the
    * driver as a collected model — the extreme-k tier
    * (k > [[DriverModelMaxK]], the auto-sized SemDeDup regime where k
    * tracks the corpus). Returns a scratch-parquet-backed codebook
    * `(__j int, __c array<double>)`. Up to [[BroadcastCodebookMaxBytes]]
    * each iteration's assignment join still builds a TRANSIENT broadcast
    * of the codebook (driver-side by Spark's broadcast mechanics, freed
    * by the context cleaner); past that bound the join runs as a
    * distributed cartesian and no node holds the whole codebook.
    *
    * Same algorithm as [[train]]'s hash-seeded tier, expressed as plans:
    * seeds are the k smallest-min-hash distinct vectors (numbered by a
    * window over the k-row limit), each Lloyd iteration assigns the
    * bounded sample via [[assignByJoin]]'s broadcast-join kernel and
    * re-derives centroids with a distributed posexplode aggregate —
    * per-dim means reassembled with collect_list+array_sort over the
    * k×dim count table, normalized in-plan. Every iteration's codebook is
    * scratch-materialized ([[graft.pipeline.PipelineStage.scratch]]): the
    * write runs on the executors, lineage breaks per round, and clusters
    * that lost all points keep their previous centroid via the left-join
    * coalesce (the same rule the driver loop applies).
    */
  def trainCodebook(
      df: DataFrame,
      id: String,
      vec: String,
      k: Int,
      iters: Int,
      seed: Long,
      sampleCap: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val data = normalized(boundedSample(df, id, seed, sampleCap), vec)
      .select(col(id), col("__v"))
      .filter(col("__v").isNotNull)
    CheckpointScope.using() { scope =>
      scope.pin(data)
      var codebook = graft.pipeline.PipelineStage.scratch(
        hashSeedFrame(data, id, k, seed)
          // k rows: the single-partition window is bounded by the model
          // size — the non-foldable constant partition key marks it as
          // deliberate (empty specs draw WindowExec's hazard warning)
          .select(
            (row_number().over(
              Window.partitionBy(graft.plans.ScalarExpressions.singlePartitionKey(col("__h"))).orderBy("__h")) - 1).as("__j"),
            col("__v").as("__c")),
        "ivf-seed")
      // one k-row job sizes the broadcast-vs-cartesian tier for every
      // Lloyd iteration (the byte bound needs dim, which only the data
      // has). An empty/all-null-vector corpus seeds an EMPTY codebook:
      // skip Lloyd entirely and return it — assignByJoin's left join
      // yields null clusters downstream, same as the lazy path did.
      val dimRow = codebook.select(size(col("__c"))).head(1)
      val bytesEst = k.toLong * dimRow.headOption.fold(0)(_.getInt(0)) * 8L
      for (i <- 0 until (if (dimRow.isEmpty) 0 else iters)) {
        val assigned = joinLabels(data, id, codebook, "__cl", bytesEst)
        val dims = data.join(assigned, Seq(id))
          .select(col("__cl"), posexplode(col("__v")).as(Seq("pos", "x")))
          .groupBy("__cl", "pos")
          .agg(sum("x").as("s"), count(lit(1)).as("n"))
        val means = dims
          .groupBy("__cl")
          .agg(array_sort(collect_list(struct(col("pos"), (col("s") / col("n")).as("m"))))
            .as("pm"))
          .select(
            col("__cl").as("__j"),
            transform(col("pm"), p => p.getField("m")).as("__m"))
          // norm bound as a lambda variable — see [[normalized]]
          .select(
            col("__j"),
            when(sqrt(dotFast(col("__m"), col("__m"))) > 0,
              flatten(transform(
                array(sqrt(dotFast(col("__m"), col("__m")))),
                n => transform(col("__m"), x => x / n))))
              .as("__cnew"))
        codebook = graft.pipeline.PipelineStage.scratch(
          codebook.join(means, Seq("__j"), "left")
            .select(col("__j"), coalesce(col("__cnew"), col("__c")).as("__c")),
          s"ivf-lloyd-$i")
      }
      codebook
    }
  }

  /** Cluster labels for an already-normalized `(id, __v, …)` frame against
    * a codebook DataFrame, via broadcast-join + argmax aggregate — the
    * assignment tier that never materializes the codebook on the driver.
    * Scoring semantics are IDENTICAL to [[clusterCol]]/[[assignKernel]]:
    * round(dot, 9) HALF_UP, max(struct(score, −j)) ties to the smaller
    * cluster id. Null vectors are filtered here; callers re-attach them
    * with a left join (null cluster — the expression tier's verdict).
    * The argmax is a hash aggregate keyed on `id`, so the k candidate rows
    * per input row collapse map-side (rows arrive partition-local from the
    * broadcast join) and only (id, best) ever shuffles.
    */
  private def joinLabels(
      normalizedDf: DataFrame,
      id: String,
      codebook: DataFrame,
      as: String,
      codebookBytes: Long): DataFrame =
    normalizedDf
      .select(col(id), col("__v"))
      .filter(col("__v").isNotNull)
      .crossJoin(
        if (codebookBytes <= BroadcastCodebookMaxBytes) broadcast(codebook)
        else codebook)
      .select(
        col(id),
        struct(
          round(dotFast(col("__v"), col("__c")), 9).as("s"),
          (-col("__j")).as("negj")).as("__sc"))
      .groupBy(id)
      .agg(max("__sc").as("__best"))
      .select(col(id), (-col("__best").getField("negj")).cast("int").as(as))

  /** Assign every row to its inverted list from a scratch-backed codebook
    * (see [[trainCodebook]]): adds `cluster`, null for null embeddings.
    * One shuffle of (id, cluster) plus the join back — at extreme k that
    * trade (vs shipping a multi-GB model in every task closure) is the
    * point; below [[DriverModelMaxK]] prefer [[assign]].
    *
    * API CONTRACT: this entry is EAGER — it runs one small Spark job at
    * call time (a single aggregate over the codebook: row count + dim) to
    * size the broadcast-vs-cartesian tier, cheap for a scratch-parquet
    * codebook but a full job for an arbitrary unmaterialized DataFrame.
    * Callers that already know the codebook's shape — [[trainCodebook]]
    * knows k and dim — should use the (rows, dim) overload, which stays
    * fully lazy.
    */
  def assignByJoin(df: DataFrame, id: String, vec: String, codebook: DataFrame): DataFrame = {
    val r = codebook.agg(count(lit(1)), max(size(col("__c")))).first()
    assignByJoin(df, id, vec, codebook,
      r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
  }

  /** [[assignByJoin]] with a caller-supplied codebook shape — no eager
    * sizing job; the broadcast-vs-cartesian tier comes from the
    * rows × dim × 8 byte estimate (see [[BroadcastCodebookMaxBytes]]).
    */
  def assignByJoin(
      df: DataFrame,
      id: String,
      vec: String,
      codebook: DataFrame,
      codebookRows: Long,
      dim: Int): DataFrame =
    df.join(
      joinLabels(normalized(df, vec), id, codebook, "cluster",
        codebookRows * math.max(dim, 1).toLong * 8L),
      Seq(id), "left")

  /** Top-k for a BATCH of queries in ONE corpus pass — the production
    * shape (a training pipeline looks up thousands of queries, not one).
    * Each query computes its `nprobe` probe cells plan-side (centroid
    * scores → sort → slice: no driver loop, queries stay distributed),
    * the probe list explodes to (query, cell) rows, and ONE broadcast
    * join against the assigned corpus scores each corpus row only against
    * the queries probing its cell; per-query top-k is a window. Corpus
    * rows: |corpus| × (avg queries per cell) — never |corpus| × |queries|.
    */
  def searchTopKBatch(
      df: DataFrame,
      id: String,
      vec: String,
      model: Model,
      queries: DataFrame,
      qid: String,
      qvec: String,
      nprobe: Int,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qn = normalized(queries.select(col(qid), col(qvec).as(vec)), vec)
      .select(col(qid), col("__v").as("__qv"))
    // per query: nprobe nearest centroids, ties to the smaller cell id
    // (struct sorted desc on (score, -j) — mirrors searchTopK's ordering)
    val scored = array(model.centroids.zipWithIndex.map { case (c, j) =>
      struct(
        round(dotFast(col("__qv"), typedlit(c.toSeq)), 9).as("s"),
        lit(-j).as("negj"))
    }: _*)
    val probes = qn
      .withColumn(
        "cluster",
        explode(transform(
          slice(sort_array(scored, asc = false), 1, nprobe),
          x => -x.getField("negj"))))
    val corpus = withCluster(normalized(df, vec), model, "cluster")
    val w = Window.partitionBy(qid).orderBy(col("cos").desc, col(id))
    corpus
      .join(broadcast(probes), "cluster")
      .withColumn("cos", round(dotFast(col("__v"), col("__qv")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col(qid), col(id), col("cos"), col("cluster"))
  }

  /** Materialize the corpus as parquet PARTITIONED BY the coarse cell —
    * the inverted-file layout on disk. After this, a probe query's scan
    * is partition-pruned to nprobe/k of the data before a single row is
    * read (see [[searchPartitioned]] and the IvfSpec pruning assertion);
    * at 100 TB that pruning — not the in-memory math — is what makes IVF
    * pay.
    */
  def writePartitioned(df: DataFrame, vec: String, model: Model, path: String): Unit =
    assign(df, vec, model)
      .write.partitionBy("cluster").mode("overwrite").parquet(path)

  /** Top-k over the partitioned layout: the `cluster IN probes` filter is
    * a PartitionFilter, so only the probed cells' files are listed and
    * scanned. `queryVec` is driver-side (the query embedding).
    */
  def searchPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      id: String,
      vec: String,
      model: Model,
      queryVec: Array[Double],
      nprobe: Int,
      topK: Int): DataFrame = {
    val qn = math.sqrt(queryVec.map(x => x * x).sum)
    val qv = queryVec.map(_ / qn)
    val probes = model.centroids.zipWithIndex
      .map { case (c, j) => (j, c.zip(qv).map { case (a, b) => a * b }.sum) }
      .sortBy { case (j, s) => (-s, j) }
      .take(nprobe)
      .map(_._1)
    normalized(
      spark.read.parquet(path).filter(col("cluster").isin(probes: _*)), vec)
      .withColumn("cos", round(dotFast(col("__v"), typedlit(qv.toSeq)), 6))
      .orderBy(col("cos").desc, col(id))
      .limit(topK)
      .select(col(id), col("cos"), col("cluster"))
  }

  /** Top-k by cosine against the row with `queryId`, probing only the
    * `nprobe` centroids nearest to the query.
    */
  def searchTopK(
      df: DataFrame,
      id: String,
      vec: String,
      model: Model,
      queryId: Long,
      nprobe: Int,
      topK: Int): DataFrame = {
    // query vector: pushed-down single-row lookup (id filter reaches the
    // scan; no cluster scoring on this pass)
    val qv = normalized(df.filter(col(id) === queryId), vec).select("__v")
      .collect().head.getSeq[Double](0).toArray
    // corpus pass: ONE scan — normalize, coarse-score, probe-filter, top-k
    val data = withCluster(normalized(df, vec), model, "cluster")
    val probes = model.centroids.zipWithIndex
      .map { case (c, j) => (j, c.zip(qv).map { case (a, b) => a * b }.sum) }
      .sortBy { case (j, s) => (-s, j) }
      .take(nprobe)
      .map(_._1)
    data
      .filter(col("cluster").isin(probes: _*))
      .withColumn("cos", round(dotFast(col("__v"), typedlit(qv.toSeq)), 6))
      .orderBy(col("cos").desc, col(id))
      .limit(topK)
      .select(col(id), col("cos"), col("cluster"))
  }
}
