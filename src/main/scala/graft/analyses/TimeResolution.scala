package graft.analyses

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.fit.FitAggregators
import graft.functions.Stats

/** The reference's flagship query: β-scan time resolution
  * (`scripts/time_resolution_beta_scan.py`, traced in SURVEY §3.1).
  *
  * Pipeline (ONE lazy Spark plan — the reference's 34-pass driver loop
  * becomes a `replica` data dimension):
  *
  *  1. unpivot the 9 CFD threshold columns `t_10 (s)` … `t_90 (s)` to long
  *     (k, t) form                                  [R2]
  *  2. self-pair device A × device B per trigger → Δt(k1, k2) — the 81-way
  *     grid arrives via the k-unpivot join, not a crossJoin of columns [J4]
  *  3. Poissonized bootstrap over TRIGGER KEYS (pairing is preserved
  *     because the multiplicity rides the trigger, not the row)       [A10]
  *  4. per (replica, k1, k2): MAD_std of Δt                           [A2]
  *  5. per replica: arg-min (k1, k2)                                  [A5]
  *  6. per replica at the best grid point: histogram + Gaussian fit   [N1]
  *
  * Result: one row per replica (k1, k2, kmad, mu, sigma, amplitude);
  * replica 0 is the real pass, σ-spread over replicas 1..N is the
  * bootstrap uncertainty (`scripts/time_resolution_beta_scan.py:338-340`).
  *
  * Scale shape: everything shuffles on (replica, k1, k2) or (trigger) —
  * no driver loops, no collect; fits are per-replica aggregators.
  */
object TimeResolution {

  val KGrid: Seq[Int] = 10 to 90 by 10

  /** `t_10 (s)` … `t_90 (s)` — unit-bearing names kept verbatim
    * (reference `scripts/time_resolution_beta_scan.py:34`).
    */
  def tColumns: Seq[String] = KGrid.map(k => s"t_$k (s)")

  /** Unpivot the CFD threshold columns: (n_trigger, device_name, k, t). */
  def longForm(events: DataFrame): DataFrame =
    events
      .unpivot(
        Array(col("n_trigger"), col("device_name")),
        tColumns.map(c => col(s"`$c`")).toArray,
        "t_col", "t")
      .withColumn("k", regexp_extract(col("t_col"), "t_(\\d+) \\(s\\)", 1).cast("int"))
      .drop("t_col")

  /** Δt table: per trigger and (k1, k2) pair, t_k1(devA) − t_k2(devB)
    * (reference `calculate_Delta_t_df`,
    * `scripts/time_resolution_beta_scan.py:32-55`).
    */
  def deltaT(events: DataFrame, devA: String, devB: String): DataFrame = {
    val long = longForm(events)
    val a = long.filter(col("device_name") === devA)
      .select(col("n_trigger"), col("k").as("k1"), col("t").as("t1"))
    val b = long.filter(col("device_name") === devB)
      .select(col("n_trigger"), col("k").as("k2"), col("t").as("t2"))
    a.join(b, "n_trigger")
      .select(
        col("n_trigger"), col("k1"), col("k2"),
        (col("t1") - col("t2")).as("delta_t"))
  }

  /** Bootstrap multiplicity for (trigger, replica): Poisson(1) via the
    * inverse CDF of a hashed uniform; replica 0 (the real pass) is always
    * multiplicity 1. A PURE function of (trigger, replica, seed) — so it
    * is computed inline on each Δt row with no distinct/join, and every
    * row of the same trigger gets the same multiplicity, which is exactly
    * what preserves the A/B pairing (the reference's pivot-sample-stack,
    * `scripts/time_resolution_beta_scan.py:21-30`).
    */
  def multiplicity(trigger: Column, replica: Column, seed: Long): Column = {
    val u = (xxhash64(trigger, replica, lit(seed)).cast("double")
      / lit(2.0 * Long.MaxValue)) + lit(0.5)
    // Poisson(1) inverse CDF, truncated at 6 (P < 1e-4 tail)
    val cdf = {
      var p = math.exp(-1.0); var acc = p
      (0 to 6).map { k => if (k > 0) { p /= k; acc += p }; acc }
    }
    val m = cdf.zipWithIndex.foldRight(lit(7): Column) { case ((t, k), els) =>
      when(u < t, k).otherwise(els)
    }
    when(replica === 0, 1).otherwise(m)
  }

  /** Per-trigger bootstrap multiplicities as a table (kept for callers
    * that want the resample plan itself; [[run]] inlines
    * [[multiplicity]] instead — no join).
    */
  def triggerReplicas(triggers: DataFrame, replicas: Int, seed: Long): DataFrame =
    triggers
      .withColumn("replica", explode(sequence(lit(0), lit(replicas))))
      .withColumn("m", multiplicity(col("n_trigger"), col("replica"), seed))
      .filter(col("m") > 0)

  final case class Config(
      devA: String,
      devB: String,
      replicas: Int = 33,
      seed: Long = 42L,
      histBins: Int = 50,
      exactMad: Boolean = false, // approx sketches by default — 100 TB tier
      // one-pass IQR spread instead of two-pass MAD for the grid argmin:
      // halves the heaviest stage; σ itself still comes from the fit
      iqrSpread: Boolean = false)

  /** Full flagship pipeline → one row per replica:
    * (replica, k1, k2, kmad, mu, sigma, amplitude).
    *
    * The result is tiny (replicas+1 rows), so `run` is EAGER: it
    * bracket-caches the Δt table, computes, and returns a
    * driver-materialized frame — no persisted RDDs survive the call
    * (round 1 leaked the Δt cache to the caller).
    *
    * Pass accounting over the ×replicas fan-out (round 1 paid 5 full
    * passes, each physically duplicating rows by multiplicity):
    * binned-IQR tier = ONE codegen'd weighted pass (+ a histogram pass
    * over the 1/81 pre-filtered best grid point); MAD tiers = two
    * median passes + the same small histogram pass. min/max ride the
    * spread agg — the per-replica histogram range costs no extra pass —
    * and `best` is collected (≤ replicas+1 rows) so the histogram pass
    * filters dt BEFORE the replica explode.
    */
  def run(events: DataFrame, cfg: Config): DataFrame = {
    val spark = events.sparkSession
    val dt = deltaT(events, cfg.devA, cfg.devB)
    // Δt is NOT cached on the binned-IQR (benchmarked) path: the three
    // consumers (range agg, binned pass, best-cell histogram) each
    // recompute it, and the recompute — one scan + groupBy + unpivot +
    // co-partitioned join — is an order of magnitude cheaper than
    // writing the 81×-fanned table through MEMORY_AND_DISK (timed stage
    // by stage at sf0.1: dt materializes in 0.17 s; the cached full run is 8.2 s vs
    // 5.6 s uncached — guide §5, cache only when recompute costs more
    // than the memory pressure). At 100 TB the same holds harder: the
    // fan is 81× the source and would spill to disk wholesale. The MAD
    // tiers keep the cache — they duplicate rows by multiplicity and
    // re-sort twice, so their dt reuse is genuinely expensive.
    val lazyOut = graft.operators.CheckpointScope.using() { scope =>
      if (!cfg.iqrSpread) scope.pin(dt)
      // bootstrap fan-out computed INLINE (pure hash of trigger+replica+seed)
      // as a WEIGHT column — the sample is never physically duplicated;
      // every aggregate downstream is multiplicity-weighted instead
      val fannedW = dt
        .withColumn("replica", explode(sequence(lit(0), lit(cfg.replicas))))
        .withColumn("m", multiplicity(col("n_trigger"), col("replica"), cfg.seed))
        .filter(col("m") > 0)
      // spread of Δt per (replica, k1, k2)  [A2]. kmad only RANKS grid
      // points (σ comes from the fit), so the benchmarked tier is the
      // binned-IQR codegen pass; the MAD tiers keep the reference's exact
      // estimator (they duplicate rows per multiplicity — weighted
      // percentile isn't expressible with codegen'd aggregates).
      // min/max ride whichever pass runs — they are the histogram range.
      val kmad =
        if (cfg.iqrSpread)
          // replica dimension PIVOTED into aggregate columns: the heavy
          // binned pass reads dt once (no ×replicas row explode) — see
          // Stats.binnedIqrStdPivotReplicas
          Stats.binnedIqrStdPivotReplicas(
            dt, Seq("k1", "k2"), "delta_t", cfg.replicas,
            // replica 0 is the real pass — multiplicity 1 BY INDEX, so the
            // expression is a plain literal (multiplicity(lit(0)) would
            // build the trivially-true `0 === 0` branch: same value, but
            // a dead xxhash subtree in codegen and a Column warn per run)
            r => if (r == 0) lit(1)
                 else multiplicity(col("n_trigger"), lit(r), cfg.seed), "kmad",
            bins = 2048, rangeOf = dt, rangeKeys = Seq("k1", "k2"))
        else {
          val fanned = fannedW
            .withColumn("__dup", explode(array_repeat(lit(1), col("m"))))
            .drop("m", "__dup")
          Stats.madStdTwoPass(
            fanned, Seq("replica", "k1", "k2"), "delta_t", "kmad",
            exact = cfg.exactMad,
            extraAggs = Seq(min(col("delta_t")).as("lo"), max(col("delta_t")).as("hi")))
        }
      // arg-min grid point per replica  [A5] — ≤ replicas+1 rows; collect
      // so the histogram pass can pre-filter dt BEFORE the replica fan-out
      val best = graft.operators.Windows.argMinPerGroup(
        kmad, Seq("replica"), Seq(col("kmad"), col("k1"), col("k2")))
        .select("replica", "k1", "k2", "kmad", "lo", "hi")
      val bestRows = best.collect()
      // no Δt rows at all (e.g. no triggers seen by both devices): yield
      // an empty result with the output schema instead of crashing in the
      // pairFilter reduce below
      if (bestRows.isEmpty) {
        import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
        val outSchema = StructType(
          best.schema.fields.filter(f => Set("replica", "k1", "k2", "kmad")(f.name)) ++
            Seq(StructField("mu", DoubleType), StructField("sigma", DoubleType),
              StructField("amplitude", DoubleType)))
        (outSchema, Array.empty[org.apache.spark.sql.Row])
      } else {
      val bestDf = spark.createDataFrame(
        java.util.Arrays.asList(bestRows: _*), best.schema)
      // Δt rows at ANY replica's best (k1, k2): 1/81 of dt survives the
      // pre-fan-out filter, so the histogram pass explodes ~nBest/81 of
      // what round 1 did
      val bestPairs = bestRows.map(r => (r.getInt(1), r.getInt(2))).distinct
      val pairFilter = bestPairs
        .map { case (a, b) => col("k1") === a && col("k2") === b }
        .reduce(_ || _)
      val bestSamples = dt.filter(pairFilter)
        .withColumn("replica", explode(sequence(lit(0), lit(cfg.replicas))))
        .withColumn("m", multiplicity(col("n_trigger"), col("replica"), cfg.seed))
        .filter(col("m") > 0)
        .join(broadcast(bestDf.select("replica", "k1", "k2", "lo", "hi")),
          Seq("replica", "k1", "k2"))
      // per-replica histogram (data-driven range, reference bins='auto'
      // style); counts are weighted by multiplicity
      val w = (col("hi") - col("lo")) / lit(cfg.histBins)
      val hist = bestSamples
        .withColumn(
          "bucket",
          least(
            greatest(floor((col("delta_t") - col("lo")) / w), lit(0L)),
            lit(cfg.histBins - 1L)))
        .groupBy("replica", "bucket")
        .agg(
          sum(col("m")).as("n"),
          first(col("lo")).as("lo"),
          first(col("hi")).as("hi"))
        .withColumn(
          "center",
          col("lo") + (col("bucket") + lit(0.5)) * (col("hi") - col("lo")) / lit(cfg.histBins))
      // Gaussian fit per replica  [N1]
      val fits = hist
        .groupBy("replica")
        .agg(FitAggregators.gaussianFit(col("center"), col("n").cast("double")).as("fit"))
        .select(
          col("replica"),
          col("fit.mu").as("mu"),
          col("fit.sigma").as("sigma"),
          col("fit.amplitude").as("amplitude"))
      val out = bestDf.join(fits, "replica")
        .select("replica", "k1", "k2", "kmad", "mu", "sigma", "amplitude")
      // materialize (≤ replicas+1 rows) inside the cache bracket
      (out.schema, out.collect())
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(lazyOut._2: _*), lazyOut._1)
  }

  /** Headline summary: σ of the real pass ± std over bootstrap replicas
    * (reference `scripts/time_resolution_beta_scan.py:338-340`).
    */
  def summarize(perReplica: DataFrame): DataFrame = {
    val real = perReplica.filter(col("replica") === 0)
      .select(col("k1"), col("k2"), col("sigma").as("time_resolution_sigma"))
    val boot = perReplica.filter(col("replica") > 0)
      .agg(stddev_samp(col("sigma")).as("sigma_error"))
    real.crossJoin(boot)
  }

  /** Voltage-sweep federation (reference `scripts/time_resolution_beta_
    * scan.py:364-421`): per-voltage [[run]] outputs assembled into the
    * jitter-vs-bias-voltage table — Jitter = σ of the real pass,
    * error = std of the bootstrap replicas' σ (`:388`, resampled fits
    * only), one row per voltage, sorted. The per-voltage frames are
    * replica-sized (≤ replicas+1 rows), so the union is driver-cheap
    * regardless of corpus size; the registry's `pipeline_tr_sweep`
    * row is the single-plan (voltage-as-data-dimension) form of this
    * same assembly.
    */
  def sweepSummarize(perVoltage: Seq[(Int, DataFrame)]): DataFrame = {
    require(perVoltage.nonEmpty, "sweepSummarize of no sub-measurements")
    perVoltage.map { case (v, perReplica) =>
      summarize(perReplica).select(
        concat(lit(v.toString), lit("V")).as("Measurement name"),
        lit(v).as("Bias voltage (V)"),
        col("time_resolution_sigma").as("Jitter (s)"),
        col("sigma_error").as("Jitter (s) error"))
    }.reduce(_.unionByName(_)).orderBy("Bias voltage (V)")
  }
}
