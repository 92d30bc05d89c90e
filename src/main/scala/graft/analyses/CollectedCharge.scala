package graft.analyses

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DetAgg
import graft.operators.Bootstrap

/** The reference's collected-charge analysis — §3's remaining entry
  * point (r12 verdict, missing item 1): accept-flag join → per-device
  * binned Langauss MPV → trigger-level bootstrap error → voltage-sweep
  * assembly → Coulomb conversion with quadrature error propagation.
  *
  * Reference trace:
  *  - `scripts/collected_charge_beta_scan_single_voltage.py:48-126` —
  *    accepted-trigger filter (clean_beta_scan flags joined on
  *    n_trigger, accept-all when absent), then per bootstrap iteration
  *    and device a binned langauss fit whose x_mpv is the collected
  *    charge; iteration 0 is the original data, iterations ≥ 1 resample
  *    triggers with replacement.
  *  - `scripts/collected_charge_vs_bias_voltage_beta_scan.py:38-85` —
  *    per (voltage, device): value_on_data / mean / std / median /
  *    MAD_std over the iteration x_mpv values, sorted by bias voltage;
  *    then `Collected charge (C) = median · factor_mean` with
  *    `std_C = sqrt((MAD_std·f_mean)² + (median·f_std)²)`
  *    (`create_calibration_for_Coulomb_conversion_in_beta_setup.py`).
  *
  * Spark-first shape (the flagship_time_resolution discipline):
  *  - the reference's 12-pass bootstrap driver loop is a `replica` DATA
  *    dimension — multiplicities are a pure hash of (trigger, replica),
  *    computed inline as a WEIGHT column, so the sample is never
  *    physically duplicated and the whole sweep is ONE lazy plan;
  *  - the MPV is the closed-form peak-bin estimate (the
  *    `n2_langauss_fwhm` tier) — the seed the reference's iterative
  *    langauss fit polishes — making every stage portable ANSI
  *    arithmetic and the end-to-end pipeline hash-exact against a
  *    DuckDB oracle (the iterative fit is
  *    [[graft.fit.FitAggregators.langaussFitCert]], which the
  *    `n2_langauss_fit` row runs and certifies);
  *  - median/MAD over the replica MPVs are exact rank-selected
  *    medians — the bit-portable (a+b)/2 window chain.
  *
  * Scale shape: everything shuffles on (voltage, device, replica) or
  * aggregates with map-side partials; the only windows run over
  * replica-sized groups (≤ replicas+1 rows). At 100 TB the charge fan
  * is the one large relation and it is touched exactly twice (bounds,
  * histogram), both as hash aggregates.
  */
object CollectedCharge {

  val DefaultReplicas = 8
  val DefaultBins = 50

  /** Accept-flag join (`collected_charge_beta_scan_single_voltage.py:
    * 48-57`): left-join per-trigger accept flags; a trigger absent from
    * the flag relation is ACCEPTED (the reference accepts all triggers
    * when clean_beta_scan never ran). Broadcast when flags are small;
    * at scale this is a key-to-key left join on the trigger.
    */
  def acceptFilter(measured: DataFrame, flags: DataFrame,
      triggerCol: String = "n_trigger"): DataFrame =
    measured.join(flags, Seq(triggerCol), "left")
      .filter(coalesce(col("accepted"), lit(true)))
      .drop("accepted")

  /** Bootstrap fan: one row per (input row, replica 0..replicas) with a
    * portable Poisson(1) multiplicity `m` keyed on the TRIGGER (not the
    * row) — every device row of one trigger shares m, preserving the
    * reference's per-trigger resampling pairing. Replica 0 is the real
    * pass (m = 1). Rows with m = 0 are dropped.
    */
  def fanReplicas(df: DataFrame, triggerCol: String, replicas: Int): DataFrame =
    df.withColumn("replica", explode(sequence(lit(0), lit(replicas))))
      .withColumn(
        "m",
        when(col("replica") === 0, 1).otherwise(
          Bootstrap.portableMultiplicity(
            Bootstrap.replicaKey(col(triggerCol), col("replica")))))
      .filter(col("m") > 0)

  /** Shared bucket/MPV texts (both dialects): data-driven [lo, hi]
    * histogram of `bins` cells, peak-bin center as the MPV estimate.
    * When the charge column is integer-valued, (2·bucket+1)·(hi−lo)/100
    * lands on the centi-unit decimal grid, so downstream decimal casts
    * round identically in both engines (the flagship's picosecond
    * discipline).
    */
  def bucketText(charge: String, bins: Int): String = {
    // shared text runs verbatim in BOTH dialects, so the charge column
    // must be a plain identifier (backticks are Spark-only, double
    // quotes DuckDB-only — neither quoting survives the other engine)
    require(charge.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"bucketText: charge column '$charge' must be a bare identifier " +
        "(alias unit-bearing names before the histogram stage)")
    s"CAST(LEAST(GREATEST(FLOOR(($charge - lo) / ((hi - lo) / ${bins}.0e0)), 0), " +
      s"${bins - 1}) AS BIGINT)"
  }

  def mpvText(bins: Int): String =
    s"lo + (bucket + 5.0e-1) * (hi - lo) / ${bins}.0e0"

  /** Rank-selected median hit: the (a+b)/2 bit-portable median (house
    * discipline — `AnalysisQueries.flagshipCaruana`).
    */
  def medianSel(v: String, rn: String = "rn", n: String = "n"): String =
    s"CASE WHEN $rn = CAST(FLOOR(($n + 1) / 2.0e0) AS BIGINT) " +
      s"OR $rn = CAST(FLOOR(($n + 2) / 2.0e0) AS BIGINT) THEN $v END"

  /** Per (keys, replica) closed-form MPV: weighted histogram over the
    * group's own [min, max] charge range, peak bucket (count DESC,
    * bucket ASC tie-break) → bin center. `fan` must carry `replica` and
    * `m` ([[fanReplicas]]); the group bounds relation is tiny
    * (|keys|·(replicas+1) rows) and broadcast back onto the fan.
    * In-plan guard: a degenerate group (lo = hi — a constant charge
    * column) cannot be histogrammed and raises loudly.
    */
  def mpvPerReplica(fan: DataFrame, keys: Seq[String], chargeCol: String,
      bins: Int = DefaultBins): DataFrame = {
    val gk = keys :+ "replica"
    val bounds = fan.groupBy(gk.map(col): _*)
      .agg(min(col(chargeCol)).as("lo"), max(col(chargeCol)).as("hi"))
      .filter(assert_true(
        col("lo") < col("hi"),
        lit("mpvPerReplica: constant charge in a group (lo = hi) — " +
          "no histogram range; widen the group or check the input")).isNull)
    val hist = fan.join(broadcast(bounds), gk)
      .withColumn("bucket", expr(bucketText(chargeCol, bins)))
      .groupBy((gk :+ "bucket").map(col): _*)
      .agg(sum(col("m")).as("cnt"), min("lo").as("lo"), min("hi").as("hi"))
    hist
      .withColumn(
        "prn",
        row_number().over(
          Window.partitionBy(gk.map(col): _*).orderBy(col("cnt").desc, col("bucket"))))
      .filter(col("prn") === 1)
      .select(gk.map(col) :+ expr(mpvText(bins)).as("mpv"): _*)
  }

  /** Sweep statistics over the replica MPVs, per `keys` (reference
    * `collected_charge_vs_bias_voltage_beta_scan.py:49-59`):
    * value_on_data (replica 0), mean, std (sample), median, MAD_std.
    * The reference calls scipy `median_abs_deviation` with its DEFAULT
    * scale=1.0 here (`:54` — it does NOT route through utils.kMAD), so
    * despite the "_std" name the column is the RAW median absolute
    * deviation; we match that quirk (r13 advice). Mean/std ride DetAgg
    * decimals; median and
    * MAD are exact rank-selected — the groups are replica-sized, so the
    * window chain never sees more than replicas+1 rows per key.
    */
  def sweepOverReplicas(mpvs: DataFrame, keys: Seq[String]): DataFrame = {
    val pw = Window.partitionBy(keys.map(col): _*)
    val byMpv = pw.orderBy(col("mpv"))
    val sel = medianSel("mpv")
    val aSel = medianSel("adev", rn = "arn")
    val ranked = mpvs
      .withColumn("rn", row_number().over(byMpv))
      .withColumn("n", count(lit(1)).over(pw))
      .withColumn("med", sum(expr(sel)).over(pw) / count(expr(sel)).over(pw))
      .withColumn("adev", abs(col("mpv") - col("med")))
      .withColumn("arn", row_number().over(pw.orderBy(col("adev"))))
    ranked.groupBy(keys.map(col): _*).agg(
      max(when(col("replica") === 0, col("mpv"))).as("value_on_data"),
      DetAgg.davg(col("mpv")).as("mean"),
      round(DetAgg.dstd(col("mpv")), 6).as("std"),
      max(col("med")).as("median"),
      (sum(expr(aSel)) / count(expr(aSel))).as("mad_std"))
  }

  /** Coulomb conversion + P7 quadrature error (reference
    * `collected_charge_vs_bias_voltage_beta_scan.py:82-85`): the
    * converted charge is median · f_mean; its error folds the MPV
    * spread and the factor uncertainty in quadrature. `factor` is a
    * 1-row (fm, fs) relation, broadcast.
    */
  def coulombConvert(sweep: DataFrame, factor: DataFrame): DataFrame =
    sweep.crossJoin(broadcast(factor))
      .withColumn("charge_c", col("median") * col("fm"))
      .withColumn(
        "charge_c_std",
        sqrt((col("mad_std") * col("fm")) * (col("mad_std") * col("fm"))
          + (col("median") * col("fs")) * (col("median") * col("fs"))))
      .drop("fm", "fs")
}
