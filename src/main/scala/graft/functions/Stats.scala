package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Statistical kernels from the reference's pandas/scipy surface
  * (SURVEY §2.5): MAD_std (reference `scripts/utils.py:140-141`), the
  * `mean_std` wide-aggregate (reference `scripts/utils.py:118-146`),
  * histogram binning (reference `scripts/clean_beta_scan.py:65-72`) and
  * ECDF (reference `scripts/clean_beta_scan.py:212-220`).
  */
object Stats {

  /** scipy's MAD→σ factor as hard-coded in the reference
    * (`scripts/utils.py:7`).
    */
  val MadToStd = 1.4826

  /** Exact median with linear interpolation on an unsorted buffer —
    * matches DuckDB's `quantile_cont(0.5)`: for even n,
    * `a + (b - a) * 0.5`.
    */
  def medianInPlace(xs: ArrayBuffer[Double]): Double = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    val n = a.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) a(n / 2)
    else a(n / 2 - 1) + (a(n / 2) - a(n / 2 - 1)) * 0.5
  }

  /** Exact MAD_std aggregate: `median(|x - median(x)|) * 1.4826`, nulls and
    * NaNs dropped (scipy `nan_policy='omit'`). A buffering
    * [[Aggregator]] — exact and single-pass over the shuffle, sound while
    * per-GROUP cardinality is bounded (reference groups are ≤10⁵ rows;
    * SURVEY §2.5 A2). For huge groups [[meanStd]] computes the same value
    * in two codegen'd median passes — the scale axis is the number of
    * groups, which distributes freely.
    */
  class MadStdAgg extends Aggregator[java.lang.Double, ArrayBuffer[Double], Double] {
    def zero: ArrayBuffer[Double] = ArrayBuffer.empty
    def reduce(b: ArrayBuffer[Double], x: java.lang.Double): ArrayBuffer[Double] = {
      if (x != null && !x.isNaN) b += x.doubleValue()
      b
    }
    def merge(b1: ArrayBuffer[Double], b2: ArrayBuffer[Double]): ArrayBuffer[Double] = b1 ++= b2
    def finish(b: ArrayBuffer[Double]): Double = {
      if (b.isEmpty) return Double.NaN
      val m = medianInPlace(b)
      medianInPlace(b.map(x => math.abs(x - m))) * MadToStd
    }
    def bufferEncoder: Encoder[ArrayBuffer[Double]] = Encoders.kryo[ArrayBuffer[Double]]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** `mad_std(col)` as a Column aggregate. */
  def madStd(c: Column): Column =
    udaf(new MadStdAgg(), Encoders.DOUBLE).apply(c)

  /** Φ⁻¹(0.75) − Φ⁻¹(0.25): IQR of a standard normal. */
  val IqrToStd = 1.3489795003921634

  /** Weighted micro-bin IQR spread per (keys, replica) for a bootstrap
    * fan-out — the CODEGEN quantile tier for huge weighted groups (the
    * flagship's bootstrap multiplicity rides as a weight, so the sample
    * is never physically duplicated). Replica `r`'s weight on a row is
    * `mult(r)`, for `r` in `0 to replicas`.
    *
    * The replica dimension is PIVOTED into aggregate columns instead of
    * exploded into rows. The heavy binned pass runs over the UN-FANNED
    * frame: one codegen'd hash-agg, keyed on (keys, bucket), with
    * 3·(replicas+1) aggregate columns (weighted count and per-replica
    * min/max). No sketch objects, no ObjectHashAggregate. The replica
    * dimension is then restored by unpivoting the tiny (groups × bins)
    * result, and window cumsums over it interpolate q25/q75 inside their
    * buckets. At 34 replicas this is a 34× cut of hash-agg input rows;
    * the multiplicity expression is evaluated per (row, replica) either
    * way. Resolution is range/bins per group — far beyond what RANKING
    * groups needs. Bin ranges come from `rangeOf` grouped by `rangeKeys`
    * (a cheaper, possibly coarser frame than `df`), which must be a
    * subset of `keys`.
    *
    * Output: (keys..., replica, out, lo, hi), one row per (group,
    * replica) with positive total weight. `lo`/`hi` are the exact min/max
    * of the rows that replica sampled — callers use them as downstream
    * histogram ranges.
    */
  def binnedIqrStdPivotReplicas(
      df: DataFrame,
      keys: Seq[String],
      value: String,
      replicas: Int,
      mult: Int => Column, // replica index -> per-row multiplicity
      out: String,
      bins: Int,
      rangeOf: DataFrame,
      rangeKeys: Seq[String]): DataFrame = {
    require(
      rangeKeys.forall(keys.contains),
      s"rangeKeys must be a subset of keys (rangeKeys=$rangeKeys, keys=$keys)")
    val gr = rangeOf.groupBy(rangeKeys.map(col): _*)
      .agg(min(col(value)).as("__glo"), max(col(value)).as("__ghi"))
    val width = (col("__ghi") - col("__glo")) / lit(bins)
    val wSafe = when(col("__ghi") > col("__glo"), width).otherwise(lit(1.0))
    val bucket = least(
      greatest(floor((col(value) - col("__glo")) / wSafe), lit(0L)),
      lit(bins - 1L))
    val rs = 0 to replicas
    val aggs = rs.flatMap { r =>
      val m = mult(r)
      Seq(
        sum(m).as(s"__n$r"),
        min(when(m > 0, col(value))).as(s"__bmin$r"),
        max(when(m > 0, col(value))).as(s"__bmax$r"))
    }
    val pivoted = df.join(broadcast(gr), rangeKeys)
      .groupBy((keys.map(col) :+ col("__glo") :+ col("__ghi") :+ bucket.as("__b")): _*)
      .agg(aggs.head, aggs.tail: _*)
    // restore the replica dimension over the tiny binned table; drop
    // (replica, bucket) cells the replica never sampled — the exploded
    // form never produced them
    val unpivoted = pivoted
      .select(
        (keys.map(col) :+ col("__glo") :+ col("__ghi") :+ col("__b") :+
          explode(array(rs.map(r => struct(
            lit(r).as("replica"),
            col(s"__n$r").as("__n"),
            col(s"__bmin$r").as("__bmin"),
            col(s"__bmax$r").as("__bmax"))): _*)).as("__r")): _*)
      .select(
        (keys.map(col) :+ col("__r.replica").as("replica") :+ col("__glo") :+
          col("__ghi") :+ col("__b") :+ col("__r.__n").as("__n") :+
          col("__r.__bmin").as("__bmin") :+ col("__r.__bmax").as("__bmax")): _*)
      .filter(col("__n") > 0)
    iqrInterpolate(unpivoted, keys :+ "replica", out, bins)
  }

  private def iqrInterpolate(
      binned: DataFrame,
      keys: Seq[String],
      out: String,
      bins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val width = (col("__ghi") - col("__glo")) / lit(bins)
    val wSafe = when(col("__ghi") > col("__glo"), width).otherwise(lit(1.0))
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy("__b")
    val wAll = Window.partitionBy(keys.map(col): _*)
    val c = binned
      .withColumn("__cum", sum("__n").over(wOrd))
      .withColumn("__tot", sum("__n").over(wAll))
      .withColumn("__cumBefore", col("__cum") - col("__n"))
    // exactly one bucket per group straddles each target rank (cum is
    // strictly increasing over present buckets), so max() just selects it
    def qv(q: Double): Column =
      when(
        col("__cum") >= lit(q) * col("__tot") && col("__cumBefore") < lit(q) * col("__tot"),
        col("__glo") + col("__b") * wSafe
          + ((lit(q) * col("__tot") - col("__cumBefore")) / col("__n")) * wSafe)
    c.withColumn("__q25", qv(0.25))
      .withColumn("__q75", qv(0.75))
      .groupBy(keys.map(col): _*)
      .agg(
        max("__q25").as("__q25"),
        max("__q75").as("__q75"),
        min("__bmin").as("lo"),
        max("__bmax").as("hi"),
        first("__glo").as("__glo"),
        first("__ghi").as("__ghi"))
      .withColumn(
        out,
        when(col("__ghi") > col("__glo"),
          (col("__q75") - col("__q25")) / lit(IqrToStd)).otherwise(lit(0.0)))
      .drop("__q25", "__q75", "__glo", "__ghi")
  }

  /** Two-sample Kolmogorov–Smirnov statistic: max |F₁(v) − F₂(v)| over
    * distinct values (the tie-correct form: ECDFs evaluated after all
    * equal values). One hash-agg per distinct value, then cumulative
    * counts — computed SHARDED, never as a global one-partition window:
    * the distinct-values relation is range-sharded by the monotone top
    * bits of the value's IEEE-754 sortable-long view
    * ([[graft.plans.DoubleSortableBits]], the double-key analogue of
    * [[graft.operators.Sampling]]'s sharded prefix tiers), per-shard
    * totals take one tiny window over ≤ 2^shardBits rows, their
    * exclusive prefix broadcasts back, and the cumulative finishes with
    * per-SHARD windows only. Continuous values at 100 TB — where the
    * distinct-value relation approaches corpus size — keep ~uniform
    * shards for free because the top bits of the sortable view follow
    * the value distribution's own spread; a global sort never exists in
    * the plan. Sample totals ride a broadcast 1-row aggregate instead of
    * an unpartitioned `sum over ()`.
    *
    * Output: one row, `ks` double. Deterministic under ANY partitioning:
    * cumulative counts are exact integer sums (association-free), and
    * the final max-of-|difference| is over the same IEEE division and
    * subtraction in any engine and any order — oracle-comparable
    * unrounded, bit-equal to the single-window form it replaced.
    */
  def ks2Samp(
      df: DataFrame,
      value: String,
      inSample1: Column,
      shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val g = df.groupBy(col(value).as("__v"))
      .agg(
        sum(when(inSample1, 1L).otherwise(0L)).as("__c1"),
        sum(when(inSample1, 0L).otherwise(1L)).as("__c2"))
    // monotone shard index: cast→double is monotone for any numeric __v,
    // sortable-bits is monotone in the double, arithmetic >> keeps the
    // signed order; +2^(bits-1) maps it into [0, 2^bits). A null value
    // sorts first under the window form's ASC NULLS FIRST — shard -1
    // reproduces that.
    val keyed = g.withColumn(
      "__shard",
      when(col("__v").isNull, lit(-1L)).otherwise(
        shiftright(
          graft.plans.ScalarExpressions.sortableBits(col("__v").cast("double")),
          64 - shardBits) + lit(1L << (shardBits - 1))))
    // exclusive prefix of per-shard totals: a window over ≤ 2^shardBits
    // rows (bounded by construction, same shape as the sampling kernel's
    // offsets relation). The constant-valued partition key marks the
    // single partition as DELIBERATE: WindowExec only logs its
    // single-partition hazard warning for an empty partition spec, and a
    // bounded ≤4096-row prefix window is not a hazard (key contract:
    // [[graft.plans.ScalarExpressions.singlePartitionKey]]).
    val wOff = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    // the grand totals are NOT a third expansion of `g` (they used to be
    // a separate aggregate + crossJoin): the shard-sums relation already
    // holds every count once, so __n1/__n2 ride a whole-frame window
    // over the same single partition the offset prefix window uses and
    // arrive through the existing broadcast join (the r15
    // cumulativeCounts fold).
    val wAll = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
    val offsets = keyed.groupBy("__shard")
      .agg(sum("__c1").as("__s1"), sum("__c2").as("__s2"))
      .select(
        col("__shard").as("__oshard"),
        coalesce(sum("__s1").over(wOff), lit(0L)).as("__b1"),
        coalesce(sum("__s2").over(wOff), lit(0L)).as("__b2"),
        sum("__s1").over(wAll).as("__n1"),
        sum("__s2").over(wAll).as("__n2"))
    val wCum = Window.partitionBy("__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    keyed.join(broadcast(offsets), col("__shard") === col("__oshard"))
      .withColumn("__r1", col("__b1") + sum("__c1").over(wCum))
      .withColumn("__r2", col("__b2") + sum("__c2").over(wCum))
      .agg(max(abs(
        col("__r1").cast("double") / col("__n1")
          - col("__r2").cast("double") / col("__n2"))).as("ks"))
  }

  /** One-sample Kolmogorov–Smirnov statistic against the FITTED normal
    * N(μ̂, σ̂) — the normality gate ([[ks2Samp]] compares two empirical
    * samples; this compares one against a theoretical CDF — the
    * pre-flight check before any z-score/Grubbs-style analysis trusts
    * its Gaussian assumption). D = max over the ECDF steps of
    * max(F̂(v) − Φ(z), Φ(z) − F̂(v⁻)) — BOTH sides of each step, the
    * textbook definition. Φ rides the shared Abramowitz–Stegun erf text
    * ([[graft.fit.ClosedForm.normalCdfText]] — the Acklam-probit
    * discipline), μ̂/σ̂ the exact-moment formula (the Grubbs contract),
    * the ECDF the [[ks2Samp]] sharded cumulative kernel, and D carries
    * the round-6 tail that absorbs EXP's last-ulp.
    */
  def ks1Samp(df: DataFrame, value: String, shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val src = df.filter(col(value).isNotNull)
      .select(col(value).cast("double").as("__v"))
    val g = src.groupBy("__v").agg(count(lit(1)).as("__c"))
    // moments from the distinct-value relation (r15): dsumW is
    // bit-identical to dsum over the exploded rows (the davgW lemma), so
    // the separate full-row moment pass is gone and every consumer of
    // `g` shares one identical groupBy exchange (runtime exchange reuse:
    // one scan+aggregate instead of two full passes).
    val m = g.agg(
      sum("__c").as("__n"),
      DetAgg.dsumW(col("__v"), col("__c")).as("__sx"),
      DetAgg.dsumW(col("__v") * col("__v"), col("__c")).as("__sxx"))
    val stats = m.select(
      col("__n"),
      (col("__sx") / col("__n")).as("__mean"),
      sqrt((col("__sxx") - col("__sx") * col("__sx") / col("__n"))
        / (col("__n") - lit(1))).as("__std"))
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__shard")
      .agg(sum("__c").as("__s"))
      .select(
        col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"))
    val wCum = Window.partitionBy("__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val phi = expr(
      graft.fit.ClosedForm.normalCdfText("((__v - __mean) / __std)"))
    keyed.join(broadcast(offsets), col("__shard") === col("__oshard"))
      .withColumn("__cum", col("__b") + sum("__c").over(wCum))
      .crossJoin(broadcast(stats))
      .groupBy(col("__n"), col("__mean"), col("__std"))
      .agg(round(max(greatest(
        col("__cum").cast("double") / col("__n") - phi,
        phi - (col("__cum") - col("__c")).cast("double") / col("__n"))), 6)
        .as("ks_d"))
      .select(
        col("__n").as("n"), col("__mean").as("mean"),
        col("__std").as("std"), col("ks_d"))
  }

  /** Kuiper statistic against the FITTED normal N(μ̂, σ̂) — the
    * tail/shift-sensitive sibling of [[ks1Samp]] (Kuiper 1960): where KS
    * takes the single supremum of |F̂ − Φ|, Kuiper reports
    * `V = D⁺ + D⁻` with `D⁺ = sup(F̂ − Φ)` and `D⁻ = sup(Φ − F̂(v⁻))`
    * taken SEPARATELY, so a distribution shifted symmetrically (one
    * tail up, one tail down) that KS half-misses shows at full
    * strength — the drift screen of choice for cyclic or
    * location-shifted quantities. Both sups are order-free maxes, so
    * the statistic inherits [[ks2Samp]]'s partitioning-independence for
    * free: no transcendental SUM anywhere (the reason the
    * integral-type GOF statistics — Anderson–Darling, Cramér–von
    * Mises — are NOT offered hash-exact: their Σ w·ln Φ term is an
    * order-dependent double sum no decimal grid can carry without
    * changing the value; a sup-type statistic has no such term).
    *
    * Same machinery as [[ks1Samp]]: exact-moment μ̂/σ̂ (the Grubbs
    * contract), the sharded distinct-value cumulative (no corpus-wide
    * window), Φ as the shared Abramowitz–Stegun text. D⁺/D⁻ carry the
    * round-6 tail that absorbs EXP's last-ulp; V = round(D⁺) + round(D⁻)
    * is a grid-exact sum of two scale-6 values.
    */
  def kuiper1Samp(df: DataFrame, value: String, shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val src = df.filter(col(value).isNotNull)
      .select(col(value).cast("double").as("__v"))
    val g = src.groupBy("__v").agg(count(lit(1)).as("__c"))
    // moments from the distinct-value relation (r15): dsumW is
    // bit-identical to dsum over the exploded rows (the davgW lemma), so
    // the separate full-row moment pass is gone and every consumer of
    // `g` shares one identical groupBy exchange (runtime exchange reuse:
    // one scan+aggregate instead of two full passes).
    val m = g.agg(
      sum("__c").as("__n"),
      DetAgg.dsumW(col("__v"), col("__c")).as("__sx"),
      DetAgg.dsumW(col("__v") * col("__v"), col("__c")).as("__sxx"))
    val stats = m.select(
      col("__n"),
      (col("__sx") / col("__n")).as("__mean"),
      sqrt((col("__sxx") - col("__sx") * col("__sx") / col("__n"))
        / (col("__n") - lit(1))).as("__std"))
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__shard")
      .agg(sum("__c").as("__s"))
      .select(
        col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"))
    val wCum = Window.partitionBy("__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val phi = expr(
      graft.fit.ClosedForm.normalCdfText("((__v - __mean) / __std)"))
    keyed.join(broadcast(offsets), col("__shard") === col("__oshard"))
      .withColumn("__cum", col("__b") + sum("__c").over(wCum))
      .crossJoin(broadcast(stats))
      .groupBy(col("__n"), col("__mean"), col("__std"))
      .agg(
        round(max(col("__cum").cast("double") / col("__n") - phi), 6)
          .as("d_plus"),
        round(max(phi - (col("__cum") - col("__c")).cast("double") / col("__n")), 6)
          .as("d_minus"))
      .select(
        col("__n").as("n"), col("__mean").as("mean"),
        col("__std").as("std"), col("d_plus"), col("d_minus"),
        (col("d_plus") + col("d_minus")).as("kuiper_v"))
  }

  /** Decile concentration report on the sharded cumulative kernel — the
    * Lorenz-curve table behind [[trimmedMean]]'s algebra generalized to
    * all ten rank slices: slice d covers ranks ((d−1)·n div 10,
    * d·n div 10], a straddling distinct value contributes its exact
    * multiplicity to each side, per-slice sums are exact decimal
    * products, and the share is one IEEE division against the exact
    * total. The concentration table pairs with the scalar inequality
    * indices (Gini, Theil) — "the top decile carries X % of value" is
    * the actionable form. Hash-exact unrounded.
    */
  def decileReport(df: DataFrame, value: String, shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val grid = spark.createDataFrame((1 to 10).map(Tuple1(_))).toDF("decile")
    val cum = cumulativeCounts(df, value, shardBits)
    val lo = expr("(decile - 1) * __n div 10")
    val hi = expr("decile * __n div 10")
    val kept = greatest(
      least(col("__r"), hi) - greatest(col("__r") - col("__c"), lo), lit(0L))
    // the grand total is NOT a second pass over the kernel: the ten rank
    // slices tile (0, n] exactly (lo₁ = 0, hi₁₀ = n, consecutive), so
    // Σ_d kept_d(v) = c(v) for every distinct value and the total decimal
    // sum equals the sum of the ten per-decile decimal sums — decimal
    // addition is exact, so casting that to double is bit-identical to
    // the oracle's one-shot total. A single-partition window over the
    // 10-row relation (one 10-row exchange) replaces what used to be a
    // full second expansion of the cumulative kernel (the r15 before-plan
    // carried 36 Exchanges; the duplicate subtree was half of them).
    val wTot = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("decile")))
    cum.crossJoin(broadcast(grid))
      .select(col("decile").cast("long").as("decile"), col("__v"),
        kept.as("__kept"))
      .groupBy("decile")
      .agg(
        sum("__kept").as("n_rows"),
        sum(DetAgg.dec(col("__v")) * col("__kept")).as("__dsum"))
      .select(
        col("decile"), col("n_rows"),
        col("__dsum").cast("double").as("sum_value"),
        (col("__dsum").cast("double") /
          sum(col("__dsum")).over(wTot).cast("double")).as("share"))
  }

  /** One-sample KS against the fitted EXPONENTIAL(μ̂) — the
    * Poisson-process gate for arrival data ([[ks1Samp]] asks "is it
    * normal"; this asks "are the inter-arrival times memoryless", the
    * null every queueing/traffic model starts from). Same sharded ECDF
    * kernel and both-sides-of-the-step max; the CDF is
    * `1 − exp(−v/μ̂)` — one EXP, so D carries the round-6 transcendental
    * tail. The value column must be integer-valued (inter-arrival
    * seconds): μ̂ is then an exact BIGINT-sum ratio, not a decimal
    * route.
    */
  def ks1Exp(df: DataFrame, value: String, shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val src = df.filter(col(value).isNotNull && col(value) >= 0)
      .select(col(value).cast("long").as("__l"))
      .select(col("__l").cast("double").as("__v"), col("__l"))
    // the exact longs are SUMMED through the per-value aggregate, so the
    // global mean is Σ __l / n bit-exactly even when |l| ≥ 2^53 makes two
    // distinct longs collide into one double group (r16, ADVICE item: the
    // r15 max("__l") form assumed __l was a function of the double key,
    // which fails exactly there). Below 2^53 every group's longs are
    // equal, so Σ per-group sums ≡ Σ __l·__c — the same exact BIGINT sum,
    // bounded by the global sum that already fit; the moment pass still
    // rides the distinct-value relation instead of a second row pass.
    val g = src.groupBy("__v")
      .agg(count(lit(1)).as("__c"), sum("__l").as("__sl"))
    val stats = g.agg(
      sum("__c").as("__n"),
      (sum(col("__sl")).cast("double") / sum("__c")).as("__mean"))
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__shard")
      .agg(sum("__c").as("__s"))
      .select(
        col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"))
    val wCum = Window.partitionBy("__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cdf = lit(1.0) - exp(-(col("__v") / col("__mean")))
    keyed.join(broadcast(offsets), col("__shard") === col("__oshard"))
      .withColumn("__cum", col("__b") + sum("__c").over(wCum))
      .crossJoin(broadcast(stats))
      .groupBy(col("__n"), col("__mean"))
      .agg(round(max(greatest(
        col("__cum").cast("double") / col("__n") - cdf,
        cdf - (col("__cum") - col("__c")).cast("double") / col("__n"))), 6)
        .as("ks_d"))
      .select(col("__n").as("n"), col("__mean").as("mean"), col("ks_d"))
  }

  /** α-trimmed mean on the sharded cumulative kernel — the robust
    * location estimate between the mean (α = 0) and the median
    * (α → 0.5), standard for metric aggregation under heavy tails.
    * Type-1 trimming: exactly k = ⌊α·n⌋ observations drop from EACH end
    * by rank; a distinct value straddling the cut contributes its exact
    * surviving multiplicity `min(r, n−k) − max(r−c, k)` (clamped ≥ 0) —
    * pure integer arithmetic on the cumulative counts, no global sort.
    * The trimmed sum is an exact decimal product sum (value decimal ×
    * integer multiplicity), so the mean is ONE division — hash-exact
    * unrounded.
    */
  def trimmedMean(
      df: DataFrame,
      value: String,
      alpha: Double,
      shardBits: Int = 12): DataFrame = {
    require(alpha >= 0.0 && alpha < 0.5, s"alpha $alpha out of [0, 0.5)")
    val cum = cumulativeCounts(df, value, shardBits)
    val k = floor(lit(alpha) * col("__n")).cast("long")
    val kept = greatest(
      least(col("__r"), col("__n") - k) - greatest(col("__r") - col("__c"), k),
      lit(0L))
    cum
      .select(col("__v"), col("__n"), kept.as("__kept"))
      .groupBy(col("__n").as("n"))
      .agg(
        (sum(DetAgg.dec(col("__v")) * col("__kept")).cast("double")
          / sum(col("__kept"))).as("trimmed_mean"),
        max(floor(lit(alpha) * col("__n")).cast("long")).as("k_trimmed"))
      .select(col("n"), col("k_trimmed"), col("trimmed_mean"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between two slices of a value
    * column — the nonparametric LOCATION test completing the two-sample
    * family ([[ks2Samp]] shape-sensitive, [[psi]] binned, this one "did
    * the median move"), with the normal approximation's tie-corrected z.
    *
    * Arithmetic is integer until the last step: average ranks with ties
    * are carried DOUBLED (`2·rank_sum₁ = Σ c₁·(2r − c + 1)` — every
    * quantity exact in 64 bits), the tie term is `Σ c³ − c`, and U/z are
    * a fixed IEEE sequence over those exact integers (the
    * [[DetAgg.dstd]] contract: no rounding needed for cross-engine
    * bit-parity).
    *
    * Scale shape: identical to [[ks2Samp]] — distinct-value relation,
    * range-sharded by the monotone sortable-bits index, per-shard
    * cumulative windows, a ≤ 2^shardBits-row broadcast offsets relation.
    * No corpus-wide window anywhere; ties (however heavy) collapse into
    * the distinct-value relation before any window runs. Nulls are
    * excluded: a rank test has no order position for a valueless row.
    */
  def mannWhitneyU(
      df: DataFrame,
      value: String,
      inSample1: Column,
      shardBits: Int = 12): DataFrame = {
    val t = rankSumMoments(df, value, inSample1, shardBits)
    // fixed IEEE sequence over exact integers — keep this text in lock
    // step with the SQL mirror in ProfileQueries.stat_mannwhitney
    t.select(
      col("__n1").as("n1"), col("__n2").as("n2"),
      ((col("__r2x") - col("__n1") * (col("__n1") + lit(1))).cast("double") / lit(2.0)).as("u"),
      (((col("__r2x") - col("__n1") * (col("__n1") + lit(1))).cast("double") / lit(2.0)
        - col("__n1").cast("double") * col("__n2").cast("double") / lit(2.0))
        / sqrt(
          col("__n1").cast("double") * col("__n2").cast("double") / lit(12.0)
            * ((col("__n1").cast("double") + col("__n2").cast("double") + lit(1.0))
              - col("__tt").cast("double")
                / ((col("__n1").cast("double") + col("__n2").cast("double"))
                  * (col("__n1").cast("double") + col("__n2").cast("double") - lit(1.0))))))
        .as("z"))
  }

  /** Kendall τ-b between two BOUNDED-CARDINALITY columns (categorical /
    * discretized; continuous inputs get bucketed first): concordant and
    * discordant pair mass from the JOINT distinct relation
    * (≤ |X|·|Y| rows), never from row pairs — one strict `x_a < x_b`
    * broadcast pair join over that bounded relation. Tie terms ride
    * DOUBLED (`Σ c·(c−1)`, always even — exact BIGINT), so everything
    * is integer until the single fixed IEEE tail
    * `(C−D) / (√((n(n−1)−n1·2)/2) · √((n(n−1)−n2·2)/2))`.
    */
  def kendallTau(df: DataFrame, x: String, y: String): DataFrame = {
    val j = df
      .filter(col(x).isNotNull && col(y).isNotNull)
      .groupBy(col(x).cast("double").as("__x"), col(y).cast("double").as("__y"))
      .agg(count(lit(1)).as("__c"))
    val a = j.select(col("__x").as("__xa"), col("__y").as("__ya"), col("__c").as("__ca"))
    val b = j.select(col("__x").as("__xb"), col("__y").as("__yb"), col("__c").as("__cb"))
    val p = a.join(broadcast(b), col("__xa") < col("__xb"))
      .agg(
        sum(when(col("__ya") < col("__yb"), col("__ca") * col("__cb")).otherwise(0L))
          .as("conc"),
        sum(when(col("__ya") > col("__yb"), col("__ca") * col("__cb")).otherwise(0L))
          .as("disc"))
    val tx = j.groupBy("__x").agg(sum("__c").as("__cx"))
      .agg(sum(col("__cx") * (col("__cx") - 1)).as("__n1x2"))
    val ty = j.groupBy("__y").agg(sum("__c").as("__cy"))
      .agg(sum(col("__cy") * (col("__cy") - 1)).as("__n2x2"))
    val t = j.agg(sum("__c").as("n"))
    // fixed IEEE tail — keep in lock step with the SQL mirror in
    // ProfileQueries.stat_kendall
    t.crossJoin(broadcast(p)).crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select(
        col("n"), col("conc"), col("disc"),
        ((col("conc") - col("disc")).cast("double")
          / (sqrt((col("n") * (col("n") - 1) - col("__n1x2")).cast("double") / lit(2.0))
            * sqrt((col("n") * (col("n") - 1) - col("__n2x2")).cast("double") / lit(2.0))))
          .as("tau_b"))
  }

  /** Theil–Sen robust slope of `y` against `x` over the [[kendallTau]]
    * bounded-cardinality joint relation: pairwise slopes between
    * distinct (x, y) cells with `x_a < x_b`, each weighted by its pair
    * mass `n_a·n_b`, and the weighted MEDIAN of slopes on the
    * [[weightedMedian]] stratified sharded kernel. Never row pairs; the
    * `when` guard on the division matters under ANSI (the median
    * kernel's isNotNull filter pushes the slope expression into the
    * join condition, where it would otherwise hit `x_a = x_b` pairs).
    * Returns one row: (n_pairs, theil_slope).
    */
  def theilSen(df: DataFrame, x: String, y: String): DataFrame = {
    val j = df
      .filter(col(x).isNotNull && col(y).isNotNull)
      .groupBy(col(x).cast("double").as("__x"), col(y).cast("double").as("__y"))
      .agg(count(lit(1)).as("__c"))
    val a = j.select(col("__x").as("__xa"), col("__y").as("__ya"), col("__c").as("__ca"))
    val b = j.select(col("__x").as("__xb"), col("__y").as("__yb"), col("__c").as("__cb"))
    val p = a.join(broadcast(b), col("__xa") < col("__xb"))
      .select(
        when(col("__xb") > col("__xa"),
          (col("__yb") - col("__ya")) / (col("__xb") - col("__xa"))).as("__slope"),
        (col("__ca") * col("__cb")).as("__w"),
        lit("all").as("__g"))
    val med = weightedMedian(p, "__g", "__slope", col("__w"))
      .select(col("wmed___slope").as("theil_slope"))
    p.agg(sum("__w").as("n_pairs")).crossJoin(broadcast(med))
  }

  /** Truncated, adjust-normalized EWMA (α = ½) of an integer bucket
    * series: `ewma_t = Σ_j x_{t−j}·2^(lags−1−j) / Σ_j 2^(lags−1−j)` over
    * the lags PRESENT in the series (weights beyond 2^−lags are the
    * documented truncation contract), so leading buckets and gaps
    * normalize by what was actually observed. WINDOWLESS: a broadcast
    * `lags`-row literal weight grid, an equi-join on `bucket − j`, one
    * hash aggregate — numerator and denominator are exact BIGINT sums,
    * the only float op is the final division. Input `x` must be an
    * integer column; headroom is `x·2^(lags−1)·lags < 2⁶³`.
    */
  def ewmaTrunc(
      series: DataFrame,
      bucket: String,
      x: String,
      lags: Int = 20): DataFrame = {
    require(lags >= 1 && lags <= 62, s"lags $lags out of range")
    import series.sparkSession.implicits._
    val g = (0 until lags).map(j => (j.toLong, 1L << (lags - 1 - j))).toDF("__j", "__w")
    val t = series.select(col(bucket).as("__tb"), col(x).as("__x0"))
    val c = series.select(col(bucket).as("__cb"), col(x).as("__cx"))
    t.crossJoin(broadcast(g))
      .join(c, col("__cb") === col("__tb") - col("__j"))
      .groupBy(col("__tb").as(bucket), col("__x0").as(x))
      .agg(
        sum(col("__cx") * col("__w")).as("__num"),
        sum(col("__w")).as("__den"))
      .select(col(bucket), col(x),
        (col("__num").cast("double") / col("__den").cast("double")).as("ewma"))
  }

  /** Shared rank-sum moment relation behind [[mannWhitneyU]] and [[auc]]:
    * one row of exact 64-bit integers — `__n1`, `__n2`, the DOUBLED
    * midrank sum of sample 1 (`__r2x = Σ c₁·(2r − c + 1)`), and the tie
    * term (`__tt = Σ c³ − c`) — computed on the [[ks2Samp]] sharded
    * cumulative kernel (distinct-value relation, monotone sortable-bits
    * shards, per-shard windows, ≤ 2^shardBits-row broadcast offsets).
    */
  private def rankSumMoments(
      df: DataFrame,
      value: String,
      inSample1: Column,
      shardBits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val g = df.filter(col(value).isNotNull).groupBy(col(value).as("__v"))
      .agg(
        sum(when(inSample1, 1L).otherwise(0L)).as("__c1"),
        sum(when(inSample1, 0L).otherwise(1L)).as("__c2"))
    // same monotone shard index + bounded offsets relation as [[ks2Samp]]
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v").cast("double")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__shard")
      .agg(sum(col("__c1") + col("__c2")).as("__s"))
      .select(
        col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"))
    val wCum = Window.partitionBy("__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = col("__c1") + col("__c2")
    val ranked = keyed.join(broadcast(offsets), col("__shard") === col("__oshard"))
      .withColumn("__r", col("__b") + sum(c).over(wCum)) // inclusive cum count
    ranked.agg(
      sum("__c1").as("__n1"),
      sum("__c2").as("__n2"),
      sum(col("__c1") * (lit(2) * col("__r") - c + lit(1))).as("__r2x"),
      sum(c * c * c - c).as("__tt"))
  }

  /** K-sample rank cells behind Kruskal–Wallis: one row per
    * (group, distinct value) with the cell count `__c`, the value's
    * total count `__ct`, and the value's inclusive cumulative count
    * `__r` — so the cell's DOUBLED midrank sum is `__c·(2·__r − __ct
    * + 1)`, every quantity an exact 64-bit integer. Ranks come off the
    * same sharded-cumulative shape as [[rankSumMoments]] (distinct-value
    * relation, monotone sortable-bits shards, per-shard windows,
    * ≤ 2^shardBits-row broadcast offsets), then the bounded ranked
    * relation equi-joins back to the (group, value) cells. No
    * group-wide or corpus-wide window; nulls in either column are
    * excluded (a rank test has no position for a valueless row).
    */
  def rankedCells(
      df: DataFrame,
      grpCol: String,
      value: String,
      shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val cells = df
      .filter(col(value).isNotNull && col(grpCol).isNotNull)
      .groupBy(col(value).cast("double").as("__v"), col(grpCol).as("__g"))
      .agg(count(lit(1)).as("__c"))
    val byV = cells.groupBy("__v").agg(sum("__c").as("__ct"))
    val keyed = byV.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__shard")
      .agg(sum("__ct").as("__s"))
      .select(
        col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"))
    val wCum = Window.partitionBy("__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = keyed
      .join(broadcast(offsets), col("__shard") === col("__oshard"))
      .withColumn("__r", col("__b") + sum("__ct").over(wCum))
      .select("__v", "__ct", "__r")
    cells.join(ranked, "__v").select("__g", "__v", "__c", "__ct", "__r")
  }

  /** ROC AUC of a score column against a binary label — the classifier
    * acceptance gate a filtering pipeline runs before trusting a quality
    * model's threshold (AUC = P(score⁺ > score⁻) + ½·P(tie), which is
    * exactly the midrank Mann–Whitney statistic: `AUC = U₁ / (n₁·n₂)`).
    * Rides [[rankSumMoments]] unchanged, so ties get the standard ½
    * credit and the whole computation is integer-exact until the final
    * two-op IEEE sequence (÷2, ÷n₁n₂) — hash-portable with no rounding.
    * Scale shape identical to [[mannWhitneyU]]: no corpus-wide window.
    */
  def auc(
      df: DataFrame,
      score: String,
      isPositive: Column,
      shardBits: Int = 12): DataFrame =
    // keep the select in lock step with the SQL mirror in
    // ProfileQueries.stat_auc
    rankSumMoments(df, score, isPositive, shardBits).select(
      col("__n1").as("n_pos"), col("__n2").as("n_neg"),
      (((col("__r2x") - col("__n1") * (col("__n1") + lit(1))).cast("double") / lit(2.0))
        / (col("__n1").cast("double") * col("__n2").cast("double"))).as("auc"))

  /** Population stability index between two slices of a value column —
    * the standard production drift monitor next to [[ks2Samp]] (PSI < 0.1
    * stable, > 0.25 shifted). Fixed-range equi-width bucketing from a
    * broadcast 1-row min/max aggregate, one hash-aggregate over ≤ `bins`
    * buckets, zero-share floors at `eps` (the conventional guard for
    * empty buckets), and the final Σ (pA−pB)·ln(pA/pB) rides the
    * DetAgg decimal route so the ≤ `bins`-term sum is order-independent.
    * No window anywhere; every relation after the scan is ≤ `bins` rows.
    *
    * Null contract: rows with a null `value` are EXCLUDED before the
    * range aggregate and the bucketing — each slice's shares are over
    * its non-null rows only. (Without the filter, `floor((null−lo)/w)`
    * is null and `greatest`/`least` skip nulls, so every null row would
    * silently land in bucket 0 while still counting toward the slice
    * totals — a distorted PSI with no error. [[ks2Samp]], by contrast,
    * keeps nulls as their own group, shard −1: KS is an order statistic
    * where "null sorts first" is well-defined; PSI's equi-width buckets
    * have no place for a valueless row.)
    *
    * Output: one row, `psi` double, rounded to 6 — the same rounding
    * contract as the LM-score family, which pins ln() bit-parity between
    * engines in practice.
    */
  def psi(
      df: DataFrame,
      value: String,
      inSliceA: Column,
      bins: Int = 20,
      eps: Double = 1e-6): DataFrame = {
    require(bins >= 2, s"bins $bins out of range")
    val v = col(value).cast("double")
    val nn = df.filter(v.isNotNull)
    val r = nn.agg(
      min(v).as("__lo"), max(v).as("__hi"),
      sum(when(inSliceA, 1L).otherwise(0L)).as("__na"),
      sum(when(inSliceA, 0L).otherwise(1L)).as("__nb"))
    val w = (col("__hi") - col("__lo")) / lit(bins)
    val wSafe = when(col("__hi") > col("__lo"), w).otherwise(lit(1.0))
    val bucket = least(
      greatest(floor((v - col("__lo")) / wSafe), lit(0L)),
      lit(bins - 1L))
    val pa = greatest(col("__ca").cast("double") / col("__na"), lit(eps))
    val pb = greatest(col("__cb").cast("double") / col("__nb"), lit(eps))
    nn.crossJoin(broadcast(r))
      .groupBy(bucket.as("__b"), col("__na"), col("__nb"))
      .agg(
        sum(when(inSliceA, 1L).otherwise(0L)).as("__ca"),
        sum(when(inSliceA, 0L).otherwise(1L)).as("__cb"))
      .agg(round(graft.functions.DetAgg.dsum((pa - pb) * log(pa / pb)), 6).as("psi"))
  }

  /** DOUBLED tie-averaged ranks of a value column as a relation
    * (value → 2·avgRank = 2r − c + 1, all integer): the shared kernel
    * under [[mannWhitneyU]] and [[spearman]]. Same sharded shape as
    * [[ks2Samp]] — distinct-value relation, monotone shard index,
    * bounded offsets broadcast, per-shard cumulative windows.
    */
  private def doubledRanks(
      df: DataFrame,
      value: String,
      shardBits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.groupBy(col(value).as("__v")).agg(count(lit(1)).as("__c"))
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v").cast("double")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__shard")
      .agg(sum("__c").as("__s"))
      .select(
        col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"))
    val wCum = Window.partitionBy("__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    keyed.join(broadcast(offsets), col("__shard") === col("__oshard"))
      .withColumn("__r", col("__b") + sum("__c").over(wCum))
      .select(col("__v"),
        (lit(2) * col("__r") - col("__c") + lit(1)).as("__a2"))
  }

  /** Spearman rank correlation between two numeric columns — the robust
    * monotone-association measure a feature-quality pass runs beside
    * Pearson ([[GroupingQueries]] a13): Pearson over tie-averaged ranks.
    * Ranks are carried DOUBLED (integer; the ×2 cancels in the
    * correlation), so every moment is an exact BIGINT sum — Σ(2a)² ≤
    * 4n³ stays inside 2^63 to ~10⁹ rows per statistic — and ρ is one
    * fixed IEEE tail over exact integers (no rounding, the
    * [[mannWhitneyU]] contract). Two sharded-rank relations (one per
    * column — [[doubledRanks]], no corpus-wide window even when a
    * column is near-continuous), two hash joins back to rows, one
    * moment aggregate.
    */
  def spearman(
      df: DataFrame,
      x: String,
      y: String,
      shardBits: Int = 12): DataFrame = {
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val nn = df.filter(col(x).isNotNull && col(y).isNotNull)
      .select(col(x).as("__x"), col(y).as("__y"))
    val rx = doubledRanks(nn, "__x", shardBits)
      .select(col("__v").as("__x"), col("__a2").as("__ax"))
    val ry = doubledRanks(nn, "__y", shardBits)
      .select(col("__v").as("__y"), col("__a2").as("__ay"))
    // second moments sum in DECIMAL(38,0): each ax·ay product fits a
    // long (ranks ≤ 2n+1), but their SUM is Θ(n³) — past ~2.1M rows it
    // exceeds Long.MaxValue and ANSI Spark throws (the r15 sf1 drive hit
    // exactly this at 6M lineitem; DuckDB survives only via its silent
    // BIGINT→HUGEINT sum promotion). Decimal sums stay exact to 10³⁸
    // (n ≈ 10¹⁰), and an exact integer converts to the same nearest
    // double as the long did, so small-SF hashes are unchanged.
    val t = nn.join(rx, "__x").join(ry, "__y")
      .agg(
        count(lit(1)).as("n"),
        sum("__ax").as("__sx"), sum("__ay").as("__sy"),
        sum((col("__ax") * col("__ax")).cast("decimal(38,0)")).as("__sxx"),
        sum((col("__ay") * col("__ay")).cast("decimal(38,0)")).as("__syy"),
        sum((col("__ax") * col("__ay")).cast("decimal(38,0)")).as("__sxy"))
    // fixed IEEE tail — keep in lock step with the SQL mirror. The
    // decimal second moments convert via STRING (exact digits → one
    // correct rounding): at 10²⁰ magnitudes Spark's Decimal.toDouble
    // double-rounds (the DetAgg.toD hazard) and DuckDB's hugeint cast
    // is its own direct path — VARCHAR on both sides is the only pair
    // that agrees at every magnitude.
    def d(c: Column) = c.cast("string").cast("double")
    t.select(
      col("n"),
      ((col("n").cast("double") * d(col("__sxy"))
        - col("__sx").cast("double") * col("__sy").cast("double"))
        / sqrt(
          (col("n").cast("double") * d(col("__sxx"))
            - col("__sx").cast("double") * col("__sx").cast("double"))
            * (col("n").cast("double") * d(col("__syy"))
              - col("__sy").cast("double") * col("__sy").cast("double"))))
        .as("rho"))
  }

  /** Exact PER-GROUP weighted median (type-1: the smallest value whose
    * cumulative weight reaches half the group's total) — the robust
    * center for weighted corpora ("median doc quality weighted by token
    * count"). The first STRATIFIED instance of the sharded cumulative
    * kernel: the distinct-(group, value) relation is range-sharded by
    * the value's sortable bits, offsets are per (group, shard) — still a
    * bounded broadcast — and the half-total test `2·cum ≥ W` is pure
    * integer, so no group ever becomes one window task no matter how
    * many distinct values it holds (the per-group `percentile_approx`
    * alternative is approximate; the naive per-group sort-window is the
    * oracle form).
    */
  def weightedMedian(
      df: DataFrame,
      group: String,
      value: String,
      weight: Column,
      shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val g = df
      .filter(col(value).isNotNull)
      .groupBy(col(group).as("__g"), col(value).cast("double").as("__v"))
      .agg(sum(weight.cast("long")).as("__w"))
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy("__g")
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    // per-group total via a whole-frame window over the shard-sums
    // relation (the r15 cumulativeCounts fold) — no third expansion of
    // `g`, no second broadcast join
    val wAll = Window.partitionBy("__g")
    val offsets = keyed.groupBy("__g", "__shard")
      .agg(sum("__w").as("__s"))
      .select(
        col("__g").as("__og"), col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"),
        sum("__s").over(wAll).as("__wt"))
    val wCum = Window.partitionBy("__g", "__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    keyed
      .join(broadcast(offsets),
        col("__g") <=> col("__og") && col("__shard") === col("__oshard"))
      .withColumn("__cum", col("__b") + sum("__w").over(wCum))
      .filter(lit(2) * col("__cum") >= col("__wt"))
      .groupBy(col("__g").as(group))
      .agg(min("__v").as(s"wmed_$value"))
  }

  /** Exact per-group weighted QUARTILES — [[weightedMedian]] generalized
    * to the j/4 grid in the SAME single cumulative pass: the quartile
    * test `4·cum ≥ j·W` stays pure integer for j = 1, 2, 3, so the whole
    * grid costs one 3-row literal cross join over the already-cumulated
    * relation. Output: (group, q ∈ {0.25, 0.5, 0.75}, wq_<value>).
    */
  def weightedQuartiles(
      df: DataFrame,
      group: String,
      value: String,
      weight: Column,
      shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val g = df
      .filter(col(value).isNotNull)
      .groupBy(col(group).as("__g"), col(value).cast("double").as("__v"))
      .agg(sum(weight.cast("long")).as("__w"))
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy("__g")
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    // the per-group total __wt is NOT a third expansion of `g` (it used
    // to be a separate groupBy + broadcast join): the shard-sums relation
    // built for the offsets already holds every weight once, so __wt is
    // a whole-frame window over the same per-group partitioning the
    // offset prefix window rides — one more Window pass over the
    // ≤groups·2^shardBits-row relation, and the total arrives through
    // the existing broadcast join (the r15 cumulativeCounts fold).
    val wAll = Window.partitionBy("__g")
    val offsets = keyed.groupBy("__g", "__shard")
      .agg(sum("__w").as("__s"))
      .select(
        col("__g").as("__og"), col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"),
        sum("__s").over(wAll).as("__wt"))
    val wCum = Window.partitionBy("__g", "__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val spark = df.sparkSession
    import spark.implicits._
    val grid = Seq(1, 2, 3).toDF("__j")
    keyed
      .join(broadcast(offsets),
        col("__g") <=> col("__og") && col("__shard") === col("__oshard"))
      .withColumn("__cum", col("__b") + sum("__w").over(wCum))
      .crossJoin(broadcast(grid))
      .filter(lit(4) * col("__cum") >= col("__j") * col("__wt"))
      .groupBy(col("__g").as(group), (col("__j") / lit(4.0)).as("q"))
      .agg(min("__v").as(s"wq_$value"))
  }

  /** Per-group Gini coefficient — the concentration statistic of a
    * training-mix audit (how unequal is token mass across sources, or
    * price mass across flags?). Exact, via the classic rank formula
    * `G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n` evaluated on the value-count
    * relation: a tie block of `w` observations at value `c` starting
    * after cumulative count `cprev` contributes
    * `c·(2·cprev·w + w·(w+1))` to the (doubled) rank sum — NO division
    * anywhere in the integer stage (DuckDB `/` on HUGEINT is float
    * division; the doubled form sidesteps it).
    *
    * Values are taken in exact integer cent units (`floor(x·100 + 0.5)`,
    * the spelled-out rounding discipline), so every moment is an exact
    * integer and the final G is one fixed IEEE tree. The cumulative
    * count rides the STRATIFIED SHARDED kernel ([[weightedMedian]]'s:
    * per-(group, shard) windows keyed by the IEEE-754 sortable bits,
    * broadcast shard offsets) — no group-wide window, the partitioning
    * that survives a 100 TB stratum. Rank-sum products are
    * decimal(19,0)² → decimal(38,0) sums: exact to ~10³⁸, i.e. past any
    * physical corpus.
    */
  def gini(
      df: DataFrame,
      group: String,
      value: String,
      shardBits: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val d19 = DecimalType(19, 0)
    val g = df
      .filter(col(value).isNotNull)
      .groupBy(
        col(group).as("__g"),
        floor(col(value).cast("double") * 100 + 0.5).cast("long").as("__c"))
      .agg(count(lit(1)).as("__w"))
      // sharding key: the double VIEW of the cents (same total order for
      // |c| < 2^53); integer top bits would put every realistic value in
      // one shard, the sortable-bits exponent spread is what balances
      .withColumn("__v", col("__c").cast("double"))
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy("__g")
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__g", "__shard")
      .agg(sum("__w").as("__s"))
      .select(
        col("__g").as("__og"), col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__b"))
    val wCum = Window.partitionBy("__g", "__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val m = keyed
      .join(broadcast(offsets),
        col("__g") <=> col("__og") && col("__shard") === col("__oshard"))
      .withColumn("__cum", col("__b") + sum("__w").over(wCum))
      .withColumn("__cprev", col("__cum") - col("__w"))
      // doubled rank sum of the tie block, all decimal-exact
      .withColumn("__r2",
        lit(2) * col("__cprev").cast(d19) * col("__w").cast(d19) +
          col("__w").cast(d19) * (col("__w").cast(d19) + lit(1)))
      .groupBy(col("__g").as(group))
      .agg(
        sum("__w").cast("double").as("n"),
        sum(col("__c").cast(d19) * col("__w").cast(d19)).cast("double").as("s"),
        sum(col("__c").cast(d19) * col("__r2")).cast("double").as("a2"))
    m.select(
      col(group),
      col("n").cast("long").as("n"),
      (col("a2") / (col("n") * col("s")) - (col("n") + lit(1.0)) / col("n"))
        .as("gini"))
  }

  /** Jensen–Shannon divergence between the binned distributions of two
    * slices — the SYMMETRIC, always-finite companion to [[psi]] (PSI
    * blows up when a bucket empties on one side and needs the eps floor;
    * JSD's mixture denominator makes 0·ln(0) terms vanish exactly, so
    * the statistic is bounded by ln 2 and needs no floor). Same
    * windowless shape as PSI: broadcast 1-row range aggregate, one
    * ≤ `bins`-row bucket hash-aggregate, decimal-routed final sum,
    * round-6 for the ln tail. Nulls excluded (PSI's null contract).
    */
  def jsd(
      df: DataFrame,
      value: String,
      inSliceA: Column,
      bins: Int = 20): DataFrame = {
    require(bins >= 2, s"bins $bins out of range")
    val v = col(value).cast("double")
    val nn = df.filter(v.isNotNull)
    val r = nn.agg(
      min(v).as("__lo"), max(v).as("__hi"),
      sum(when(inSliceA, 1L).otherwise(0L)).as("__na"),
      sum(when(inSliceA, 0L).otherwise(1L)).as("__nb"))
    val w = (col("__hi") - col("__lo")) / lit(bins)
    val wSafe = when(col("__hi") > col("__lo"), w).otherwise(lit(1.0))
    val bucket = least(
      greatest(floor((v - col("__lo")) / wSafe), lit(0L)),
      lit(bins - 1L))
    val pa = col("__ca").cast("double") / col("__na")
    val pb = col("__cb").cast("double") / col("__nb")
    val m2 = pa + pb // 2·mixture
    val term = when(pa > 0, pa * log(lit(2.0) * pa / m2)).otherwise(lit(0.0)) +
      when(pb > 0, pb * log(lit(2.0) * pb / m2)).otherwise(lit(0.0))
    nn.crossJoin(broadcast(r))
      .groupBy(bucket.as("__b"), col("__na"), col("__nb"))
      .agg(
        sum(when(inSliceA, 1L).otherwise(0L)).as("__ca"),
        sum(when(inSliceA, 0L).otherwise(1L)).as("__cb"))
      .agg(round(lit(0.5) * graft.functions.DetAgg.dsum(term), 6).as("jsd"))
  }

  /** Pearson chi-squared two-sample homogeneity test over a CATEGORICAL
    * column — the third leg of the drift-monitor family: [[ks2Samp]] for
    * continuous exact distribution, [[psi]] for binned shares, chi² for
    * label/category mixes (source, language, event type). For categories
    * c with per-slice counts Oₐ/O_b and expectations E = rowTotal ×
    * colTotal / N: χ² = Σ_c (Oₐ−Eₐ)²/Eₐ + (O_b−E_b)²/E_b, with
    * dof = #categories − 1.
    *
    * Shape: ONE scan — a hash aggregate keyed by category (map-side
    * partials absorb any volume), totals re-aggregated from the ≤ #cats
    * category relation itself (no second pass over the data), final Σ
    * decimal-routed. Windowless; every post-scan relation is ≤ #cats
    * rows. Null contract: a null category is a real category (counted
    * like any other — a drifting null RATE is exactly what this monitor
    * should catch); both slices must be non-empty or the expectations
    * degenerate to 0/0 = NaN.
    *
    * Output: one row `(chi2 round-6, dof)` — the caller compares against
    * the chi² quantile for its alert level.
    */
  def chi2Homogeneity(df: DataFrame, category: String, inSliceA: Column): DataFrame = {
    val g = df.groupBy(col(category).as("__c"))
      .agg(
        sum(when(inSliceA, 1L).otherwise(0L)).as("__ca"),
        sum(when(inSliceA, 0L).otherwise(1L)).as("__cb"))
    val tot = g.agg(sum("__ca").as("__na"), sum("__cb").as("__nb"))
    val ea = (col("__ca") + col("__cb")).cast("double") * col("__na") / (col("__na") + col("__nb"))
    val eb = (col("__ca") + col("__cb")).cast("double") * col("__nb") / (col("__na") + col("__nb"))
    g.crossJoin(broadcast(tot))
      .agg(
        round(graft.functions.DetAgg.dsum(
          (col("__ca") - ea) * (col("__ca") - ea) / ea
            + (col("__cb") - eb) * (col("__cb") - eb) / eb), 6).as("chi2"),
        (count(lit(1)) - 1L).as("dof"))
  }

  /** The reference's `mean_std` (reference `scripts/utils.py:118-146`):
    * groupBy(keys) then mean/std/median/MAD_std of every value column, with
    * flattened `"col stat"` names (units-in-names survive verbatim —
    * SURVEY §7.3 #6). Results are rounded to 6 decimals so exact-median
    * interpolation ulps can't break oracle hashing.
    */
  def meanStd(df: DataFrame, keys: Seq[String], values: Seq[String]): DataFrame = {
    // the two-pass form joins the broadcast centers back on the keys, so
    // a global (key-less) aggregate has no join condition to build —
    // fail loudly instead of throwing an opaque reduce-on-empty (r16,
    // ADVICE item); callers wanting a global mean_std pass a constant key
    require(keys.nonEmpty,
      "meanStd needs at least one grouping key; for a global aggregate " +
        "group by a constant column")
    // r15: two codegen'd passes instead of the kryo-buffering MadStdAgg
    // (the right trade when rows ≫ groups): pass 1 computes the
    // exact-decimal moments and both medians (the MAD center is the
    // NaN-free median, MadStdAgg's scipy nan_policy='omit' contract —
    // identical to the plain median on NaN-free data), pass 2 the median
    // absolute deviation against the broadcast centers. Bit-identical:
    // Spark's exact percentile interpolates `a + (b − a) · 0.5` at even
    // counts — the same IEEE expression as MadStdAgg's medianInPlace —
    // and an all-null group comes back as NaN exactly as the empty
    // buffer did. The one-pass aggregator shuffled every value twice
    // (once in the percentile map, once in the kryo buffer); this
    // shuffles each value once per pass with codegen throughout.
    val p1aggs = values.flatMap { c =>
      Seq(
        DetAgg.davg(col(c)).as(s"$c mean"),
        // std rounded: the sum-of-squares can exceed exact double range,
        // so decimal→double casts may differ by an ulp between engines
        round(DetAgg.dstd(col(c)), 6).as(s"$c std"),
        round(median(col(c)), 6).as(s"$c median"),
        median(when(!isnan(col(c)), col(c))).as(s"__mednf_$c"))
    }
    val p1 = df.groupBy(keys.map(col): _*).agg(p1aggs.head, p1aggs.tail: _*)
    // renamed key copies on the broadcast sides: p1/p2 derive from df, so
    // plain-name join conditions would be ambiguous self-join references
    val meds = p1.select((keys.map(k => col(k).as(s"__mk_$k")) ++
      values.map(c => col(s"__mednf_$c"))): _*)
    val p2aggs = values.map { c =>
      round(
        coalesce(
          median(when(!isnan(col(c)), abs(col(c) - col(s"__mednf_$c"))))
            * lit(MadToStd),
          lit(Double.NaN)),
        6).as(s"$c MAD_std")
    }
    val p2 = df
      .join(broadcast(meds), keys.map(k => col(k) <=> col(s"__mk_$k")).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(p2aggs.head, p2aggs.tail: _*)
      .select((keys.map(k => col(k).as(s"__jk_$k")) ++
        values.map(c => col(s"$c MAD_std"))): _*)
    p1.join(p2, keys.map(k => col(k) <=> col(s"__jk_$k")).reduce(_ && _))
      .select((keys.map(col) ++ values.flatMap(c => Seq(
        col(s"$c mean"), col(s"$c std"), col(s"$c median"),
        col(s"$c MAD_std")))): _*)
  }

  /** Fixed-range histogram: bucket i covers [lo + i·w, lo + (i+1)·w),
    * values clamped into [0, nBins-1] (the reference adds explicit
    * under/overflow bins, `scripts/clean_beta_scan.py:65-72`). One hash
    * aggregate; the SQL mirror must use the identical arithmetic text.
    */
  def histogram(df: DataFrame, x: Column, lo: Double, hi: Double, nBins: Int): DataFrame = {
    val w = (hi - lo) / nBins
    val bucket = least(greatest(floor((x - lit(lo)) / lit(w)), lit(0L)), lit(nBins - 1L))
    df.select(bucket.cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", lit(lo) + col("bucket") * lit(w))
  }

  /** ECDF per group: `cume_dist()` over the value ordering (reference
    * `scripts/clean_beta_scan.py:212-220`). Pure window pass — but ONE
    * SORT TASK PER GROUP: each group's entire history lands in a single
    * window partition. Fine for the reference's per-measurement scans
    * (two devices, bounded rows); a serialization point when groups are
    * few and huge. Use [[ecdfByValueCounts]] as the production tier at
    * scale; this form is kept for per-measurement use.
    */
  def ecdf(df: DataFrame, groupCols: Seq[String], x: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(x)
    df.withColumn("ecdf", cume_dist().over(w))
  }

  /** Scale-safe ECDF, identical output to [[ecdf]]: aggregate to
    * per-(group, value) counts first — a HASH AGGREGATE with map-side
    * partials, so a billion-row group reduces before it shuffles — then
    * window over the (distinct-value-bounded) count table, then join the
    * per-value ecdf back to the rows. The only sorted relation is the
    * distinct-value table (physically bounded: a measurement column has
    * far fewer distinct values than rows); the row-level stages are
    * aggregate + join, both skew-tolerant and AQE-splittable. cume_dist
    * ≡ cumulative count ÷ group total over the RANGE frame, which is
    * exactly what the running sum over distinct values computes — ties
    * collapse into one count row, so tie semantics match by construction.
    */
  def ecdfByValueCounts(df: DataFrame, groupCols: Seq[String], x: String): DataFrame = {
    val cum = ecdfPoints(df, groupCols, x)
      .select(groupCols.map(c => col(c).as(s"__g_$c")) ++ Seq(col(x).as("__x"), col("ecdf")): _*)
    // null-safe join keys so null measurements get the same ecdf rows the
    // window form assigns them
    val cond = (groupCols.map(c => df(c) <=> cum(s"__g_$c")) :+ (df(x) <=> cum("__x")))
      .reduce(_ && _)
    df.join(cum, cond)
      .select(df.columns.map(df(_)) :+ cum("ecdf"): _*)
  }

  /** Distinct-value ECDF profile (group…, x, ecdf) — the scale-safe
    * count-table stage of [[ecdfByValueCounts]] WITHOUT the join back to
    * rows, for consumers that want the per-value profile itself (fit
    * feeders, crossing interpolation). Value-identical to
    * `ecdf(df, g, x).groupBy(g, x).agg(max("ecdf"))`: cume_dist at a value
    * is cumulative-count ÷ group-total, the exact integer division the
    * running sum over distinct values performs — but the only window sort
    * is over the distinct-value table (hash aggregate with map-side
    * partials first), never one task per group holding the group's whole
    * row history.
    */
  def ecdfPoints(df: DataFrame, groupCols: Seq[String], x: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gcols = groupCols.map(col)
    val counts = df.groupBy(gcols :+ col(x): _*).agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(gcols: _*).orderBy(col(x))
    val wAll = Window.partitionBy(gcols: _*)
    counts
      .withColumn("ecdf", sum("__c").over(w).cast("double") / sum("__c").over(wAll))
      .drop("__c")
  }

  /** EXACT discrete quantiles (SQL-standard type-1: the smallest value
    * whose cumulative count reaches ⌈q·n⌉) for a whole grid of probability
    * levels in ONE pass — without a global sort and without
    * `percentile_approx`'s error bar. The cumulative ranks ride the same
    * sharded machinery as [[ks2Samp]]: distinct-value counts from a hash
    * aggregate (map-side partials absorb any row volume), range-sharded by
    * [[graft.plans.DoubleSortableBits]] top bits, exclusive per-shard
    * offsets from a ≤ 2^shardBits-row broadcast window, per-SHARD
    * cumulative windows only. The quantile grid joins as a literal
    * relation and each level resolves with `min(v) where rank ≥ target` —
    * a ≤ |grid|-row aggregate. At 100 TB the only data-sized structures
    * are the scan and one hash shuffle of the distinct-value table;
    * nothing ever funnels through a single task. Every rank is an exact
    * integer, so the result is deterministic under ANY partitioning and
    * oracle-comparable with zero tolerance (the ⌈q·n⌉ target is the same
    * IEEE multiply-then-ceil in both engines).
    *
    * Null contract: null values are dropped (a quantile of nothing), and
    * `n` counts non-null rows only — matching `quantile_disc`.
    *
    * Output: (q double, qv double) — one row per requested level.
    */
  def exactQuantiles(
      df: DataFrame,
      value: String,
      qs: Seq[Double],
      shardBits: Int = 12): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantile levels $qs out of (0, 1]")
    val spark = df.sparkSession
    val grid = spark.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    cumulativeCounts(df, value, shardBits)
      .join(broadcast(grid),
        col("__r") >= ceil(col("q") * col("__n")).cast("long"))
      .groupBy("q")
      .agg(min("__v").as("qv"))
      .orderBy("q")
  }

  /** The sharded distinct-value cumulative shared by [[exactQuantiles]]
    * and [[percentRank]]: (__v double, __c count, __r INCLUSIVE
    * cumulative count, __n non-null total), computed with per-shard
    * windows only (see [[exactQuantiles]]'s scaladoc for the full
    * argument). Nulls are dropped.
    */
  /** Distinct-value counts `(__v double, __c)` — the base relation of the
    * sharded cumulative kernel, exposed so callers that ALSO need exact
    * moments can aggregate the SAME subtree (ReuseExchange then plans the
    * source scan + partial aggregate once for quantiles and moments —
    * r16, the dsumW fold applied at the caller level). Nulls dropped.
    */
  private[graft] def valueCounts(df: DataFrame, value: String): DataFrame = {
    val v = col(value).cast("double")
    df.filter(v.isNotNull).groupBy(v.as("__v")).agg(count(lit(1)).as("__c"))
  }

  private def cumulativeCounts(
      df: DataFrame,
      value: String,
      shardBits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val g = valueCounts(df, value)
    val keyed = g.withColumn(
      "__shard",
      shiftright(
        graft.plans.ScalarExpressions.sortableBits(col("__v")),
        64 - shardBits) + lit(1L << (shardBits - 1)))
    val wOff = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
      .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
    // the grand total __n is NOT a third expansion of `g` (it used to be
    // `g.agg(sum(__c))` + a crossJoin — one more scan+aggregate of the
    // source per kernel drive): the shard-sums relation built for the
    // offsets already holds every count once, so __n is a whole-frame
    // window over the SAME ≤2^shardBits-row single partition the offset
    // prefix window rides — same exchange, one more Window pass over
    // ≤4096 rows, and the total rides the existing broadcast join.
    val wAll = Window.partitionBy(
      graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
    val offsets = keyed.groupBy("__shard")
      .agg(sum("__c").as("__s"))
      .select(
        col("__shard").as("__oshard"),
        coalesce(sum("__s").over(wOff), lit(0L)).as("__base"),
        sum("__s").over(wAll).as("__n"))
    val wCum = Window.partitionBy("__shard").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    keyed.join(broadcast(offsets), col("__shard") === col("__oshard"))
      .withColumn("__r", col("__base") + sum("__c").over(wCum))
      .select("__v", "__c", "__r", "__n")
  }

  /** Per-row GLOBAL percent_rank — `(rank − 1) / (n − 1)` with SQL rank
    * semantics (ties share the first position) — WITHOUT the corpus-wide
    * single-partition window `percent_rank() OVER (ORDER BY v)` compiles
    * to: ranks come from the sharded distinct-value cumulative
    * (`rank(v) = cum(v) − count(v) + 1`), and rows get them back through
    * one hash join on the value — both sides data-sized, nothing
    * funneling through one task. Exact integer ranks + one IEEE division
    * → deterministic under any partitioning, oracle-comparable unrounded.
    *
    * Null contract: null-valued rows are DROPPED (SQL engines disagree
    * on null placement in ranking order — Spark sorts them first, DuckDB
    * last — so a portable percent rank over nulls does not exist).
    *
    * Output: `df`'s columns + `pct_rank` double (0.0 when n = 1).
    */
  def percentRank(
      df: DataFrame,
      value: String,
      shardBits: Int = 12): DataFrame =
    df.filter(col(value).isNotNull)
      .join(percentRankValues(df, value, shardBits),
        col(value).cast("double") === col("__v"))
      .drop("__v")

  /** The DISTINCT-VALUE half of [[percentRank]]: (`__v` double,
    * `pct_rank` double), one row per distinct value. Exposed so a caller
    * ranking the SAME relation on several columns (RFM is three drives)
    * can join each value→rank relation back to the base once, flat,
    * instead of chaining whole kernel drives — a chained drive re-expands
    * the base relation inside the next kernel's every consumer (the r15
    * before-plan of `e14_rfm_segmentation` re-derived the user aggregate
    * a dozen times). Same null contract as [[percentRank]].
    */
  def percentRankValues(
      df: DataFrame,
      value: String,
      shardBits: Int = 12): DataFrame =
    rankedValueCounts(df, value, shardBits).select("__v", "pct_rank")

  /** [[percentRankValues]] plus the multiplicity: (`__v`, `__c` long,
    * `pct_rank`). For consumers whose output is a pure function of
    * (value, multiplicity) — an equi-depth census, a weighted mean — the
    * weighted aggregate over this relation replaces the join back to the
    * row relation entirely (DetAgg.davgW is spec-pinned bit-identical to
    * davg over the exploded rows).
    */
  def rankedValueCounts(
      df: DataFrame,
      value: String,
      shardBits: Int = 12): DataFrame =
    cumulativeCounts(df, value, shardBits)
      .withColumn(
        "pct_rank",
        when(col("__n") > 1,
          (col("__r") - col("__c")).cast("double") / (col("__n") - lit(1L)))
          .otherwise(lit(0.0)))
      .select(col("__v"), col("__c"), col("pct_rank"))
}
