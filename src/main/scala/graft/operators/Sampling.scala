package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic data-mixing for training pipelines: which documents make
  * the cut is a pure function of (id, seed) — reproducible on any
  * engine, any partitioning, any rerun, and stable under corpus appends
  * (a doc's fate never depends on other rows).
  *
  *  - [[proportional]]: per-stratum keep-percentages (up-/down-weight
  *    sources or languages in the mix) via the same multiplicative-hash
  *    bucket as [[Splits]].
  *  - [[tokenBudgetCap]]: cap each stratum at a token budget — docs are
  *    ordered by a deterministic per-doc hash (an unbiased shuffle, with
  *    id tiebreak) and kept while the running token total fits. ONE
  *    window pass per stratum partition; the hash order means the kept
  *    set is a uniform sample of the stratum, not its head.
  */
object Sampling {

  /** Keep rows where the id-hash bucket falls under `pct` (a per-row
    * Column, so callers express per-stratum percentages as a CASE over
    * the stratum column).
    */
  def proportional(df: DataFrame, id: String, pct: Column, seed: Int): DataFrame =
    df.filter(Splits.bucket100(col(id), seed) < pct)

  /** Integer UPSAMPLING — the repeat-factor side of dataset mixing
    * (high-quality sources shown to training more than once): every row
    * is replicated `factor` times (a per-row Column, so callers express
    * per-source factors as a CASE) with a 0-based `copy` index, giving
    * each repetition a distinct identity for downstream shuffling /
    * sharding. factor ≤ 0 drops the row. Pure plan-side arithmetic — no
    * shuffle, deterministic, linear in the OUTPUT size.
    */
  def upsample(df: DataFrame, factor: Column): DataFrame =
    df.withColumn(
      "copy",
      explode(when(factor >= 1, sequence(lit(0L), factor.cast("long") - 1))
        .otherwise(array())))

  /** [[proportional]] with the full-id xxhash64 bucket — the tier to run
    * in production (no 100k residue-class coupling).
    */
  def proportionalFull(df: DataFrame, id: String, pct: Column, seed: Int): DataFrame =
    df.filter(Splits.bucket100Full(col(id), seed) < pct)

  /** Deterministic shuffle key in [0, 2³²): multiplicative hash of the
    * id — the ordering is uniform and engine-portable. Like
    * [[Splits.bucket100]] this is the ORACLE tier: the id is reduced mod
    * 1e5 first, so at most 100 000 distinct keys exist and ids 100k apart
    * sort adjacently (id tiebreak). Use [[shuffleKeyFull]] for corpora
    * with more than ~100k ids per stratum.
    */
  def shuffleKey(id: Column, seed: Int): Column =
    pmod(pmod(id + lit(seed), lit(100000L)) * lit(2654435761L), lit(4294967296L))

  /** Production tier of [[shuffleKey]]: xxhash64 of the full id — no
    * periodicity, 2⁶⁴ key space. Not DuckDB-expressible (spec-verified).
    */
  def shuffleKeyFull(id: Column, seed: Int): Column =
    xxhash64(id, lit(seed))

  /** Keep a uniform sample of each stratum whose `tokens` sum to at most
    * `budget`: hash-order the stratum, keep while the running total
    * (including the current doc) fits.
    */
  def tokenBudgetCap(
      df: DataFrame,
      id: String,
      strata: Seq[String],
      tokens: Column,
      budget: Long,
      seed: Int): DataFrame =
    tokenBudgetCapBy(df, strata, tokens, budget, shuffleKey(col(id), seed), col(id))

  /** [[tokenBudgetCap]] ordered by the full-id xxhash64 key — the
    * production tier (a true uniform shuffle on any id space).
    */
  def tokenBudgetCapFull(
      df: DataFrame,
      id: String,
      strata: Seq[String],
      tokens: Column,
      budget: Long,
      seed: Int): DataFrame =
    tokenBudgetCapBy(df, strata, tokens, budget, shuffleKeyFull(col(id), seed), col(id))

  /** Temperature-scaled source mixing — the standard multilingual /
    * multi-source rebalancing: stratum s gets a document budget
    * ∝ n_s^τ (τ < 1 flattens the mix toward rare strata), filled with
    * the stratum's lowest-shuffle-key docs (uniform, deterministic).
    *
    * τ = 0.5: weights are `sqrt(n_s)` — sqrt is a correctly-rounded IEEE
    * op in every engine, and the weight total goes through a DetAgg
    * decimal, so targets are bit-portable (this is the oracle tier).
    * Arbitrary τ goes through `pow` (production tier — pow's last-ulp is
    * libm-specific, spec-verified instead).
    */
  def temperatureMixSqrt(
      df: DataFrame,
      id: String,
      stratum: String,
      budget: Long,
      seed: Int): DataFrame =
    temperatureMixBy(df, id, stratum, budget, seed, n => sqrt(n.cast("double")))

  /** [[temperatureMixSqrt]] with arbitrary temperature (`pow`-based
    * weights). Still fills strata in ORACLE-tier shuffle-key order
    * (mod-100k residue classes) so it stays comparable to the checked
    * queries; run [[temperatureMixFull]] in production.
    */
  def temperatureMix(
      df: DataFrame,
      id: String,
      stratum: String,
      budget: Long,
      tau: Double,
      seed: Int): DataFrame =
    temperatureMixBy(df, id, stratum, budget, seed,
      n => pow(n.cast("double"), lit(tau)))

  /** The production temperature mix: `pow` weights AND full-id xxhash64
    * within-stratum ordering — strata with more than ~100k docs get a
    * true uniform fill instead of the mod-100k key's residue-class
    * coupling (ids 100k apart share a fate under the oracle-tier key).
    */
  def temperatureMixFull(
      df: DataFrame,
      id: String,
      stratum: String,
      budget: Long,
      tau: Double,
      seed: Int): DataFrame =
    temperatureMixBy(df, id, stratum, budget, seed,
      n => pow(n.cast("double"), lit(tau)), full = true)

  /** Per-stratum doc targets ∝ weight(n) out of `budget` — shared by the
    * window and sharded temperature tiers so the fill bound cannot drift
    * between them.
    */
  private def strataTargets(
      df: DataFrame,
      stratum: String,
      budget: Long,
      weight: Column => Column): DataFrame = {
    import graft.functions.DetAgg
    val counts = df.groupBy(stratum).agg(count(lit(1)).as("__n"))
      .withColumn("__w", weight(col("__n")))
    val tot = counts.agg(DetAgg.dsum(col("__w")).as("__wsum"))
    counts.crossJoin(broadcast(tot))
      .select(
        col(stratum),
        floor(lit(budget.toDouble) * col("__w") / col("__wsum")).as("__target"))
  }

  private def temperatureMixBy(
      df: DataFrame,
      id: String,
      stratum: String,
      budget: Long,
      seed: Int,
      weight: Column => Column,
      full: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val targets = strataTargets(df, stratum, budget, weight)
    val key = if (full) shuffleKeyFull(col(id), seed) else shuffleKey(col(id), seed)
    val w = Window.partitionBy(col(stratum)).orderBy(key, col(id))
    // the rank filter carries a LITERAL bound alongside the per-stratum
    // column target: every target is ≤ budget by construction, so the
    // extra conjunct changes nothing semantically — but a literal
    // `row_number ≤ k` is what Spark's InferWindowGroupLimit needs to
    // insert a map-side (Partial) group limit, so each input partition
    // forwards at most `budget` rows per stratum instead of the whole
    // stratum flooding one window task (a 100 TB corpus has billions of
    // rows in its biggest language). SamplingSpec pins the
    // WindowGroupLimit in the plan.
    df.join(broadcast(targets), stratum)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= lit(budget) && col("__rn") <= col("__target"))
      .drop("__rn", "__target")
  }

  /** Shared cap kernel. The running-sum window alone would hold every row
    * of a stratum in one task (a 100 TB corpus's biggest language in one
    * sort partition); a LITERAL `row_number ≤ budget` pre-filter — its
    * own rank-only window, so InferWindowGroupLimit inserts a map-side
    * group limit — prunes each stratum to its ordered prefix of at most
    * `budget` rows first (implied by `cum ≤ budget` whenever every doc
    * has ≥ 1 token; oracle SQL carries the same conjunct so both engines
    * share the degenerate zero-token-run semantics). The exact running
    * sum then runs over ≤ budget rows per stratum. Both bounds assume the
    * budget is under the session's windowGroupLimitThreshold and a
    * stratum's kept prefix fits one task's sort — past either (billions-
    * token budgets, billion-doc strata), use the row-identical
    * [[tokenBudgetCapShardedBy]] prefix-sum tier.
    */
  private def tokenBudgetCapBy(
      df: DataFrame,
      strata: Seq[String],
      tokens: Column,
      budget: Long,
      order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(strata.map(col): _*).orderBy(order: _*)
    val w = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") <= budget)
      .withColumn("__cum", sum(tokens).over(w))
      .filter(col("__cum") <= budget)
      .drop("__rn", "__cum")
  }

  /** [[tokenBudgetCapFull]] with NO per-stratum window partition — the
    * extreme-scale tier. The rank-guarded window tier is map-side-prunable
    * only while the literal budget stays under the session's
    * `windowGroupLimitThreshold`, and its final window still lands each
    * whole stratum in ONE task's sort; at 100 TB (multi-billion-token
    * budgets, a biggest-language stratum of billions of docs) both bounds
    * die. Here the stratum is split into `2^shardBits` ORDERED shards by
    * the top bits of `key` — a pure, monotone column expression, so the
    * plan stays one lazy tree with no range-sampling pass and no
    * partition-id nondeterminism — and the running total is assembled as
    * (exclusive prefix over the tiny per-(shard, stratum) totals relation)
    * + (within-shard window). Every window partition is a 1/2^shardBits
    * slice of a stratum; the totals relation is ≤ shards × strata rows.
    * Output is row-identical to the window tier under the same total
    * order (same rank + running-sum predicate; spec-pinned).
    *
    * `key` must be a long whose ORDER defines the fill order: uniform over
    * the full signed-long range (`shuffleKeyFull`) for balanced shards. A
    * narrow-range key is still correct, it just degenerates toward one
    * shard, e.g. the mod-100k oracle key, which is how the registered
    * query stays DuckDB-checkable.
    */
  private[graft] def tokenBudgetCapShardedBy(
      df: DataFrame,
      strata: Seq[String],
      tokens: Column,
      budget: Long,
      key: Column,
      tie: Column,
      shardBits: Int,
      maxOffsetRows: Long = MaxOffsetRows): DataFrame =
    shardedPrefix(df, strata, Some(tokens), key, tie, shardBits, maxOffsetRows)
      .filter(col("__grn") <= budget && col("__gcum") <= budget)
      .drop("__grn", "__gcum")

  /** [[temperatureMixFull]] with the sharded-prefix fill — the
    * extreme-scale temperature tier, same hazard and same cure as
    * [[tokenBudgetCapShardedBy]]: the window tier's per-stratum rank sort
    * holds a stratum's budget-bounded prefix in one task, which dies when
    * budgets reach billions; here the global rank is assembled from
    * shard-slice windows. Row-identical to the window tier under the same
    * weight and key (spec-pinned); [[temperatureMixSqrt]] weights + the
    * mod-100k key keep DuckDB parity. The fill order is entirely
    * determined by `key` — there is deliberately NO separate seed
    * parameter, so a caller cannot pass an inconsistent seed/key pair.
    */
  private[graft] def temperatureMixSharded(
      df: DataFrame,
      id: String,
      stratum: String,
      budget: Long,
      weight: Column => Column,
      key: Column,
      shardBits: Int,
      maxOffsetRows: Long = MaxOffsetRows): DataFrame = {
    val targets = strataTargets(df, stratum, budget, weight)
    df.join(broadcast(targets), stratum)
      // rank-only kernel: a running sum of 1s would just duplicate the
      // rank at the cost of a second corpus-wide window aggregate
      .transform(d =>
        shardedPrefix(d, Seq(stratum), None, key, col(id), shardBits, maxOffsetRows))
      .filter(col("__grn") <= col("__target"))
      .drop("__grn", "__target")
  }

  /** Broadcast-safety bound on [[shardedPrefix]]'s offsets relation
    * (OCCUPIED (shard, strata) combinations — the rows that actually
    * broadcast). 2²² rows of a handful of small columns is low hundreds
    * of MB, comfortably under Spark's hard 8 GB BroadcastExchange limit
    * even with wide stratum columns.
    */
  private[graft] val MaxOffsetRows: Long = 1L << 22

  /** Sharded-prefix kernel shared by the extreme-scale budget and
    * temperature tiers: adds `__grn` (global 1-based rank by (key, tie)
    * within each stratum) and — when `tokens` is supplied — `__gcum`
    * (running `tokens` total in that order) with NO per-stratum window
    * partition anywhere in the plan.
    *
    * INTENDED REGIME: few HUGE strata (languages, sources — ≤ ~10⁵
    * strata). The offsets relation broadcasts up to 2^shardBits ×
    * stratum-cardinality rows; a corpus with millions of strata would
    * balloon that broadcast (and `strataTargets`' collect in the
    * temperature tier), while ALSO being exactly the regime where the
    * plain window tiers are the right choice — many small strata means
    * small per-stratum window partitions. A distributed count of the
    * offsets relation guards the mismatch: past `maxOffsetRows` the job
    * fails fast with a descriptive error BEFORE the BroadcastExchange is
    * built, instead of OOMing the driver.
    *
    * Row-identity caveats handled here so
    * both tiers stay bit-equal to their window twins:
    *
    *  - a NULL sort key (null id under the oracle-tier shuffle key)
    *    yields a null shard, which must survive the offsets join (`<=>`)
    *    and rank FIRST — shard `orderBy` is ASC NULLS FIRST, exactly the
    *    window tier's key order;
    *  - the running sum over nullable tokens is null precisely while the
    *    global prefix holds NO non-null token (SQL sum-over-frame
    *    semantics): assembled from shard-local sums via a non-null
    *    prefix COUNT, since `tbase + within` alone would go null at every
    *    shard head and drop rows the window tier keeps.
    */
  private def shardedPrefix(
      df: DataFrame,
      strata: Seq[String],
      tokens: Option[Column],
      key: Column,
      tie: Column,
      shardBits: Int,
      maxOffsetRows: Long = MaxOffsetRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shardBits >= 1 && shardBits <= 20, s"shardBits $shardBits out of range")
    val gcols = strata.map(col)
    // arithmetic >> preserves signed order, so the shard index is monotone
    // in the key and shard-prefix + within-shard order IS the total order
    val keyed = df
      .withColumn("__key", key.cast("long"))
      .withColumn(
        "__shard",
        shiftright(col("__key"), 64 - shardBits) + lit(1L << (shardBits - 1)))
    val base = tokens.fold(keyed)(t => keyed.withColumn("__tok", t))
    val shardCols = col("__shard") +: gcols
    val aggs = count(lit(1)).as("__pc") +: (if (tokens.isDefined)
      Seq(sum(col("__tok")).as("__ps"), count(col("__tok")).as("__pn"))
    else Nil)
    val perShard = base.groupBy(shardCols: _*).agg(aggs.head, aggs.tail: _*)
    // exclusive prefix over shards within each stratum — a window over the
    // shards × strata totals relation, entirely in-plan (no driver rows)
    val wOff = Window.partitionBy(gcols: _*).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perShard.select(
      (col("__shard").as("__oshard") +:
        strata.map(c => col(c).as(s"__og_$c")) :+
        coalesce(sum(col("__pc")).over(wOff), lit(0L)).as("__rbase")) ++
        (if (tokens.isDefined)
          Seq(
            coalesce(sum(col("__ps")).over(wOff), lit(0L)).as("__tbase"),
            coalesce(sum(col("__pn")).over(wOff), lit(0L)).as("__nnbase"))
        else Nil): _*)
    // null-safe shard AND stratum keys: the window tier keeps null strata
    // and null-key rows, so the offsets join must too
    val cond = strata
      .map(c => col(c) <=> col(s"__og_$c"))
      .foldLeft(col("__shard") <=> col("__oshard"))(_ && _)
    // regime guard (see scaladoc): a distributed count of the offsets
    // relation, raised as a descriptive error before the broadcast. The
    // count only needs the grouping keys, so Catalyst prunes its branch
    // to a narrow (key-columns-only) scan — at 100 TB that is a few
    // percent of the corpus bytes, runs as one of the FIRST stages, and
    // fails the job cleanly before any wide pass or broadcast build.
    // Deliberately NOT an unpartitioned count(...) window over `offsets`:
    // that would funnel the whole offsets relation through ONE task —
    // cheap in the good regime but a single-task sort of a possibly
    // billion-row relation in exactly the failure regime the guard
    // exists for. And the seemingly-free exchange reuse with the offsets
    // branch does not materialize: column pruning narrows this branch's
    // perShard scan below the offsets branch's, so their exchanges are
    // not canonically equal. The fully-parallel narrow re-scan is the
    // honest price of failing fast.
    val guard = perShard.agg(count(lit(1)).as("__ocnt"))
    val guarded = offsets.crossJoin(broadcast(guard))
      .filter(assert_true(
        col("__ocnt") <= lit(maxOffsetRows),
        format_string(
          "shardedPrefix offsets relation has %d rows (occupied shard x strata " +
            "combinations), over the broadcast-safe bound %d. The sharded tiers " +
            "are for few-large-strata corpora; for many small strata use the " +
            "window tier (tokenBudgetCapFull / temperatureMixFull) or lower shardBits.",
          col("__ocnt"), lit(maxOffsetRows))).isNull)
      .drop("__ocnt")
    val wIn = Window.partitionBy(shardCols: _*).orderBy(col("__key"), tie)
    val wCum = wIn.rowsBetween(Window.unboundedPreceding, 0)
    val ranked = base.join(broadcast(guarded), cond)
      .withColumn("__grn", col("__rbase") + row_number().over(wIn))
    tokens.fold(ranked)(_ => ranked
      .withColumn("__gcum",
        when(col("__nnbase") + count(col("__tok")).over(wCum) > 0,
          col("__tbase") + coalesce(sum(col("__tok")).over(wCum), lit(0L)))))
      .drop(
        (Seq("__tok", "__key", "__shard", "__oshard", "__tbase", "__rbase",
          "__nnbase") ++ strata.map(c => s"__og_$c")): _*)
  }

  /** Curriculum interleave by stride scheduling: each stratum's docs are
    * ranked in deterministic shuffle order, and doc ranked `r` in a
    * stratum holding `ns` of the corpus's `n` docs gets virtual time
    * `vt = r · n / ns` — sorting by `(vt, id)` spreads every stratum
    * UNIFORMLY through the whole training order (no source ever clumps,
    * the property per-batch mixing needs) with no corpus-scale window:
    * ranks come from [[shardedPrefix]] (per-shard windows only), the
    * stratum-counts relation is broadcast-bounded, and `vt` is plain
    * arithmetic. The trainer materializes the order with
    * `repartitionByRange(vt, id) + sortWithinPartitions` — the same
    * global-sort-free discipline as [[graft.operators.ZOrder.clusterBy]];
    * a global `row_number` is exactly the single-task funnel this tier
    * exists to avoid.
    *
    * Output: input columns + `rank_in_stratum` (1-based long) + `vt`
    * (double; one IEEE multiply-then-divide, bit-portable).
    */
  def curriculumStride(
      df: DataFrame,
      id: String,
      stratum: String,
      key: Column,
      shardBits: Int = 10): DataFrame = {
    val ranked = shardedPrefix(df, Seq(stratum), None, key, col(id), shardBits)
    val counts = df.groupBy(stratum).agg(count(lit(1)).as("__ns"))
    val tot = counts.agg(sum("__ns").as("__n"))
    ranked.join(broadcast(counts), Seq(stratum))
      .crossJoin(broadcast(tot))
      .withColumn("rank_in_stratum", col("__grn"))
      .withColumn("vt",
        col("__grn").cast("double") * col("__n") / col("__ns"))
      .drop("__grn", "__ns", "__n")
  }

  /** CCNet-shaped perplexity selection (public literature): keep each
    * stratum's low-NLL median half of an LM-scored table, then fill a
    * per-stratum term-mass `budget` best-quality-first with the
    * rank-guard + ROWS-cumsum idiom above (map-side prunable: every
    * scored doc has n_tri ≥ 1, so cum ≤ budget ⇒ rank ≤ budget).
    * `scored` must carry (`id`, `stratum`, `n_tri`, `avg_nll`) — the
    * [[graft.operators.LmScore.scoreWith]] output with the stratum kept;
    * materialize it first (one scoring pass) since the median gate reads
    * it twice. Used by the registered `pipeline_perplexity_mix` query.
    */
  def perplexityKeep(
      scored: DataFrame,
      id: String,
      stratum: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val med = scored.groupBy(stratum).agg(median(col("avg_nll")).as("__m"))
    val kept = scored.join(broadcast(med), stratum)
      .filter(col("avg_nll") <= col("__m"))
      .drop("__m")
    val wOrd = Window.partitionBy(stratum).orderBy(col("avg_nll"), col(id))
    kept
      .withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") <= budget)
      .withColumn("__cum",
        sum("n_tri").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__cum") <= budget)
      .drop("__rn", "__cum")
  }

  /** Per-domain cap — the Common-Crawl-style host/source limit: keep at
    * most `k` documents per `domain`, best first under a caller-supplied
    * total order (score desc, id tiebreak — pass BOTH so ties cannot
    * make the cut nondeterministic).
    *
    * Scale shape: the naive form is one `row_number` window partitioned
    * by domain — and a head domain at 100 TB (one host contributing
    * billions of pages) funnels into a single window partition. This
    * runs the salted tournament instead ([[Similarity.hardNegatives]]'s
    * shape): stage 1 ranks within (domain, salt-of-id) — bounded
    * fan-in — and keeps k per bucket; stage 2 re-ranks the surviving
    * ≤ k·saltBuckets rows per domain. EXACT, not approximate: under a
    * total order, every global top-k row is within the top k of its own
    * salt bucket, so stage 1 never drops a winner — the driver replays a
    * direct single-window SQL form and the hashes must match, making the
    * production partitioning itself the verified path.
    */
  def domainCap(
      df: DataFrame,
      id: String,
      domain: String,
      order: Seq[Column],
      k: Int,
      saltBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k $k out of range")
    val stage1 = Window
      .partitionBy(col(domain), pmod(xxhash64(col(id)), lit(saltBuckets.toLong)))
      .orderBy(order: _*)
    val stage2 = Window.partitionBy(col(domain)).orderBy(order: _*)
    df
      .withColumn("__r1", row_number().over(stage1))
      .filter(col("__r1") <= k)
      .drop("__r1")
      .withColumn("rank_in_domain", row_number().over(stage2))
      .filter(col("rank_in_domain") <= k)
  }

  /** Systematic probability-proportional-to-size sampling (the survey
    * statistician's exact-k weighted draw, Madow 1949): lay every row's
    * integer weight end-to-end in id order and take the rows containing
    * positions `j·W/k, j = 1…k` — heavy rows can be hit multiple times
    * (their multiplicity is the repeat factor a mixing pipeline feeds to
    * [[upsample]]). ENTIRELY integer: a row's hit count is
    * `⌊E·k/W⌋ − ⌊(E−w)·k/W⌋` on the inclusive weight prefix E, so the
    * draw is deterministic on any engine and Σ hits = k exactly, with
    * inclusion probability ∝ weight — no floating point, no RNG, no
    * rejection pass.
    *
    * The prefix rides [[shardedPrefix]] under a constant stratum (the
    * bounded-offsets kernel; no corpus-wide window), so this is the
    * scale tier AND the only tier — the oracle replays the single-window
    * cumsum form, proving the sharded prefix bit-equal on the full pipe.
    */
  def ppsSystematic(
      df: DataFrame,
      id: String,
      weight: Column,
      k: Int,
      shardBits: Int = 12): DataFrame = {
    require(k >= 1, s"k $k out of range")
    val base = df.select(col(id), weight.cast("long").as("__w"))
      .withColumn("__all", lit(0))
    val pre = shardedPrefix(base, Seq("__all"), Some(col("__w")),
      col(id), col(id), shardBits)
    // NOT "__W": Spark resolves case-insensitively, so __W would be
    // ambiguous against the per-row __w
    val tot = base.agg(sum(col("__w")).as("__wtot"))
    pre.crossJoin(broadcast(tot))
      .withColumn("__hits",
        expr(s"(__gcum * $k) div __wtot - ((__gcum - __w) * $k) div __wtot"))
      .filter(col("__hits") >= 1)
      .select(col(id), col("__w").as("weight"), col("__hits").as("n_hits"))
  }
}
