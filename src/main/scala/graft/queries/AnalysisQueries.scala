package graft.queries

import org.apache.spark.sql.functions._
import graft.analyses.TimeResolution
import graft.sources.Tables
import graft.operators.Bootstrap

/** Full reference-analysis compositions driven from the synthetic tables —
  * the SURVEY §3 entry points as single lazy Spark plans.
  */
object AnalysisQueries {

  /** §3.1 flagship: the whole time-resolution pipeline (unpivot → device
    * pairing → Δt grid → trigger-level bootstrap → per-replica MAD → argmin
    * → Gaussian fit) over a beta-scan-shaped table derived from lineitem
    * (trigger = orderkey, device = linenumber 1/2, timing = scaled price).
    * Deterministic (seeded); the physics correctness is pinned by
    * AnalysesSpec's injected-σ recovery test.
    *
    * CERTIFICATE ROW (r13 verdict item 4): the xxhash64 bootstrap and
    * the Nelder–Mead fit aren't portable SQL, but the chain's internal
    * CONSISTENCY is checkable per replica — the fitted Gaussian σ must
    * agree with the SAME replica's robust spread estimate at the chosen
    * grid point (`sigma_near_spread`, σ/kmad ∈ [0.5, 2] — both estimate
    * the same Δt distribution's width), the fitted center must sit well
    * inside that spread (`mu_centered`, |μ| ≤ kmad — Δt is
    * pair-differenced so it is centered by construction), and the
    * amplitude must be positive. Oracle = the replica index relation ×
    * literal-true verdicts; `flagship_time_resolution_caruana` keeps
    * the whole chain's VALUES hash-exact via the closed-form tier.
    */
  val flagship: Q = Q(
    "flagship_time_resolution",
    Some("""SELECT CAST(UNNEST(generate_series(0, 8)) AS INT) AS replica,
           |  TRUE AS sigma_near_spread, TRUE AS mu_centered,
           |  TRUE AS amplitude_positive
           |ORDER BY replica""".stripMargin),
    (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val base = li
        .filter(col("l_linenumber").isin(1, 2))
        .groupBy("l_orderkey", "l_linenumber")
        .agg(min("l_extendedprice").as("p"))
        .select(
          col("l_orderkey").as("n_trigger"),
          concat(lit("dev"), col("l_linenumber")).as("device_name"),
          (col("p") * lit(1e-9)).as("t0"))
      val wide = TimeResolution.KGrid
        .foldLeft(base) { (df, k) => df.withColumn(s"t_$k (s)", col("t0") + lit(k * 1e-10)) }
        .drop("t0")
      TimeResolution.run(
        wide,
        TimeResolution.Config("dev1", "dev2", replicas = 8, seed = 42L))
        .select(
          col("replica").cast("int").as("replica"),
          (col("sigma") / col("kmad") >= 0.5 && col("sigma") / col("kmad") <= 2.0)
            .as("sigma_near_spread"),
          (abs(col("mu")) <= col("kmad")).as("mu_centered"),
          (col("amplitude") > 0).as("amplitude_positive"))
        .orderBy("replica")
    })

  /** HASH-EXACT closed-form twin of the WHOLE flagship chain: Δt grid →
    * portable Poisson bootstrap (replica 0 = real pass) → exact MAD_std
    * per (replica, k1, k2) → per-replica argmin → histogram at the best
    * grid point → Caruana closed-form Gaussian fit. Same stages, each in
    * its bit-portable tier:
    *
    *  - the median inside MAD is rank-selected (a+b)/2 — sorting the
    *    same double multiset and averaging two values is bit-identical
    *    in any IEEE engine, so kmad needs no tolerance at all; median
    *    and MAD-median are FUSED into one linear window chain over a
    *    single exchange of the fan (two in-partition sorts, no
    *    self-join);
    *  - multiplicities are the Knuth-hash Poisson tier (the A10 recipe);
    *  - histogram bucketing shares one expression text (lo/hi are MIN/MAX
    *    — exact — so bucket indices match bit-for-bit);
    *  - the fit is the n1_gaussian_caruana recipe: integer power sums,
    *    DetAgg'd log-counts (absorbs LN last-ulp), shared Cramer text.
    *
    * The iterative Nelder–Mead flagship keeps its spec-checked σ-recovery
    * evidence; this twin gives the headline pipeline a full DuckDB
    * oracle. Δt is carried in PICOSECONDS so round-6 output columns sit
    * far from the double noise floor.
    */
  val flagshipCaruana: Q = {
    val R = 4 // bootstrap replicas 1..R + the real pass (replica 0)
    val bins = 50
    import graft.fit.ClosedForm
    import graft.functions.DetAgg.{Sql => D}
    val (det, na, nb, nc) = ClosedForm.cramerTexts
    val wdT = "((hi - lo) / 5.0e1)"
    val (muT, sgT, amT) = ClosedForm.paramTextsCols(s"lo + 2.55e1 * $wdT", wdT)
    val multKey = "n_trigger * 131 + r.replica * 104729"
    val bucketT =
      "CAST(LEAST(GREATEST(FLOOR((dps - lo) / ((hi - lo) / 5.0e1)), 0), 49) AS BIGINT)"
    def medianSel(v: String) =
      s"CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT) " +
        s"OR rn = CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT) THEN $v END"
    Q(
      "flagship_time_resolution_caruana",
      Some(s"""WITH base AS (
              |  SELECT l_orderkey AS n_trigger, l_linenumber AS dev,
              |    MIN(l_extendedprice) * 1.0e-9 AS t0
              |  FROM lineitem WHERE l_linenumber IN (1, 2) GROUP BY 1, 2),
              |pa AS (SELECT n_trigger, t0 AS t0a FROM base WHERE dev = 1),
              |pb AS (SELECT n_trigger, t0 AS t0b FROM base WHERE dev = 2),
              |dt AS (
              |  SELECT n_trigger, k1, k2,
              |    ((t0a + k1 * 1.0e-10) - (t0b + k2 * 1.0e-10)) * 1.0e12 AS dps
              |  FROM pa JOIN pb USING (n_trigger)
              |  CROSS JOIN (SELECT UNNEST(generate_series(1, 9)) * 10 AS k1) g1
              |  CROSS JOIN (SELECT UNNEST(generate_series(1, 9)) * 10 AS k2) g2),
              |fan AS (
              |  SELECT dt.*, r.replica,
              |    CASE WHEN r.replica = 0 THEN 1
              |         ELSE ${Bootstrap.Sql.portableMultiplicity(multKey)} END AS m
              |  FROM dt CROSS JOIN (SELECT UNNEST(generate_series(0, $R)) AS replica) r),
              |fanp AS (SELECT * FROM fan WHERE m > 0),
              |fanx AS (SELECT f.* FROM fanp f, LATERAL unnest(generate_series(1, m)) AS dup(i)),
              |r1 AS (SELECT replica, k1, k2, dps,
              |    ROW_NUMBER() OVER (PARTITION BY replica, k1, k2 ORDER BY dps) AS rn,
              |    COUNT(*) OVER (PARTITION BY replica, k1, k2) AS n
              |  FROM fanx),
              |med AS (SELECT replica, k1, k2,
              |    SUM(${medianSel("dps")}) / COUNT(${medianSel("dps")}) AS md
              |  FROM r1 GROUP BY 1, 2, 3),
              |r2 AS (SELECT f.replica, f.k1, f.k2, f.dps, ABS(f.dps - m.md) AS adev
              |  FROM fanx f JOIN med m USING (replica, k1, k2)),
              |r3 AS (SELECT replica, k1, k2, dps, adev,
              |    ROW_NUMBER() OVER (PARTITION BY replica, k1, k2 ORDER BY adev) AS rn,
              |    COUNT(*) OVER (PARTITION BY replica, k1, k2) AS n
              |  FROM r2),
              |sp AS (SELECT replica, k1, k2,
              |    ROUND(SUM(${medianSel("adev")}) / COUNT(${medianSel("adev")}) * 1.4826e0, 6)
              |      AS kmad,
              |    MIN(dps) AS lo, MAX(dps) AS hi
              |  FROM r3 GROUP BY 1, 2, 3),
              |best AS (SELECT replica, k1, k2, kmad, lo, hi FROM (
              |    SELECT sp.*, ROW_NUMBER() OVER (PARTITION BY replica
              |      ORDER BY kmad, k1, k2) AS brn FROM sp) WHERE brn = 1),
              |hs AS (SELECT f.replica, b.lo, b.hi, f.m, $bucketT AS bucket
              |  FROM fanp f JOIN best b USING (replica, k1, k2)),
              |hist AS (SELECT replica, bucket, SUM(m) AS cnt,
              |    MIN(lo) AS lo, MIN(hi) AS hi
              |  FROM hs GROUP BY 1, 2),
              |uy AS (SELECT replica, bucket - 25 AS u, LN(CAST(cnt AS DOUBLE)) AS y, lo, hi
              |  FROM hist),
              |mm AS (SELECT replica,
              |    CAST(COUNT(*) AS DOUBLE) AS s0,
              |    CAST(SUM(u) AS DOUBLE) AS su,
              |    CAST(SUM(u*u) AS DOUBLE) AS su2,
              |    CAST(SUM(u*u*u) AS DOUBLE) AS su3,
              |    CAST(SUM(u*u*u*u) AS DOUBLE) AS su4,
              |    ${D.dsum("y")} AS sy,
              |    ${D.dsum("u * y")} AS suy,
              |    ${D.dsum("u * u * y")} AS su2y,
              |    MIN(lo) AS lo, MIN(hi) AS hi
              |  FROM uy GROUP BY 1),
              |abc AS (SELECT replica, lo, hi,
              |    ($na)/($det) AS a, ($nb)/($det) AS b, ($nc)/($det) AS c FROM mm),
              |fits AS (SELECT replica, $muT AS mu, $sgT AS sigma, $amT AS amplitude FROM abc)
              |SELECT b.replica, CAST(b.k1 AS BIGINT) AS k1, CAST(b.k2 AS BIGINT) AS k2,
              |  b.kmad, ROUND(f.mu, 6) AS mu, ROUND(f.sigma, 6) AS sigma,
              |  ROUND(f.amplitude, 6) AS amplitude
              |FROM best b JOIN fits f USING (replica)""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.DetAgg
        val li = Tables.load(s, dir, "lineitem")
        // the per-(trigger, device) timing base is referenced by BOTH
        // sides of the device self-join and (through the fan) by both the
        // MAD chain and the histogram pass — left lazy, lineitem gets
        // scanned and pre-aggregated four times. It is tiny relative to
        // the fan (one row per trigger×device, no 81×(R+1) expansion), so
        // scratch-materialize it once; the fan explode itself stays lazy
        // and recomputes from this scan — generating 8M rows from 40k via
        // codegen'd explodes is cheaper than caching them (measured ~2×).
        val base = graft.pipeline.PipelineStage.scratch(
          li.filter(col("l_linenumber").isin(1, 2))
            .groupBy("l_orderkey", "l_linenumber")
            .agg(min("l_extendedprice").as("p"))
            .select(
              col("l_orderkey").as("n_trigger"), col("l_linenumber").as("dev"),
              (col("p") * lit(1.0e-9)).as("t0")),
          "caruana-base")
        val pa = base.filter(col("dev") === 1).select(col("n_trigger"), col("t0").as("t0a"))
        val pb = base.filter(col("dev") === 2).select(col("n_trigger"), col("t0").as("t0b"))
        // SHUFFLE-MINIMAL fan: the window needs rows clustered by
        // (replica, k1, k2), but hash partitioning on the SUBSET
        // (replica, k1) already satisfies that clustering — so only the
        // replica and k1 dimensions are exploded before the wire and the
        // 9× k2 expansion (and the dps arithmetic) happen AFTER the
        // exchange, inside the already-clustered partitions. The shuffle
        // moves triggers×(R+1)×9 narrow rows instead of the full
        // triggers×(R+1)×81 fan — 9× less — and the plan below the
        // window is Exchange(replica, k1) → Generate(k2) → Sort, with no
        // second exchange anywhere in the median chain.
        val fanp = pa.join(pb, "n_trigger")
          .withColumn("replica", explode(sequence(lit(0), lit(R))))
          .withColumn(
            "m",
            when(col("replica") === 0, 1).otherwise(
              Bootstrap.portableMultiplicity(
                col("n_trigger") * lit(131L) + col("replica") * lit(104729L))))
          .filter(col("m") > 0)
          .withColumn("k1", explode(sequence(lit(10), lit(90), lit(10))))
          .select(col("replica"), col("k1"), col("m"), col("t0a"), col("t0b"))
          .repartition(col("replica"), col("k1"))
          .withColumn("k2", explode(sequence(lit(10), lit(90), lit(10))))
          .withColumn(
            "dps",
            ((col("t0a") + col("k1") * lit(1.0e-10))
              - (col("t0b") + col("k2") * lit(1.0e-10))) * lit(1.0e12))
          .select("replica", "k1", "k2", "dps", "m")
        val keys = Seq("replica", "k1", "k2")
        val pw = Window.partitionBy(keys.map(col): _*)
        // WEIGHTED exact median: a row of weight m covers positions
        // (cum−m, cum] of the would-be exploded sequence, so the value at
        // target position p is the row with cum−m < p ≤ cum. The two
        // middle positions are selected by running-weight arithmetic —
        // bit-identical to exploding m copies and rank-selecting (same
        // multiset, same positional values, (a+b)/2 over ≤2 terms), but
        // the explode never materializes. Tie order inside equal dps runs
        // doesn't matter: every covering row holds the same value.
        val hitsExpr =
          "(CASE WHEN cum - m < CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT) " +
            "AND CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT) <= cum THEN 1 ELSE 0 END) + " +
            "(CASE WHEN cum - m < CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT) " +
            "AND CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT) <= cum THEN 1 ELSE 0 END)"
        // deliberately LAZY: the Δt fan is recomputed for the histogram
        // pass — it is a cheap scan+join+explode, and materializing 60M
        // rows to a cache (measured) costs nearly 2× what the recompute
        // does
        val result = {
          // FUSED median→MAD-median: one LINEAR chain over the fan. The
          // group median is a whole-partition window aggregate of the
          // rank-selected hits (sum(dps·hits)/sum(hits) — summing the ≤2
          // selected terms, zeros are exact no-ops, so the value is
          // bit-identical to the former groupBy+join staging), which
          // keeps |dps − med| a projection over the SAME frame. The fan
          // is computed and SHUFFLED once — hashpartitioning(replica,
          // k1,k2) from the first window carries through to the adev
          // window, the final aggregate, and the argmin, so the only
          // per-pass cost left is the two in-partition sorts (dps, adev)
          // that bit-exact medians inherently require. The former shape
          // branched fanp into two window+join subtrees: two fan
          // computations, two exchanges.
          // windows sharing one (partition, order) spec fuse into a
          // single Window operator even with different frames — so cum
          // (running) and n (unbounded) ride one dps-ordered pass, and
          // the md sums ride one more pass over the same ordering (no
          // re-sort: the child is already dps-sorted). 3 window passes,
          // 2 sorts, 1 exchange total.
          val dpsW = pw.orderBy(col("dps"))
          val adevW = pw.orderBy(col("adev"))
          def running(w: org.apache.spark.sql.expressions.WindowSpec) =
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          def whole(w: org.apache.spark.sql.expressions.WindowSpec) =
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          val ranked = fanp
            .withColumn("cum", sum(col("m")).over(running(dpsW)))
            .withColumn("n", sum(col("m")).over(whole(dpsW)))
            .withColumn("hits", expr(hitsExpr))
            .withColumn("md",
              sum(col("dps") * col("hits")).over(whole(dpsW))
                / sum(col("hits")).over(whole(dpsW)))
            .withColumn("adev", abs(col("dps") - col("md")))
            .withColumn("cum", sum(col("m")).over(running(adevW)))
            .withColumn("hits", expr(hitsExpr))
          val sp = ranked.groupBy(keys.map(col): _*).agg(
            round((sum(col("adev") * col("hits")) / sum(col("hits"))) * lit(1.4826e0), 6)
              .as("kmad"),
            min(col("dps")).as("lo"), max(col("dps")).as("hi"))
          val bestLazy = sp
            .withColumn("brn", row_number().over(
              Window.partitionBy("replica").orderBy(col("kmad"), col("k1"), col("k2"))))
            .filter(col("brn") === 1)
            .select("replica", "k1", "k2", "kmad", "lo", "hi")
          // best is ≤ replicas+1 rows but sits on top of the whole
          // two-sort fan chain, and it feeds BOTH the histogram join and
          // the final fit join — left lazy, each consumer re-executes the
          // chain. Materialize it eagerly (the flagship's own ≤R+1-row
          // collect discipline) so the heavy chain runs exactly once.
          val best = s.createDataFrame(
            java.util.Arrays.asList(bestLazy.collect(): _*), bestLazy.schema)
          // histogram pass without re-fanning: best holds exactly ONE
          // (k1, k2) per replica, so joining the trigger table to best on
          // replica alone reproduces precisely the fan rows of the best
          // grid cells (1/81 of the fan) — triggers×(R+1) rows, no 81×
          // explode, no second shuffle of the fan
          val hist = pa.join(pb, "n_trigger")
            .withColumn("replica", explode(sequence(lit(0), lit(R))))
            .withColumn(
              "m",
              when(col("replica") === 0, 1).otherwise(
                Bootstrap.portableMultiplicity(
                  col("n_trigger") * lit(131L) + col("replica") * lit(104729L))))
            .filter(col("m") > 0)
            .join(broadcast(best.select("replica", "k1", "k2", "lo", "hi")), Seq("replica"))
            .withColumn(
              "dps",
              ((col("t0a") + col("k1") * lit(1.0e-10))
                - (col("t0b") + col("k2") * lit(1.0e-10))) * lit(1.0e12))
            .withColumn("bucket", expr(bucketT))
            .groupBy("replica", "bucket")
            .agg(sum(col("m")).as("cnt"), min("lo").as("lo"), min("hi").as("hi"))
          val uy = hist.select(
            col("replica"), (col("bucket") - lit(25L)).as("u"),
            expr("LN(CAST(cnt AS DOUBLE))").as("y"), col("lo"), col("hi"))
          val mm = uy.groupBy("replica").agg(
            count(lit(1)).cast("double").as("s0"),
            sum(col("u")).cast("double").as("su"),
            sum(col("u") * col("u")).cast("double").as("su2"),
            sum(col("u") * col("u") * col("u")).cast("double").as("su3"),
            sum(col("u") * col("u") * col("u") * col("u")).cast("double").as("su4"),
            DetAgg.dsum(col("y")).as("sy"),
            DetAgg.dsum(col("u") * col("y")).as("suy"),
            DetAgg.dsum(col("u") * col("u") * col("y")).as("su2y"),
            min("lo").as("lo"), min("hi").as("hi"))
          val fits = mm
            .select(
              col("replica"), col("lo"), col("hi"),
              expr(s"($na)/($det)").as("a"),
              expr(s"($nb)/($det)").as("b"),
              expr(s"($nc)/($det)").as("c"))
            .select(
              col("replica"),
              expr(muT).as("mu"), expr(sgT).as("sigma"), expr(amT).as("amplitude"))
          best.join(fits, "replica")
            .select(
              col("replica").cast("long").as("replica"),
              col("k1").cast("long").as("k1"), col("k2").cast("long").as("k2"),
              col("kmad"),
              round(col("mu"), 6).as("mu"),
              round(col("sigma"), 6).as("sigma"),
              round(col("amplitude"), 6).as("amplitude"))
        }
        result
      })
  }

  /** §3's remaining entry point (r12 verdict, missing item 1): the
    * collected-charge pipeline — accept-flag join → per-replica
    * closed-form langauss MPV → bootstrap error → voltage-sweep
    * assembly → Coulomb conversion with quadrature error — composed
    * from [[graft.analyses.CollectedCharge]] over a beta-scan-shaped
    * corpus derived from lineitem/orders (trigger = orderkey, device =
    * linenumber 1/2, charge = price-scaled integers, 4 voltage
    * sub-measurements from orderkey mod 4; accept flags from orders,
    * the clean_beta_scan join shape). HASH-EXACT end to end:
    * integer-valued charges put every peak-bin MPV on the centi-unit
    * decimal grid, the replica medians/MADs are rank-selected, the
    * moments ride DetAgg decimals, and the Coulomb factor (theory
    * constant over a dyadic-valued PIN relation from nation) is one
    * shared IEEE tree. Column names are the reference's own
    * (`collected_charge_vs_bias_voltage_beta_scan.py:49-59,82-85`).
    */
  val collectedCharge: Q = {
    val R = graft.analyses.CollectedCharge.DefaultReplicas
    val bins = graft.analyses.CollectedCharge.DefaultBins
    import graft.analyses.{Calibration, CollectedCharge => CC}
    import graft.functions.DetAgg.{Sql => D}
    val theoryLit = String.format(
      java.util.Locale.ROOT, "%.17e", Double.box(Calibration.pinChargeTheory(50e-6)))
    val multKey = Bootstrap.Sql.replicaKey("n_trigger", "r.replica")
    val sel = CC.medianSel("mpv")
    val aSel = CC.medianSel("adev", rn = "arn")
    Q(
      "pipeline_collected_charge",
      Some(s"""WITH flags AS (
              |  SELECT o_orderkey AS n_trigger, (o_orderkey % 11 <> 3) AS accepted
              |  FROM orders),
              |base AS (
              |  SELECT l_orderkey AS n_trigger,
              |    100 + (l_orderkey % 4) * 25 AS v,
              |    'dev' || CAST(l_linenumber AS VARCHAR) AS dev,
              |    FLOOR(MIN(l_extendedprice) / 1.0e2) AS charge
              |  FROM lineitem WHERE l_linenumber IN (1, 2) GROUP BY 1, 2, 3),
              |acc AS (
              |  SELECT b.* FROM base b LEFT JOIN flags f USING (n_trigger)
              |  WHERE COALESCE(f.accepted, TRUE)),
              |fan AS (
              |  SELECT acc.*, r.replica,
              |    CASE WHEN r.replica = 0 THEN 1
              |         ELSE ${graft.operators.Bootstrap.Sql.portableMultiplicity(multKey)}
              |    END AS m
              |  FROM acc CROSS JOIN (SELECT UNNEST(generate_series(0, $R)) AS replica) r),
              |fanp AS (SELECT * FROM fan WHERE m > 0),
              |bounds AS (
              |  SELECT v, dev, replica, MIN(charge) AS lo, MAX(charge) AS hi
              |  FROM fanp GROUP BY 1, 2, 3),
              |hist AS (
              |  SELECT f.v, f.dev, f.replica, ${CC.bucketText("charge", bins)} AS bucket,
              |    SUM(m) AS cnt, MIN(lo) AS lo, MIN(hi) AS hi
              |  FROM fanp f JOIN bounds b USING (v, dev, replica) GROUP BY 1, 2, 3, 4),
              |pk AS (
              |  SELECT v, dev, replica, ${CC.mpvText(bins)} AS mpv FROM (
              |    SELECT *, ROW_NUMBER() OVER (PARTITION BY v, dev, replica
              |      ORDER BY cnt DESC, bucket) AS prn FROM hist)
              |  WHERE prn = 1),
              |r1 AS (
              |  SELECT v, dev, replica, mpv,
              |    ROW_NUMBER() OVER (PARTITION BY v, dev ORDER BY mpv) AS rn,
              |    COUNT(*) OVER (PARTITION BY v, dev) AS n
              |  FROM pk),
              |r2 AS (
              |  SELECT *,
              |    SUM($sel) OVER (PARTITION BY v, dev)
              |      / COUNT($sel) OVER (PARTITION BY v, dev) AS med
              |  FROM r1),
              |r3 AS (
              |  SELECT *, ABS(mpv - med) AS adev,
              |    ROW_NUMBER() OVER (PARTITION BY v, dev ORDER BY ABS(mpv - med)) AS arn
              |  FROM r2),
              |sw AS (
              |  SELECT v, dev,
              |    MAX(CASE WHEN replica = 0 THEN mpv END) AS von,
              |    ${D.davg("mpv")} AS mn, ROUND(${D.dstd("mpv")}, 6) AS sd,
              |    MAX(med) AS median,
              |    SUM($aSel) / COUNT($aSel) AS mad
              |  FROM r3 GROUP BY 1, 2),
              |pin AS (
              |  SELECT 80 + n_nationkey * 10 AS vpin,
              |    2.0e1 + n_nationkey * 5.0e-1 AS measured
              |  FROM nation),
              |fct AS (
              |  SELECT ${D.davg("measured")} AS sm, ${D.dstd("measured")} AS sd
              |  FROM pin WHERE vpin >= 100),
              |f2 AS (SELECT $theoryLit / sm AS fm, sd * $theoryLit / (sm * sm) AS fs
              |  FROM fct)
              |SELECT CAST(v AS VARCHAR) || 'V' AS "Measurement name",
              |  v AS "Bias voltage (V)", dev AS "Device name",
              |  von AS "Collected charge (V s) x_mpv value_on_data",
              |  mn AS "Collected charge (V s) x_mpv mean",
              |  sd AS "Collected charge (V s) x_mpv std",
              |  median AS "Collected charge (V s) x_mpv median",
              |  mad AS "Collected charge (V s) x_mpv MAD_std",
              |  median * fm AS "Collected charge (C)",
              |  SQRT((mad * fm) * (mad * fm) + (median * fs) * (median * fs))
              |    AS "Collected charge (C) std"
              |FROM sw CROSS JOIN f2 ORDER BY v, dev""".stripMargin),
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        val flags = Tables.load(s, dir, "orders").select(
          col("o_orderkey").as("n_trigger"),
          (col("o_orderkey") % 11 =!= 3).as("accepted"))
        // base = per (trigger, device) charge + voltage, accepted only —
        // referenced by the fan TWICE (bounds + histogram), so
        // scratch-materialize the small relation once (the Caruana
        // flagship discipline); the replica fan itself stays lazy
        val base = graft.pipeline.PipelineStage.scratch(
          graft.analyses.CollectedCharge.acceptFilter(
            li.filter(col("l_linenumber").isin(1, 2))
              .groupBy("l_orderkey", "l_linenumber")
              .agg(min("l_extendedprice").as("p"))
              .select(
                col("l_orderkey").as("n_trigger"),
                (lit(100) + (col("l_orderkey") % 4) * 25).as("v"),
                concat(lit("dev"), col("l_linenumber").cast("string")).as("dev"),
                expr("FLOOR(p / 1.0e2)").as("charge")),
            flags),
          "cc-base")
        val fan = CC.fanReplicas(base, "n_trigger", R)
        val mpvs = CC.mpvPerReplica(fan, Seq("v", "dev"), "charge", bins)
        val sweep = CC.sweepOverReplicas(mpvs, Seq("v", "dev"))
        val pin = Tables.load(s, dir, "nation").select(
          (lit(80) + col("n_nationkey") * 10).as("vpin"),
          expr("2.0e1 + n_nationkey * 5.0e-1").as("measured"))
          .filter(col("vpin") >= 100)
        val factor = pin
          .agg(
            graft.functions.DetAgg.davg(col("measured")).as("sm"),
            graft.functions.DetAgg.dstd(col("measured")).as("sd"))
          .select(
            expr(s"$theoryLit / sm").as("fm"),
            expr(s"sd * $theoryLit / (sm * sm)").as("fs"))
        CC.coulombConvert(sweep, factor)
          .select(
            concat(col("v").cast("string"), lit("V")).as("Measurement name"),
            col("v").as("Bias voltage (V)"),
            col("dev").as("Device name"),
            col("value_on_data").as("Collected charge (V s) x_mpv value_on_data"),
            col("mean").as("Collected charge (V s) x_mpv mean"),
            col("std").as("Collected charge (V s) x_mpv std"),
            col("median").as("Collected charge (V s) x_mpv median"),
            col("mad_std").as("Collected charge (V s) x_mpv MAD_std"),
            col("charge_c").as("Collected charge (C)"),
            col("charge_c_std").as("Collected charge (C) std"))
          .orderBy("Bias voltage (V)", "Device name")
      })
  }

  /** §3.1's VOLTAGE-SWEEP federation (r12 verdict, missing item 2) —
    * the jitter-vs-bias-voltage assembly of
    * `scripts/time_resolution_beta_scan.py:364-421`: enumerate the
    * per-voltage sub-measurements, run the single-voltage analysis in
    * each, then union (Jitter, Jitter error) per voltage, sorted. The
    * reference drives this as a directory-walk loop of script
    * invocations; here the voltage is a DATA dimension, so the whole
    * sweep is ONE plan — the [[flagshipCaruana]] chain (Δt grid →
    * portable bootstrap → fused exact-median MAD → per-replica argmin →
    * histogram → Caruana fit) with every key prefixed by `v`, closed
    * per voltage by: Jitter = σ of replica 0 ("estimator value on the
    * data", `:390-393`) and Jitter error = sample std of the bootstrap
    * replicas' σ (`:388`, bootstrap_results only — the data value is
    * excluded), through scale-12 decimal moments (σ is round-6, so σ²
    * sums are exact at scale 12; VARCHAR-routed on the oracle side
    * because pico-unit sums exceed 2^53).
    *
    * Voltages: 3 sub-measurements from l_orderkey mod 3 — each trigger
    * belongs to exactly one, mirroring disjoint sub-measurement
    * directories. Δt in picoseconds (the flagship discipline).
    */
  private object TrSweepChain {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val R = 4
    val bins = 50
    import graft.fit.ClosedForm
    import graft.functions.DetAgg
    import graft.functions.DetAgg.{Sql => D}
    val (det, na, nb, nc) = ClosedForm.cramerTexts
    val wdT = "((hi - lo) / 5.0e1)"
    val (muT, sgT, amT) = ClosedForm.paramTextsCols(s"lo + 2.55e1 * $wdT", wdT)
    // shared house texts (r13 review: no hand-copied load-bearing text)
    val multKey = Bootstrap.Sql.replicaKey("n_trigger", "r.replica")
    val bucketT = graft.analyses.CollectedCharge.bucketText("dps", 50)
    def medianSel(v: String) = graft.analyses.CollectedCharge.medianSel(v)
    // sample std over the bootstrap σs ONLY (replica > 0): scale-12
    // moments — σ is round-6 so σ² is exact at scale 12
    val sgB = "CASE WHEN replica > 0 THEN sg END"
    val errT =
      s"ROUND(SQRT((${D.dsumP(s"($sgB) * ($sgB)")} " +
        s"- ${D.dsum(sgB)} * ${D.dsum(sgB)} / COUNT($sgB)) " +
        s"/ (COUNT($sgB) - 1)), 6)"
    val oracle: String = s"""WITH base AS (
              |  SELECT l_orderkey AS n_trigger, l_linenumber AS dev,
              |    100 + (l_orderkey % 3) * 50 AS v,
              |    MIN(l_extendedprice) * 1.0e-9 AS t0
              |  FROM lineitem WHERE l_linenumber IN (1, 2) GROUP BY 1, 2, 3),
              |pa AS (SELECT n_trigger, v, t0 AS t0a FROM base WHERE dev = 1),
              |pb AS (SELECT n_trigger, v, t0 AS t0b FROM base WHERE dev = 2),
              |dt AS (
              |  SELECT n_trigger, v, k1, k2,
              |    ((t0a + k1 * 1.0e-10) - (t0b + k2 * 1.0e-10)) * 1.0e12 AS dps
              |  FROM pa JOIN pb USING (n_trigger, v)
              |  CROSS JOIN (SELECT UNNEST(generate_series(1, 9)) * 10 AS k1) g1
              |  CROSS JOIN (SELECT UNNEST(generate_series(1, 9)) * 10 AS k2) g2),
              |fan AS (
              |  SELECT dt.*, r.replica,
              |    CASE WHEN r.replica = 0 THEN 1
              |         ELSE ${Bootstrap.Sql.portableMultiplicity(multKey)} END AS m
              |  FROM dt CROSS JOIN (SELECT UNNEST(generate_series(0, $R)) AS replica) r),
              |fanp AS (SELECT * FROM fan WHERE m > 0),
              |fanx AS (SELECT f.* FROM fanp f, LATERAL unnest(generate_series(1, m)) AS dup(i)),
              |r1 AS (SELECT v, replica, k1, k2, dps,
              |    ROW_NUMBER() OVER (PARTITION BY v, replica, k1, k2 ORDER BY dps) AS rn,
              |    COUNT(*) OVER (PARTITION BY v, replica, k1, k2) AS n
              |  FROM fanx),
              |med AS (SELECT v, replica, k1, k2,
              |    SUM(${medianSel("dps")}) / COUNT(${medianSel("dps")}) AS md
              |  FROM r1 GROUP BY 1, 2, 3, 4),
              |r2 AS (SELECT f.v, f.replica, f.k1, f.k2, f.dps, ABS(f.dps - m.md) AS adev
              |  FROM fanx f JOIN med m USING (v, replica, k1, k2)),
              |r3 AS (SELECT v, replica, k1, k2, dps, adev,
              |    ROW_NUMBER() OVER (PARTITION BY v, replica, k1, k2 ORDER BY adev) AS rn,
              |    COUNT(*) OVER (PARTITION BY v, replica, k1, k2) AS n
              |  FROM r2),
              |sp AS (SELECT v, replica, k1, k2,
              |    ROUND(SUM(${medianSel("adev")}) / COUNT(${medianSel("adev")}) * 1.4826e0, 6)
              |      AS kmad,
              |    MIN(dps) AS lo, MAX(dps) AS hi
              |  FROM r3 GROUP BY 1, 2, 3, 4),
              |best AS (SELECT v, replica, k1, k2, lo, hi FROM (
              |    SELECT sp.*, ROW_NUMBER() OVER (PARTITION BY v, replica
              |      ORDER BY kmad, k1, k2) AS brn FROM sp) WHERE brn = 1),
              |hs AS (SELECT f.v, f.replica, b.lo, b.hi, f.m, $bucketT AS bucket
              |  FROM fanp f JOIN best b USING (v, replica, k1, k2)),
              |hist AS (SELECT v, replica, bucket, SUM(m) AS cnt,
              |    MIN(lo) AS lo, MIN(hi) AS hi
              |  FROM hs GROUP BY 1, 2, 3),
              |uy AS (SELECT v, replica, bucket - 25 AS u, LN(CAST(cnt AS DOUBLE)) AS y, lo, hi
              |  FROM hist),
              |mm AS (SELECT v, replica,
              |    CAST(COUNT(*) AS DOUBLE) AS s0,
              |    CAST(SUM(u) AS DOUBLE) AS su,
              |    CAST(SUM(u*u) AS DOUBLE) AS su2,
              |    CAST(SUM(u*u*u) AS DOUBLE) AS su3,
              |    CAST(SUM(u*u*u*u) AS DOUBLE) AS su4,
              |    ${D.dsum("y")} AS sy,
              |    ${D.dsum("u * y")} AS suy,
              |    ${D.dsum("u * u * y")} AS su2y,
              |    MIN(lo) AS lo, MIN(hi) AS hi
              |  FROM uy GROUP BY 1, 2),
              |abc AS (SELECT v, replica, lo, hi,
              |    ($na)/($det) AS a, ($nb)/($det) AS b, ($nc)/($det) AS c FROM mm),
              |fits AS (SELECT v, replica, ROUND($sgT, 6) AS sg FROM abc)
              |SELECT CAST(v AS VARCHAR) || 'V' AS "Measurement name",
              |  v AS "Bias voltage (V)",
              |  MAX(CASE WHEN replica = 0 THEN sg END) AS "Jitter (s)",
              |  $errT AS "Jitter (s) error"
              |FROM fits GROUP BY 1, 2 ORDER BY 2""".stripMargin

    /** Per-(trigger, device, voltage) timing base, scratch-materialized
      * (referenced by the fan TWICE — the flagship discipline).
      */
    def mkBase(s: SparkSession, dir: String): DataFrame =
      graft.pipeline.PipelineStage.scratch(
        Tables.load(s, dir, "lineitem")
          .filter(col("l_linenumber").isin(1, 2))
          .groupBy("l_orderkey", "l_linenumber")
          .agg(min("l_extendedprice").as("p"))
          .select(
            col("l_orderkey").as("n_trigger"), col("l_linenumber").as("dev"),
            (lit(100) + (col("l_orderkey") % 3) * 50).as("v"),
            (col("p") * lit(1.0e-9)).as("t0")),
        "trsweep-base")

    /** The whole sweep chain from a (n_trigger, dev, v, t0) base —
      * shared by the lineitem-sourced registry row and the
      * catalog-layout-sourced one, so "same result through the catalog
      * layer" is one code path with two sources.
      */
    def chain(s: SparkSession, base: DataFrame): DataFrame = {
        import org.apache.spark.sql.expressions.Window
        val pa = base.filter(col("dev") === 1)
          .select(col("n_trigger"), col("v"), col("t0").as("t0a"))
        val pb = base.filter(col("dev") === 2)
          .select(col("n_trigger"), col("v"), col("t0").as("t0b"))
        // the flagshipCaruana shuffle-minimal fan with the voltage
        // dimension: explode replica + k1 before the wire, k2 + the dps
        // arithmetic after it; hash on (v, replica, k1) satisfies the
        // (v, replica, k1, k2) window clustering, so the median chain
        // below costs ONE exchange and two in-partition sorts
        val fanp = pa.join(pb, Seq("n_trigger", "v"))
          .withColumn("replica", explode(sequence(lit(0), lit(R))))
          .withColumn(
            "m",
            when(col("replica") === 0, 1).otherwise(
              Bootstrap.portableMultiplicity(
                Bootstrap.replicaKey(col("n_trigger"), col("replica")))))
          .filter(col("m") > 0)
          .withColumn("k1", explode(sequence(lit(10), lit(90), lit(10))))
          .select(col("v"), col("replica"), col("k1"), col("m"), col("t0a"), col("t0b"))
          .repartition(col("v"), col("replica"), col("k1"))
          .withColumn("k2", explode(sequence(lit(10), lit(90), lit(10))))
          .withColumn(
            "dps",
            ((col("t0a") + col("k1") * lit(1.0e-10))
              - (col("t0b") + col("k2") * lit(1.0e-10))) * lit(1.0e12))
          .select("v", "replica", "k1", "k2", "dps", "m")
        val keys = Seq("v", "replica", "k1", "k2")
        val pw = Window.partitionBy(keys.map(col): _*)
        val hitsExpr =
          "(CASE WHEN cum - m < CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT) " +
            "AND CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT) <= cum THEN 1 ELSE 0 END) + " +
            "(CASE WHEN cum - m < CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT) " +
            "AND CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT) <= cum THEN 1 ELSE 0 END)"
        val dpsW = pw.orderBy(col("dps"))
        val adevW = pw.orderBy(col("adev"))
        def running(w: org.apache.spark.sql.expressions.WindowSpec) =
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def whole(w: org.apache.spark.sql.expressions.WindowSpec) =
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val ranked = fanp
          .withColumn("cum", sum(col("m")).over(running(dpsW)))
          .withColumn("n", sum(col("m")).over(whole(dpsW)))
          .withColumn("hits", expr(hitsExpr))
          .withColumn("md",
            sum(col("dps") * col("hits")).over(whole(dpsW))
              / sum(col("hits")).over(whole(dpsW)))
          .withColumn("adev", abs(col("dps") - col("md")))
          .withColumn("cum", sum(col("m")).over(running(adevW)))
          .withColumn("hits", expr(hitsExpr))
        val sp = ranked.groupBy(keys.map(col): _*).agg(
          round((sum(col("adev") * col("hits")) / sum(col("hits"))) * lit(1.4826e0), 6)
            .as("kmad"),
          min(col("dps")).as("lo"), max(col("dps")).as("hi"))
        val bestLazy = sp
          .withColumn("brn", row_number().over(
            Window.partitionBy("v", "replica").orderBy(col("kmad"), col("k1"), col("k2"))))
          .filter(col("brn") === 1)
          .select("v", "replica", "k1", "k2", "lo", "hi")
        // ≤ 3·(R+1) rows on top of the heavy chain, consumed by the
        // histogram join — materialize eagerly (flagship discipline)
        val best = s.createDataFrame(
          java.util.Arrays.asList(bestLazy.collect(): _*), bestLazy.schema)
        // histogram pass without re-fanning: ONE (k1, k2) per
        // (v, replica), so joining on (v, replica) alone reproduces the
        // best-cell fan rows — no 81× explode
        val hist = pa.join(pb, Seq("n_trigger", "v"))
          .withColumn("replica", explode(sequence(lit(0), lit(R))))
          .withColumn(
            "m",
            when(col("replica") === 0, 1).otherwise(
              Bootstrap.portableMultiplicity(
                Bootstrap.replicaKey(col("n_trigger"), col("replica")))))
          .filter(col("m") > 0)
          .join(broadcast(best), Seq("v", "replica"))
          .withColumn(
            "dps",
            ((col("t0a") + col("k1") * lit(1.0e-10))
              - (col("t0b") + col("k2") * lit(1.0e-10))) * lit(1.0e12))
          .withColumn("bucket", expr(bucketT))
          .groupBy("v", "replica", "bucket")
          .agg(sum(col("m")).as("cnt"), min("lo").as("lo"), min("hi").as("hi"))
        val uy = hist.select(
          col("v"), col("replica"), (col("bucket") - lit(25L)).as("u"),
          expr("LN(CAST(cnt AS DOUBLE))").as("y"), col("lo"), col("hi"))
        val mm = uy.groupBy("v", "replica").agg(
          count(lit(1)).cast("double").as("s0"),
          sum(col("u")).cast("double").as("su"),
          sum(col("u") * col("u")).cast("double").as("su2"),
          sum(col("u") * col("u") * col("u")).cast("double").as("su3"),
          sum(col("u") * col("u") * col("u") * col("u")).cast("double").as("su4"),
          DetAgg.dsum(col("y")).as("sy"),
          DetAgg.dsum(col("u") * col("y")).as("suy"),
          DetAgg.dsum(col("u") * col("u") * col("y")).as("su2y"),
          min("lo").as("lo"), min("hi").as("hi"))
        val fits = mm
          .select(
            col("v"), col("replica"), col("lo"), col("hi"),
            expr(s"($na)/($det)").as("a"),
            expr(s"($nb)/($det)").as("b"),
            expr(s"($nc)/($det)").as("c"))
          .select(col("v"), col("replica"), round(expr(sgT), 6).as("sg"))
        // the Column-API mirror of errT (the SQL text is oracle-only:
        // its VARCHAR-routed decimal→double cast doesn't parse in
        // Spark, and DetAgg.dsum/dsumP are already correctly rounded)
        val sgB2 = when(col("replica") > 0, col("sg"))
        fits.groupBy(col("v"))
          .agg(
            max(when(col("replica") === 0, col("sg"))).as("Jitter (s)"),
            round(sqrt(
              (DetAgg.dsumP(sgB2 * sgB2)
                - DetAgg.dsum(sgB2) * DetAgg.dsum(sgB2) / count(sgB2))
                / (count(sgB2) - lit(1))), 6).as("Jitter (s) error"))
          .select(
            concat(col("v").cast("string"), lit("V")).as("Measurement name"),
            col("v").as("Bias voltage (V)"),
            col("Jitter (s)"), col("Jitter (s) error"))
          .orderBy("Bias voltage (V)")
    }
  }

  val trSweep: Q = Q(
    "pipeline_tr_sweep",
    Some(TrSweepChain.oracle),
    (s, dir) => TrSweepChain.chain(s, TrSweepChain.mkBase(s, dir)))

  /** FILESYSTEM-AS-CATALOG end to end (r13 verdict item 6): the same
    * voltage sweep, but the per-voltage sub-measurements are REAL
    * DIRECTORIES — the timing base is materialized under
    * `measurement_name=<ts>_MS1_beta_<v>V/` (SURVEY §1.1's
    * directory-per-measurement convention, hive-partitioned), and the
    * voltage is re-derived at scan time from the DIRECTORY NAME via
    * [[graft.catalog.MeasurementCatalog.voltageCol]] (§1.4). Identical
    * oracle as `pipeline_tr_sweep`: hash-equality proves the catalog
    * round trip — write layout, walk directories, parse names — is
    * lossless through the whole analysis chain. PlanSpec pins that a
    * single-voltage query over this layout prunes to ONE partition
    * directory, the relational form of the reference's directory walk.
    */
  val catalogTrSweep: Q = Q(
    "catalog_tr_sweep",
    Some(TrSweepChain.oracle),
    (s, dir) => {
      import graft.catalog.MeasurementCatalog
      val named = TrSweepChain.mkBase(s, dir)
        .withColumn(
          "measurement_name",
          concat(lit("20220101000000_MS1_beta_"), col("v").cast("string"), lit("V")))
        .drop("v")
      val layout = graft.pipeline.PipelineStage.scratchPartitioned(
        named, "catalog-tr", "measurement_name")
      TrSweepChain.chain(s, layout.select(
        col("n_trigger"), col("dev"),
        MeasurementCatalog.voltageCol(col("measurement_name")).cast("long").as("v"),
        col("t0")))
    })

  def all: Seq[Q] = Seq(flagship, flagshipCaruana, collectedCharge, trSweep,
    catalogTrSweep)
}
