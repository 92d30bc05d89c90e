package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.DetAgg
import graft.functions.DetAgg.{Sql => D}
import graft.sources.Tables

/** Multi-level aggregation and sketch queries — OLAP surface the
  * reference's pandas scripts approximate with repeated groupbys
  * (reference computes per-level summaries by re-aggregating in the
  * driver; here each is ONE pass producing every level).
  *
  * At 100 TB: rollup/cube/grouping-sets are a single shuffle with
  * partial aggregation per level (Catalyst expands the grouping sets
  * before the exchange, so the map side combines for all levels at
  * once); approx_count_distinct is a mergeable HLL++ sketch — constant
  * memory per group where exact distinct would shuffle every value.
  */
object GroupingQueries {

  /** ROLLUP over (returnflag, linestatus): per-pair, per-flag, and grand
    * totals in one pass. Grouping flags distinguish rolled-up NULLs from
    * data NULLs.
    */
  val rollup: Q = Q(
    "agg_rollup",
    Some(s"""SELECT l_returnflag, l_linestatus,
            |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
            |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
            |  COUNT(*) AS n, ${D.dsum("l_quantity")} AS sum_qty
            |FROM lineitem
            |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("n"),
          DetAgg.dsum(col("l_quantity")).as("sum_qty")))

  /** CUBE over (returnflag, shipmode-ish tag): all 4 grouping levels in
    * one pass.
    */
  val cube_ : Q = Q(
    "agg_cube",
    Some(s"""SELECT l_returnflag, l_linestatus,
            |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
            |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
            |  COUNT(*) AS n, ${D.dsum("l_extendedprice")} AS sum_price
            |FROM lineitem
            |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          count(lit(1)).as("n"),
          DetAgg.dsum(col("l_extendedprice")).as("sum_price")))

  /** Explicit GROUPING SETS — the general form (reference's per-script
    * summary tables become one declarative pass). Expressed via Spark SQL
    * on a temp view: the DataFrame API's rollup/cube are the common
    * cases; GROUPING SETS is SQL surface in both engines.
    */
  val groupingSets: Q = Q(
    "agg_grouping_sets",
    Some(s"""SELECT l_returnflag, l_linestatus,
            |  COUNT(*) AS n, ${D.dsum("l_quantity")} AS sum_qty
            |FROM lineitem
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
    (s, dir) => {
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("graft_gs_lineitem")
      s.sql(s"""SELECT l_returnflag, l_linestatus,
               |  COUNT(*) AS n,
               |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
               |FROM graft_gs_lineitem
               |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    })

  /** HLL++ approximate distinct next to the exact count — rows-only (the
    * sketch estimate is engine-specific); GroupingSpec pins the relative
    * error. The exact twin `agg_distinct_exact` is the oracle row.
    */
  val approxDistinct: Q = Q(
    "agg_approx_distinct",
    // accuracy CERTIFICATE (the t-digest pattern): the HLL estimate is
    // engine-specific, so the oracle checks the property instead — the
    // exact count must match AND the Spark-side verdict that the sketch
    // landed within 5% must be true. DuckDB emits the exact counts with
    // literal TRUE; the hash matches iff every group's estimate is in
    // tolerance.
    Some("""SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact,
           |  TRUE AS within_5pct
           |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    (s, dir) =>
      // dedup (flag, key) FIRST: mixing countDistinct with the HLL
      // aggregate in one pass makes Catalyst Expand every input row ×2
      // and run the whole scan through a non-codegen ObjectHashAggregate.
      // The HLL sketch is insertion-idempotent — the estimate over the
      // deduplicated pairs is REGISTER-identical to the estimate over the
      // raw multiset — so pre-aggregating keeps the wide pass in
      // whole-stage codegen with map-side partials and feeds both
      // aggregates from the (much smaller) distinct-pairs relation.
      Tables.load(s, dir, "lineitem")
        .select("l_returnflag", "l_orderkey").distinct()
        .groupBy("l_returnflag")
        .agg(
          // count(col) over the deduped pairs == countDistinct(col): both
          // skip nulls, and the pairs are unique by construction
          count(col("l_orderkey")).as("n_exact"),
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("n_approx"))
        .select(
          col("l_returnflag"), col("n_exact"),
          (abs(col("n_approx").cast("double") - col("n_exact"))
            / col("n_exact") < lit(0.05)).as("within_5pct")))

  /** Exact-distinct twin of [[approxDistinct]] — hash-checked. */
  val distinctExact: Q = Q(
    "agg_distinct_exact",
    Some("""SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_exact
           |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("n_exact")))

  /** t-digest quantiles with an in-engine accuracy certificate. The
    * sketch estimate itself is engine-specific (like [[approxDistinct]]),
    * so the ORACLE row checks the property that matters instead: for each
    * (group, q) the TRUE rank of the estimate — recomputed exactly
    * against the table — must sit within 1% of q. The Spark side emits
    * the boolean verdicts; the DuckDB side is the literal all-true
    * table, so the hash matches iff every estimate is in tolerance.
    */
  val tdigestQuantiles: Q = {
    val qs = Seq(0.25, 0.5, 0.75, 0.99)
    Q(
      "agg_tdigest",
      Some(s"""SELECT DISTINCT l_returnflag, q, TRUE AS ok
              |FROM lineitem
              |CROSS JOIN (VALUES ${qs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ")}) t(q)
              |ORDER BY l_returnflag, q""".stripMargin),
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("x"))
        val qsLit = array(qs.map(lit): _*)
        val est = li.groupBy("l_returnflag")
          .agg(graft.functions.TDigest.quantilesAgg(col("x"), qs).as("est"))
          .select(col("l_returnflag"), posexplode(col("est")).as(Seq("i", "est_v")))
          .withColumn("q", element_at(qsLit, col("i") + 1))
          .drop("i")
        li.join(broadcast(est), "l_returnflag")
          .groupBy("l_returnflag", "q")
          .agg(avg(when(col("x") <= col("est_v"), 1.0).otherwise(0.0)).as("rank"))
          .select(
            col("l_returnflag"), col("q"),
            (abs(col("rank") - col("q")) < lit(0.01)).as("ok"))
          .orderBy("l_returnflag", "q")
      })
  }

  /** Salted two-stage aggregation, oracle-checked against the PLAIN
    * aggregate — proving salting is a pure physical rewrite (decimal
    * partials merge exactly).
    */
  val saltedAgg: Q = Q(
    "skew_salted_agg",
    Some(s"""SELECT l_returnflag, ${D.dsum("l_quantity")} AS sum_qty,
            |  COUNT(*) AS n
            |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    (s, dir) =>
      graft.operators.Skew.saltedSumCount(
        Tables.load(s, dir, "lineitem"),
        Seq("l_returnflag"), col("l_quantity"), "sum_qty",
        saltBy = col("l_orderkey"), salts = 16))

  /** Salted fact×dim join (dim replicated ×8, sort-merge forced so the
    * salt actually spreads reducers), oracle-checked against the plain
    * join — same results, skew-proof physical plan.
    */
  val saltedJoin: Q = Q(
    "skew_salted_join",
    Some(s"""SELECT s_nationkey, ${D.dsum("l_quantity")} AS sum_qty,
            |  COUNT(*) AS n
            |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            |GROUP BY s_nationkey""".stripMargin),
    (s, dir) => {
      val fact = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_quantity"), col("l_orderkey"))
      val dim = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .hint("merge") // no broadcast: the scenario where salting matters
      graft.operators.Skew
        .saltedJoin(fact, dim, "s_suppkey", saltBy = col("l_orderkey"), salts = 8)
        .groupBy("s_nationkey")
        .agg(
          DetAgg.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
    })

  /** Grouped ordinary least squares (y ~ a + b·x per group) from exact
    * DetAgg moment sums — slope, intercept, and r² as one fixed IEEE
    * tree shared with the oracle, UNROUNDED. The r5-r8 `ROUND(r2, 9)`
    * was misdiagnosed as "engine-internal reassociation": the real
    * divergence was the ORACLE's decimal→double cast of sy2 (Σ price²,
    * ~20 significant digits) double-rounding 1 ulp off nearest —
    * [[graft.functions.DetAgg.Sql.dsumExact]] fixes the cast, so the
    * whole row is bit-exact with no rounding anywhere. The
    * distributed-regression shape: one aggregation pass regardless of
    * group sizes.
    */
  val linreg: Q = {
    import graft.functions.DetAgg
    import graft.functions.DetAgg.{Sql => D}
    val slope = "(n * sxy - sx * sy) / (n * sx2 - sx * sx)"
    val icept = s"(sy - ($slope) * sx) / n"
    val r2 = s"(($slope) * ($slope)) * (n * sx2 - sx * sx) / (n * sy2 - sy * sy)"
    Q(
      "a12_linreg",
      // second moments via dsumProd — EXACT decimal products, never a
      // rounded double product: at sf1 the price² double's ulp crosses
      // the scale-6 cast boundary and the engines' per-row casts split
      // (measured: Σ price² apart by 0.52 µunits after 2M rows, r2 off
      // 3 ulp — this row is UNROUNDED by design, so it alone saw it)
      Some(s"""WITH m AS (
              |  SELECT l_returnflag,
              |    CAST(COUNT(*) AS DOUBLE) AS n,
              |    ${D.dsumExact("l_quantity")} AS sx,
              |    ${D.dsumExact("l_extendedprice")} AS sy,
              |    ${D.dsumProd("l_quantity", "l_extendedprice")} AS sxy,
              |    ${D.dsumProd("l_quantity", "l_quantity")} AS sx2,
              |    ${D.dsumProd("l_extendedprice", "l_extendedprice")} AS sy2
              |  FROM lineitem GROUP BY 1)
              |SELECT l_returnflag, $slope AS slope, $icept AS intercept, $r2 AS r2
              |FROM m""".stripMargin),
      (s, dir) =>
        Tables.load(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            DetAgg.dsum(col("l_quantity")).as("sx"),
            DetAgg.dsum(col("l_extendedprice")).as("sy"),
            DetAgg.dsumProd(col("l_quantity"), col("l_extendedprice")).as("sxy"),
            DetAgg.dsumProd(col("l_quantity"), col("l_quantity")).as("sx2"),
            DetAgg.dsumProd(col("l_extendedprice"), col("l_extendedprice")).as("sy2"))
          .select(
            col("l_returnflag"),
            expr(slope).as("slope"),
            expr(icept).as("intercept"),
            expr(r2).as("r2")))
  }

  /** Pairwise Pearson correlations in long form (col_a, col_b, corr) —
    * the feature-correlation matrix, one aggregation pass for all pairs,
    * every entry from exact decimal moments. Oracle moments use
    * [[graft.functions.DetAgg.Sql.dsumExact]] for first moments and
    * [[graft.functions.DetAgg.Sql.dsumProd]] for every product moment:
    * past ~1e9 product magnitude the double product's ulp crosses the
    * scale-6 cast boundary and the engines' per-row casts split (the
    * r15 sf1 finding on [[linreg]]); the factor-wise decimal product is
    * exact, so the moments agree at every scale by construction.
    */
  val corrMatrix: Q = {
    import graft.functions.DetAgg
    import graft.functions.DetAgg.{Sql => D}
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    def corrText(a: String, b: String) =
      s"(n * s_${a}_${b} - s_$a * s_$b)" +
        s" / (SQRT(n * s2_$a - s_$a * s_$a) * SQRT(n * s2_$b - s_$b * s_$b))"
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    Q(
      "a13_corr_matrix",
      Some(s"""WITH m AS (
              |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
              |    ${cols.map(c => s"${D.dsumExact(c)} AS s_$c").mkString(",\n    ")},
              |    ${cols.map(c => s"${D.dsumProd(c, c)} AS s2_$c").mkString(",\n    ")},
              |    ${pairs.map { case (a, b) => s"${D.dsumProd(a, b)} AS s_${a}_${b}" }
                 .mkString(",\n    ")}
              |  FROM lineitem)
              |${pairs.map { case (a, b) =>
                 s"SELECT '$a' AS col_a, '$b' AS col_b, ${corrText(a, b)} AS corr FROM m"
               }.mkString("\nUNION ALL\n")}""".stripMargin),
      (s, dir) => {
        val m = Tables.load(s, dir, "lineitem").agg(
          count(lit(1)).cast("double").as("n"),
          (cols.map(c => DetAgg.dsum(col(c)).as(s"s_$c")) ++
            cols.map(c => DetAgg.dsumProd(col(c), col(c)).as(s"s2_$c")) ++
            pairs.map { case (a, b) => DetAgg.dsumProd(col(a), col(b)).as(s"s_${a}_${b}") }): _*)
        pairs
          .map { case (a, b) =>
            m.select(
              lit(a).as("col_a"), lit(b).as("col_b"),
              expr(corrText(a, b)).as("corr"))
          }
          .reduce(_ unionByName _)
      })
  }

  /** Per-group z-score normalization — the feature-scaling pass of a
    * training pipeline, as ONE window over decimal-routed moment sums
    * (no two-pass join). Row-level output, hash-exact.
    */
  val zscore: Q = {
    import graft.functions.DetAgg
    Q(
      "w5_zscore",
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag,
             |  (l_quantity - CAST(SUM(CAST(l_quantity AS DECIMAL(30,6)))
             |      OVER w AS DOUBLE) / COUNT(*) OVER w)
             |    / SQRT((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6)))
             |          OVER w AS DOUBLE)
             |        - CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) OVER w AS DOUBLE)
             |          * CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) OVER w AS DOUBLE)
             |          / COUNT(*) OVER w)
             |      / (COUNT(*) OVER w - 1)) AS z
             |FROM lineitem
             |WINDOW w AS (PARTITION BY l_returnflag)""".stripMargin),
      (s, dir) => {
        // group stats as a HASH AGGREGATE broadcast back onto the rows,
        // not a whole-partition window: there are 3 returnflag groups, so
        // the window form put a third of the corpus into each window
        // task. Decimal sums are order-independent (DetAgg), so the
        // aggregate is bit-identical to the window the oracle describes.
        val li = Tables.load(s, dir, "lineitem")
        val stats = li.groupBy("l_returnflag").agg(
          sum(DetAgg.dec(col("l_quantity"))).cast("double").as("__sx"),
          sum(DetAgg.dec(col("l_quantity") * col("l_quantity"))).cast("double").as("__sxx"),
          count(lit(1)).as("__n"))
        val mean = col("__sx") / col("__n")
        val std = sqrt((col("__sxx") - col("__sx") * col("__sx") / col("__n"))
          / (col("__n") - lit(1)))
        // null-safe (<=>) join, not an inner equi-join: the window form
        // this replaces PARTITIONs null keys into their own group, so a
        // null-keyed row must match the null-keyed stats row instead of
        // being dropped (TPC-H keys are non-null, but the rewrite must be
        // null-equivalent to the oracle by construction, not by data).
        // Dataset aliases because stats derives from li (self-join lineage).
        li.as("li")
          .join(broadcast(stats.as("st")),
            col("li.l_returnflag") <=> col("st.l_returnflag"))
          .select(
            col("li.l_orderkey"), col("li.l_linenumber"), col("li.l_returnflag"),
            ((col("li.l_quantity") - mean) / std).as("z"))
      })
  }

  /** Approximate heavy hitters (frequent items) with a containment
    * CERTIFICATE: Spark's `freqItems` (Karp/Misra–Gries style) GUARANTEES
    * every item above the support threshold appears in its result — so
    * the oracle-checkable property is exact-heavy-hitter containment.
    * The query emits every token whose exact relative frequency is ≥ 2×
    * the sketch support together with an in-sketch verdict; the oracle
    * recomputes the exact heavy hitters and emits literal TRUE. The
    * sketch itself is one sub-shuffle pass with bounded state — at
    * 100 TB it finds hot tokens without a full token shuffle.
    */
  val freqItems: Q = Q(
    "agg_freq_items",
    Some("""WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           |       FROM documents),
           |tot AS (SELECT COUNT(*) AS n FROM t),
           |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok)
           |SELECT tok, cnt, TRUE AS in_sketch
           |FROM c CROSS JOIN tot
           |WHERE CAST(cnt AS DOUBLE) / n >= 0.02""".stripMargin),
    (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      // the sketch result is tiny (≤ 1/support items) — driver-side by design
      val sketch: Seq[String] = toks.stat.freqItems(Seq("tok"), 0.01)
        .collect().head.getSeq[String](0)
      val total = toks.agg(count(lit(1)).as("n"))
      toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt").cast("double") / col("n") >= lit(0.02))
        .select(col("tok"), col("cnt"), col("tok").isin(sketch: _*).as("in_sketch"))
    })

  /** Z-order (Morton) layout key over (l_quantity, l_extendedprice) —
    * the multi-dimensional data-layout export ([[graft.operators.ZOrder]]:
    * quantize both dims to 12 bits, interleave; range-partition + sort by
    * the z-value and every output file covers a compact box in BOTH
    * dimensions, so parquet min/max stats prune 2-D scan predicates that a
    * single-column sort only serves for its own column). The interleave is
    * pure shift/mask column arithmetic (no UDF, full codegen) and the
    * oracle replays the identical bit algebra, so the layout key — the
    * thing a 100 TB rewrite actually sorts by — is verified hash-exact.
    * File-level span narrowing itself is pinned by ZOrderSpec on a real
    * two-layout write.
    */
  val zorderExport: Q = {
    val bits = 12
    def qS(c: String, lo: Double, hi: Double): String =
      s"CAST(LEAST(GREATEST(FLOOR(($c - $lo) / ${hi - lo} * ${1L << bits}), 0), ${(1L << bits) - 1}) AS BIGINT)"
    val interleave = (0 until bits).map(b =>
      s"(((qx >> $b) & 1) << ${2 * b}) + (((qy >> $b) & 1) << ${2 * b + 1})")
      .mkString(" + ")
    Q(
      "export_zorder",
      Some(s"""WITH q AS (
              |  SELECT l_orderkey, l_linenumber,
              |    ${qS("l_quantity", 1.0, 51.0)} AS qx,
              |    ${qS("l_extendedprice", 900.0, 105000.0)} AS qy
              |  FROM lineitem)
              |SELECT l_orderkey, l_linenumber, $interleave AS z
              |FROM q""".stripMargin),
      (s, dir) =>
        Tables.load(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          graft.operators.ZOrder.zValue(
            col("l_quantity"), 1.0, 51.0,
            col("l_extendedprice"), 900.0, 105000.0, bits).as("z")))
  }

  /** Model-based quality classifier TRAINED IN-PLAN
    * ([[graft.operators.LogReg]]): 5 full-batch GD iterations of
    * logistic regression on document stats (intercept, tokens/100,
    * stopword ratio, punctuation ratio) vs the `lang='en'` label. Each
    * iteration is one hash aggregate with β as a broadcast 1-row
    * relation; round-6 sigmoids + DetAgg decimal gradient sums make the
    * ENTIRE TRAINING RUN bit-portable, so the oracle replays all five
    * iterations and the coefficients hash-match exactly — distributed
    * training as a verifiable query, not a black box. (This corpus's
    * features barely separate `en`, which is irrelevant here: the
    * learning behavior itself is LogRegSpec-pinned on separable data.)
    */
  /** Document-stats feature CTE (intercept, tokens/100, stopword ratio,
    * punctuation ratio, lang='en' label) — ONE text shared between
    * `ml_logreg_quality` and `ml_calibration_bins` (the
    * poissonRateSqlCtes discipline), with [[logregFeats]] the matching
    * Spark builder.
    */
  private val logregFeatsCte: String = {
    val stopList = Seq("the", "and", "of", "to", "is", "a")
      .map(s => s"'$s'").mkString(", ")
    s"""SELECT 1.0 AS intercept,
       |    len(string_split_regex(trim(text), '\\s+')) / 100.0 AS tok_x,
       |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |        x -> x IN ($stopList))) AS DOUBLE)
       |      / len(string_split_regex(trim(text), '\\s+')) AS stop_r,
       |    CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g'))
       |        AS DOUBLE) / LENGTH(text) AS punct_r,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents""".stripMargin
  }

  private val logregFeatureNames = Seq("intercept", "tok_x", "stop_r", "punct_r")

  private def logregFeats(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val stop = Seq("the", "and", "of", "to", "is", "a")
    val toks = graft.functions.TextFunctions.tokenCount(col("text"))
    Tables.load(s, dir, "documents").select(
      lit(1.0).as("intercept"),
      (toks / lit(100.0)).as("tok_x"),
      (graft.functions.TextFunctions.wordHits(col("text"), stop)
        .cast("double") / toks).as("stop_r"),
      ((length(col("text"))
        - length(regexp_replace(col("text"), "[^\\w\\s]", "")))
        .cast("double") / length(col("text"))).as("punct_r"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
  }

  val logregQuality: Q = Q(
    "ml_logreg_quality",
    Some(graft.operators.LogReg.oracleSql(logregFeatsCte, logregFeatureNames)),
    (s, dir) =>
      graft.operators.LogReg.train(logregFeats(s, dir), logregFeatureNames, col("y")))

  /** Reliability diagram + ECE + Brier for the [[logregQuality]] model —
    * the calibration readout a quality-filter pipeline needs before its
    * scores gate a corpus (a classifier can rank perfectly and still be
    * uncalibrated; the bins say WHERE the scores lie). Scoring replays
    * the round-6 sigmoid over the round-6 quantized features with the
    * TRAINED coefficients (the oracle re-runs all 5 GD iterations via
    * [[graft.operators.LogReg.trainingCtes]] and scores against b5 —
    * bit-identical to the Spark side's p-bounded coefficient collect,
    * because training itself is hash-exact). Per 0.1-wide bin: count,
    * mean confidence (exact decimal sum ÷ count), observed rate (exact
    * integer ÷ count); ECE = Σ round-6((n_b/N)·|acc−conf|) folded on
    * the exact-decimal route (order-free); Brier rides dsumP (round-6
    * residual squares are exact at 12 decimals, VARCHAR-routed cast).
    * Plan shape: train (5 aggregates) + ONE scoring aggregate + a
    * ≤10-row tail — everything heavy is map-side partial. Hash-exact.
    */
  val mlCalibration: Q = {
    import graft.functions.DetAgg
    import graft.functions.DetAgg.{Sql => D}
    val names = logregFeatureNames
    val zSql = names.zipWithIndex.map { case (f, j) => s"b$j * $f" }.mkString(" + ")
    Q(
      "ml_calibration_bins",
      Some(s"""WITH ${graft.operators.LogReg.trainingCtes(logregFeatsCte, names)},
              |scored AS (SELECT
              |    ROUND(1.0 / (1.0 + EXP(-($zSql))), 6) AS g, y
              |  FROM feats CROSS JOIN b5),
              |bins AS (SELECT LEAST(CAST(FLOOR(g * 10) AS BIGINT), 9) AS bin, g, y
              |  FROM scored),
              |agg AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_bin,
              |    ${D.dsum("g")} AS sg,
              |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos
              |  FROM bins GROUP BY 1),
              |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    ${D.dsumP("(g - y) * (g - y)")} AS sq FROM bins),
              |ece AS (SELECT ${D.dsum(
                "ROUND(ABS(CAST(n_pos AS DOUBLE) / n_bin - sg / n_bin) * n_bin / n, 6)")} AS ece
              |  FROM agg CROSS JOIN tot)
              |SELECT bin, n_bin, ROUND(sg / n_bin, 6) AS conf,
              |  ROUND(CAST(n_pos AS DOUBLE) / n_bin, 6) AS acc,
              |  ROUND(ece, 6) AS ece, ROUND(sq / n, 6) AS brier
              |FROM agg CROSS JOIN tot CROSS JOIN ece""".stripMargin),
      (s, dir) => {
        val feats = logregFeats(s, dir)
        // p-bounded trained-model collect (the Ivf-centroid pattern):
        // the coefficients re-enter the plan as literals, bit-equal to
        // the oracle's b5 because training is itself hash-exact
        val coef = graft.operators.LogReg.train(feats, names, col("y"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val z = names.map(f => lit(coef(f)) * round(col(f), 6)).reduce(_ + _)
        graft.operators.LogReg.calibrationBins(
          feats.select(round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("g"), col("y")))
      })
  }

  /** Global percent_rank of every lineitem by extended price —
    * [[graft.functions.Stats.percentRank]]: the corpus-wide ranking the
    * naive `percent_rank() OVER (ORDER BY v)` would funnel through ONE
    * task, computed instead from the sharded distinct-value cumulative +
    * a hash join back to rows. The oracle IS that naive window form, so
    * the hash match proves the distributed plan reproduces it bit-exactly.
    */
  val percentileRank: Q = Q(
    "w6_percentile_rank",
    Some("""SELECT l_orderkey, l_linenumber,
           |  percent_rank() OVER (ORDER BY l_extendedprice) AS pct_rank
           |FROM lineitem WHERE l_extendedprice IS NOT NULL""".stripMargin),
    (s, dir) =>
      graft.functions.Stats.percentRank(
        Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice")
        .select("l_orderkey", "l_linenumber", "pct_rank"))

  /** Equi-depth histogram: 8 buckets of ~equal row count with exact
    * boundaries — the feature-discretization / optimizer-statistics
    * shape, composed from [[graft.functions.Stats.percentRank]] (bucket
    * = ⌊pct·8⌋ clamped) + one hash aggregate, so the whole thing stays
    * on the sharded-cumulative machinery with no global sort. Exact
    * ranks → exact bucket membership → hash-exact counts/edges/means.
    */
  val equidepthHist: Q = {
    import graft.functions.DetAgg.{Sql => D}
    Q(
      "a14_equidepth_hist",
      Some(s"""WITH p AS (
              |  SELECT l_extendedprice AS v,
              |    percent_rank() OVER (ORDER BY l_extendedprice) AS pr
              |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
              |b AS (SELECT LEAST(CAST(FLOOR(pr * 8) AS BIGINT), 7) AS bucket, v FROM p)
              |SELECT bucket, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi,
              |  ${D.davg("v")} AS mean
              |FROM b GROUP BY bucket""".stripMargin),
      (s, dir) => {
        import graft.functions.DetAgg
        // r15: every output column is a pure function of the VALUE and
        // its multiplicity, so the bucket census aggregates the
        // distinct-value rank relation directly — the join back to the
        // row relation (a full second scan + value-keyed join whose only
        // effect was physically repeating each value __c times) is gone.
        // n = Σ __c; davgW is spec-pinned bit-identical to davg over the
        // exploded rows; lo/hi are order stats, multiplicity-free.
        graft.functions.Stats.rankedValueCounts(
          Tables.load(s, dir, "lineitem").select("l_extendedprice"),
          "l_extendedprice")
          .select(
            least(floor(col("pct_rank") * 8).cast("long"), lit(7L)).as("bucket"),
            col("__v").as("v"), col("__c"))
          .groupBy("bucket")
          .agg(
            sum("__c").as("n"), min("v").as("lo"), max("v").as("hi"),
            DetAgg.davgW(col("v"), col("__c")).as("mean"))
      })
  }

  /** Winsorization at exact p01/p99: outlier clipping for feature
    * pipelines, with the clip points from
    * [[graft.functions.Stats.exactQuantiles]] (type-1, sharded — not
    * `percentile_approx`'s ±ε) broadcast back as a 1-row relation. The
    * report aggregates the clipped column per return flag so the oracle
    * checks both the exact clip points and their downstream effect.
    */
  val winsorize: Q = {
    import graft.functions.DetAgg.{Sql => D}
    import graft.functions.DetAgg
    Q(
      "p14_winsorize",
      Some(s"""WITH g AS (
              |  SELECT CAST(l_extendedprice AS DOUBLE) AS v, COUNT(*) AS c
              |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
              |c AS (
              |  SELECT v,
              |    SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS r,
              |    SUM(c) OVER () AS n
              |  FROM g),
              |q AS (
              |  SELECT
              |    MIN(CASE WHEN r >= CAST(CEIL(0.01 * n) AS BIGINT) THEN v END) AS lo,
              |    MIN(CASE WHEN r >= CAST(CEIL(0.99 * n) AS BIGINT) THEN v END) AS hi
              |  FROM c)
              |SELECT l_returnflag, COUNT(*) AS n,
              |  ${D.dsum("LEAST(GREATEST(l_extendedprice, lo), hi)")} AS sum_clipped,
              |  CAST(SUM(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
              |       THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
              |FROM lineitem CROSS JOIN q
              |WHERE l_extendedprice IS NOT NULL
              |GROUP BY l_returnflag""".stripMargin),
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .filter(col("l_extendedprice").isNotNull)
        val edges = graft.functions.Stats
          .exactQuantiles(li, "l_extendedprice", Seq(0.01, 0.99))
          .groupBy()
          .agg(
            min(when(col("q") === 0.01, col("qv"))).as("lo"),
            min(when(col("q") === 0.99, col("qv"))).as("hi"))
        li.crossJoin(broadcast(edges))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            DetAgg.dsum(
              least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
              .as("sum_clipped"),
            sum(when(
              col("l_extendedprice") < col("lo") ||
                col("l_extendedprice") > col("hi"), 1L).otherwise(0L))
              .as("n_clipped"))
      })
  }

  /** Fixed-point PageRank over the customer→supplier purchase graph
    * ([[graft.operators.PageRank]]): 10 damped iterations entirely in
    * integer pico-units — contributions, damping, and dangling-mass
    * redistribution are all integer division, so the oracle replays the
    * complete iterated computation and the top-20 ranks hash-match
    * exactly. Suppliers are sinks here (no out-edges), so the
    * dangling-mass path is exercised by the registered query itself, not
    * just the spec.
    */
  val pagerank: Q = {
    val edgesCte =
      """SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey""".stripMargin
    Q(
      "graph_pagerank",
      Some(graft.operators.PageRank.oracleSql(edgesCte, iters = 10, k = 20)),
      (s, dir) => {
        val o = Tables.load(s, dir, "orders").select("o_custkey", "o_orderkey")
        val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(
            col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
          .distinct()
        graft.operators.PageRank.fixedPoint(edges, iters = 10)
          .orderBy(col("rank").desc, col("node")).limit(20)
      })
  }

  /** HITS hubs & authorities over the same customer→supplier purchase
    * graph as [[pagerank]] ([[graft.operators.Hits]]): customers are
    * pure hubs, suppliers pure authorities, so the query exercises both
    * zero-in-edge and zero-out-edge paths of the kernel. 8 quotient-
    * renormalized iterations entirely in integer pico-units — the oracle
    * replays the complete iterated computation and the top-20 by
    * authority hash-matches exactly.
    */
  val hits: Q = {
    val edgesCte =
      """SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey""".stripMargin
    Q(
      "graph_hits",
      Some(graft.operators.Hits.oracleSql(edgesCte, iters = 8, k = 20)),
      (s, dir) => {
        val o = Tables.load(s, dir, "orders").select("o_custkey", "o_orderkey")
        val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(
            col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
          .distinct()
        graft.operators.Hits.fixedPoint(edges, iters = 8)
          .orderBy(col("auth").desc, col("node")).limit(20)
      })
  }

  /** Share-of-parent rollup: each nation's revenue as a fraction of its
    * region — the percent-of-total report every BI layer renders, built
    * WINDOWLESS (the naive form is `SUM() OVER (PARTITION BY region)`,
    * a shuffle-heavy window over the fact table; here the region total
    * re-aggregates from the ≤#nations relation — one extra hash
    * aggregate over 25 rows). Nation revenues are round-6 exact-decimal
    * sums, so the region re-sum is grid-exact and the share one IEEE
    * division — hash-exact.
    */
  val olapShareOfParent: Q = Q(
    "olap_share_of_parent",
    Some(s"""WITH nr AS (SELECT n_name, r_name,
            |    ROUND(${D.dsum("l_extendedprice * (1 - l_discount)")}, 6) AS revenue
            |  FROM lineitem
            |  JOIN supplier ON l_suppkey = s_suppkey
            |  JOIN nation ON s_nationkey = n_nationkey
            |  JOIN region ON n_regionkey = r_regionkey
            |  GROUP BY 1, 2),
            |rg AS (SELECT r_name AS r2, ${D.dsumExact("revenue")} AS rev_region
            |  FROM nr GROUP BY 1)
            |SELECT n_name, r_name, revenue, rev_region,
            |  revenue / rev_region AS share
            |FROM nr JOIN rg ON r_name = r2""".stripMargin),
    (s, dir) => {
      val nat = Tables.load(s, dir, "nation")
      val reg = Tables.load(s, dir, "region")
      val sup = Tables.load(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "n_name", "r_name")
      val nr = Tables.load(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("n_name", "r_name")
        .agg(round(
          DetAgg.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("revenue"))
      val rg = nr.groupBy(col("r_name").as("r2"))
        .agg(DetAgg.dsum(col("revenue")).as("rev_region"))
      nr.join(broadcast(rg), col("r_name") === col("r2"))
        .select(
          col("n_name"), col("r_name"), col("revenue"), col("rev_region"),
          (col("revenue") / col("rev_region")).as("share"))
    })

  /** Top-N-with-OTHERS per group: each nation's two highest-revenue
    * suppliers by name plus an OTHERS bucket absorbing the tail — the
    * standard BI "top movers" table. The per-nation top-2 cut is the
    * [[graft.operators.Sampling.domainCap]] SALTED TOURNAMENT (stage 1
    * ranks within (nation, salt): a nation with millions of suppliers
    * never funnels into one window partition); tail revenues are round-6
    * grid values, so the OTHERS re-sum is exact decimal — hash-exact.
    */
  val olapTopnOthers: Q = Q(
    "olap_topn_others",
    Some(s"""WITH sr AS (SELECT n_name, s_name,
            |    ROUND(${D.dsum("l_extendedprice * (1 - l_discount)")}, 6) AS revenue
            |  FROM lineitem
            |  JOIN supplier ON l_suppkey = s_suppkey
            |  JOIN nation ON s_nationkey = n_nationkey
            |  GROUP BY 1, 2),
            |rk AS (SELECT n_name, s_name, revenue,
            |    ROW_NUMBER() OVER (PARTITION BY n_name
            |                       ORDER BY revenue DESC, s_name) AS rnk
            |  FROM sr)
            |SELECT n_name,
            |  CASE WHEN rnk <= 2 THEN s_name ELSE 'OTHERS' END AS supplier_label,
            |  ${D.dsumExact("revenue")} AS revenue,
            |  CAST(COUNT(*) AS BIGINT) AS n_suppliers
            |FROM rk GROUP BY 1, 2""".stripMargin),
    (s, dir) => {
      val sup = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
      val sr = Tables.load(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("n_name", "s_name")
        .agg(round(
          DetAgg.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("revenue"))
      val top = graft.operators.Sampling.domainCap(
        sr.select(col("s_name").as("sn"), col("n_name").as("nn"), col("revenue").as("rv")),
        "sn", "nn", Seq(col("rv").desc, col("sn")), k = 2)
        .select(col("sn").as("ts"), col("nn").as("tn"))
      sr.join(top, col("s_name") === col("ts") && col("n_name") === col("tn"), "left")
        .select(
          col("n_name"),
          when(col("ts").isNotNull, col("s_name")).otherwise(lit("OTHERS"))
            .as("supplier_label"),
          col("revenue"))
        .groupBy("n_name", "supplier_label")
        .agg(
          DetAgg.dsum(col("revenue")).as("revenue"),
          count(lit(1)).as("n_suppliers"))
    })

  /** Month-over-month revenue change per nation — the trend column of
    * every BI revenue report, WINDOWLESS: the monthly relation is
    * calendar × nations bounded, so "previous month" is an equi-join on
    * `month − 1 month`, not a LAG window over the fact table. Monthly
    * revenues are round-6 exact-decimal sums (grid values), so the
    * change ratio is one IEEE division — hash-exact.
    */
  val olapMomChange: Q = Q(
    "olap_mom_change",
    Some(s"""WITH nr AS (SELECT n_name,
            |    date_trunc('month', o_orderdate) AS month,
            |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym,
            |    ROUND(${D.dsum("l_extendedprice * (1 - l_discount)")}, 6) AS revenue
            |  FROM lineitem
            |  JOIN orders ON l_orderkey = o_orderkey
            |  JOIN supplier ON l_suppkey = s_suppkey
            |  JOIN nation ON s_nationkey = n_nationkey
            |  GROUP BY 1, 2, 3)
            |SELECT a.n_name, a.month, a.revenue, b.revenue AS prev_revenue,
            |  (a.revenue - b.revenue) / b.revenue AS mom_pct
            |FROM nr a JOIN nr b
            |  ON a.n_name = b.n_name AND b.ym = a.ym - 1""".stripMargin),
    (s, dir) => {
      val sup = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      val nr = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(
          col("n_name"),
          date_trunc("month", col("o_orderdate")).as("month"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
            .cast("long").as("ym"))
        .agg(round(
          DetAgg.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("revenue"))
      val prev = nr.select(
        col("n_name").as("pn"), col("ym").as("pym"),
        col("revenue").as("prev_revenue"))
      nr.join(prev,
        col("n_name") === col("pn") && col("pym") === col("ym") - 1)
        .select(
          col("n_name"), col("month"), col("revenue"), col("prev_revenue"),
          ((col("revenue") - col("prev_revenue")) / col("prev_revenue"))
            .as("mom_pct"))
    })

  /** ABC classification of parts by revenue (A ≈ top 80 % of value, B
    * the next 15 %, C the tail) — the inventory-prioritization standard.
    * ENTIRELY INTEGER once revenues hit the round-6 grid: per-part
    * revenue × 10⁶ is an exact BIGINT mass, the distinct-revenue
    * cumulative rides the sharded kernel (no global sort), and the class
    * thresholds are the integer tests `5·(tot−cum) < 4·tot` /
    * `20·(tot−cum) < 19·tot` — no float compare anywhere; the block
    * crossing a boundary goes to the higher class, deterministically.
    * Hash-exact.
    */
  val olapAbc: Q = Q(
    "olap_abc_classification",
    Some(s"""WITH pr AS (SELECT l_partkey,
            |    ROUND(${D.dsum("l_extendedprice * (1 - l_discount)")}, 6) AS rev
            |  FROM lineitem GROUP BY 1),
            |g AS (SELECT rev, COUNT(*) AS c,
            |    CAST(FLOOR(rev * 1000000 + 0.5) AS BIGINT) AS mu
            |  FROM pr GROUP BY 1),
            |cmt AS (SELECT rev, c, mu * c AS m,
            |    SUM(mu * c) OVER (ORDER BY rev ROWS UNBOUNDED PRECEDING) AS cum,
            |    SUM(mu * c) OVER () AS tot FROM g),
            |cl AS (SELECT c, m, tot,
            |    CASE WHEN 5 * (tot - cum) < 4 * tot THEN 'A'
            |         WHEN 20 * (tot - cum) < 19 * tot THEN 'B'
            |         ELSE 'C' END AS abc_class
            |  FROM cmt)
            |SELECT abc_class, CAST(SUM(c) AS BIGINT) AS n_parts,
            |  CAST(CAST(SUM(m) AS VARCHAR) AS DOUBLE) / 1000000.0 AS revenue,
            |  CAST(CAST(SUM(m) AS VARCHAR) AS DOUBLE)
            |    / CAST(CAST(MIN(tot) AS VARCHAR) AS DOUBLE) AS share
            |FROM cl GROUP BY 1""".stripMargin),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val shardBits = 12
      val pr = Tables.load(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(round(
          DetAgg.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("rev"))
      val g = pr.groupBy("rev").agg(count(lit(1)).as("c"))
        .withColumn("mu", floor(col("rev") * 1000000 + 0.5).cast("long"))
        .withColumn("m", col("mu") * col("c"))
      val keyed = g.withColumn(
        "__shard",
        shiftright(
          graft.plans.ScalarExpressions.sortableBits(col("rev")),
          64 - shardBits) + lit(1L << (shardBits - 1)))
      val wOff = Window.partitionBy(
        graft.plans.ScalarExpressions.singlePartitionKey(col("__shard")))
        .orderBy("__shard").rowsBetween(Window.unboundedPreceding, -1)
      val offsets = keyed.groupBy("__shard")
        .agg(sum("m").as("__s"))
        .select(
          col("__shard").as("__oshard"),
          coalesce(sum("__s").over(wOff), lit(0L)).as("__b"))
      val tot = g.agg(sum("m").as("tot"))
      val wCum = Window.partitionBy("__shard").orderBy("rev")
        .rowsBetween(Window.unboundedPreceding, 0)
      keyed.join(broadcast(offsets), col("__shard") === col("__oshard"))
        .withColumn("cum", col("__b") + sum("m").over(wCum))
        .crossJoin(broadcast(tot))
        .select(col("c"), col("m"), col("tot"),
          when(lit(5) * (col("tot") - col("cum")) < lit(4) * col("tot"), "A")
            .when(lit(20) * (col("tot") - col("cum")) < lit(19) * col("tot"), "B")
            .otherwise("C").as("abc_class"))
        .groupBy("abc_class")
        .agg(
          sum("c").cast("long").as("n_parts"),
          (sum("m").cast("double") / lit(1000000.0)).as("revenue"),
          (sum("m").cast("double") / min("tot").cast("double")).as("share"))
    })

  /** Herfindahl–Hirschman concentration index of supplier revenue per
    * nation — the antitrust-standard market-concentration scalar
    * completing [[olapTopnOthers]]'s table view. Supplier revenues are
    * round-6 grid values, nation totals re-aggregate exactly from the
    * supplier relation (windowless), and Σ share² sums round-6 squares
    * through the exact decimal (LM discipline) — hash-exact.
    */
  val aggHhi: Q = Q(
    "agg_hhi_concentration",
    Some(s"""WITH sr AS (SELECT n_name, s_suppkey,
            |    ROUND(${D.dsum("l_extendedprice * (1 - l_discount)")}, 6) AS rev
            |  FROM lineitem
            |  JOIN supplier ON l_suppkey = s_suppkey
            |  JOIN nation ON s_nationkey = n_nationkey
            |  GROUP BY 1, 2),
            |t AS (SELECT n_name AS tn, ${D.dsumExact("rev")} AS tot
            |  FROM sr GROUP BY 1)
            |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
            |  ${D.dsum("ROUND((rev / tot) * (rev / tot), 6)")} AS hhi
            |FROM sr JOIN t ON n_name = tn
            |GROUP BY n_name""".stripMargin),
    (s, dir) => {
      val sup = Tables.load(s, dir, "supplier")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      val sr = Tables.load(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(round(
          DetAgg.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 6)
          .as("rev"))
      val t = sr.groupBy(col("n_name").as("tn"))
        .agg(DetAgg.dsum(col("rev")).as("tot"))
      sr.join(broadcast(t), col("n_name") === col("tn"))
        .groupBy("n_name")
        .agg(
          count(lit(1)).as("n_suppliers"),
          DetAgg.dsum(round((col("rev") / col("tot")) * (col("rev") / col("tot")), 6))
            .as("hhi"))
    })

  /** Degree distribution of the customer↔supplier purchase graph — the
    * one-glance structural profile (is this graph power-law-ish or
    * degenerate?) and the sanity gate before any per-node graph
    * algorithm budget is set. Two hash aggregates (node degrees → degree
    * histogram), exact integers — hash-exact. The companion log-log
    * slope lives in the Zipf kernel (`text_zipf_fit` — same OLS
    * discipline); this query pins the raw histogram.
    */
  val graphDegreeDist: Q = Q(
    "graph_degree_dist",
    Some("""WITH e AS (SELECT DISTINCT o.o_custkey AS src,
           |    l.l_suppkey + 1000000 AS dst
           |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
           |h AS (SELECT src, dst FROM e
           |  UNION ALL SELECT dst AS src, src AS dst FROM e),
           |d AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
           |  FROM h GROUP BY src)
           |SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
           |FROM d GROUP BY deg""".stripMargin),
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select("o_custkey", "o_orderkey")
      val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val e = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(
          col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      e.select("src", "dst")
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
    })

  /** Referential-integrity audit: orphan-row counts across every foreign
    * key edge of the star schema in one report — the DQ check
    * [[graft.operators.Quality]]'s per-column expectations cannot
    * express (it sees one table at a time; an orphan is a JOIN
    * property). Each edge is one left join with a conditional count —
    * the probe side is the child fact, the parent key relation is
    * projection-only — and the report is a bounded |edges|-row union.
    * Exact integers — hash-exact.
    */
  val dqReferential: Q = {
    val edges = Seq(
      ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"))
    Q(
      "dq_referential",
      Some(edges.map { case (tag, child, fk, parent, pk) =>
        s"""SELECT '$tag' AS fk_edge, CAST(COUNT(*) AS BIGINT) AS n_child,
           |  CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_orphans
           |FROM $child c LEFT JOIN $parent p ON c.$fk = p.$pk""".stripMargin
      }.mkString("\nUNION ALL\n")),
      (s, dir) =>
        edges.map { case (tag, child, fk, parent, pk) =>
          Tables.load(s, dir, child).select(col(fk))
            .join(
              Tables.load(s, dir, parent).select(col(pk).as("__pk")),
              col(fk) === col("__pk"), "left")
            .agg(
              count(lit(1)).as("n_child"),
              sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
            .select(lit(tag).as("fk_edge"), col("n_child"), col("n_orphans"))
        }.reduce(_ unionAll _))
  }

  /** Degree assortativity of the customer↔supplier purchase graph — the
    * one-number structural profile next to [[pagerank]]/[[kcore]] (do
    * high-degree nodes attach to high-degree nodes? Bipartite commerce
    * graphs are typically disassortative). Standard Pearson r of
    * (deg(u), deg(v)) over DIRECTED half-edges (both orientations, the
    * undirected convention): degrees are exact integer counts, the five
    * moments ride decimal(18,0) products (HUGEINT on the oracle side —
    * the [[graft.queries.EventQueries.statAutocorr]] discipline), and
    * the Pearson tail is one fixed IEEE tree — hash-exact unrounded.
    * Scale shape: two equi-joins against the degree relation (shuffle on
    * node id, no broadcast assumption — the degree relation is
    * node-cardinality) and one scalar aggregate.
    */
  val assortativity: Q = Q(
    "graph_assortativity",
    Some("""WITH e AS (SELECT DISTINCT o.o_custkey AS src,
           |    l.l_suppkey + 1000000 AS dst
           |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
           |h AS (SELECT src, dst FROM e
           |  UNION ALL SELECT dst AS src, src AS dst FROM e),
           |d AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
           |  FROM h GROUP BY src),
           |p AS (SELECT du.deg AS j, dv.deg AS k
           |  FROM h JOIN d du ON h.src = du.node JOIN d dv ON h.dst = dv.node),
           |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           |    CAST(SUM(j) AS DOUBLE) AS sj, CAST(SUM(k) AS DOUBLE) AS sk,
           |    CAST(CAST(SUM(CAST(j AS HUGEINT) * CAST(k AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sjk,
           |    CAST(CAST(SUM(CAST(j AS HUGEINT) * CAST(j AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sjj,
           |    CAST(CAST(SUM(CAST(k AS HUGEINT) * CAST(k AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS skk
           |  FROM p)
           |SELECT CAST(n AS BIGINT) AS m2,
           |  (n * sjk - sj * sk)
           |    / (SQRT(n * sjj - sj * sj) * SQRT(n * skk - sk * sk)) AS assortativity
           |FROM g""".stripMargin),
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val d18 = DecimalType(18, 0)
      val o = Tables.load(s, dir, "orders").select("o_custkey", "o_orderkey")
      val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val e = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(
          col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      val h = e.select("src", "dst")
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      val d = h.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val p = h
        .join(d.select(col("node").as("nu"), col("deg").as("j")), col("src") === col("nu"))
        .join(d.select(col("node").as("nv"), col("deg").as("k")), col("dst") === col("nv"))
        .select("j", "k")
      val g = p.agg(
        count(lit(1)).cast("double").as("n"),
        sum("j").cast("double").as("sj"),
        sum("k").cast("double").as("sk"),
        sum(col("j").cast(d18) * col("k").cast(d18)).cast("double").as("sjk"),
        sum(col("j").cast(d18) * col("j").cast(d18)).cast("double").as("sjj"),
        sum(col("k").cast(d18) * col("k").cast(d18)).cast("double").as("skk"))
      g.select(
        col("n").cast("long").as("m2"),
        ((col("n") * col("sjk") - col("sj") * col("sk"))
          / (sqrt(col("n") * col("sjj") - col("sj") * col("sj"))
            * sqrt(col("n") * col("skk") - col("sk") * col("sk"))))
          .as("assortativity"))
    })

  /** Triangle counting over the supplier co-occurrence graph (suppliers
    * linked when they serve the first two lines of the same order) —
    * [[graft.operators.Triangles]]: the REGISTERED path is the
    * degree-ordered orientation (out-degrees bounded by O(√m), so a hub
    * contributes O(m) wedge work instead of O(deg²)); the oracle is the
    * brute canonical x<y<z triple join. Both count every triangle
    * exactly once, so the hash match verifies the scale orientation
    * against the textbook definition. (All-lines co-occurrence makes the
    * graph COMPLETE at every sf — K₁₀₀₀ at sf0.1 is 1.66×10⁸ triangles,
    * inherently cubic for any algorithm; the two-line form keeps density
    * realistic while still exercising every code path.)
    */
  val triangles: Q = Q(
    "graph_triangles",
    Some("""WITH raw AS (
           |  SELECT DISTINCT l1.l_suppkey AS u, l2.l_suppkey AS v
           |  FROM lineitem l1 JOIN lineitem l2
           |    ON l1.l_orderkey = l2.l_orderkey
           |    AND l1.l_linenumber = 1 AND l2.l_linenumber = 2
           |    AND l1.l_suppkey <> l2.l_suppkey),
           |e AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
           |      FROM raw WHERE u <> v),
           |t AS (SELECT COUNT(*) AS n_triangles
           |      FROM e ab JOIN e bc ON bc.u = ab.v
           |      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
           |nodes AS (SELECT COUNT(DISTINCT n) AS n_nodes FROM
           |          (SELECT u AS n FROM e UNION ALL SELECT v FROM e)),
           |ne AS (SELECT COUNT(*) AS n_edges FROM e)
           |SELECT n_nodes, n_edges, n_triangles FROM nodes, ne, t""".stripMargin),
    (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_suppkey")
      val edges = l.as("l1")
        .join(l.as("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey") &&
            col("l1.l_linenumber") === 1 && col("l2.l_linenumber") === 2 &&
            col("l1.l_suppkey") =!= col("l2.l_suppkey"))
        .select(col("l1.l_suppkey").as("u"), col("l2.l_suppkey").as("v"))
        .distinct()
      graft.operators.Triangles.triangleStats(edges)
    })

  /** Label-propagation communities over the same supplier co-occurrence
    * graph as [[triangles]] ([[graft.operators.LabelProp]]): 5
    * synchronous min-tie rounds, every round replayed verbatim by the
    * oracle (materialized CTEs, same ROW_NUMBER tie-break), so the
    * top-20 community sizes hash-match exactly. The deliberately
    * deterministic variant — no visit order, no RNG — is what makes an
    * iterated community detection oracle-verifiable at all.
    */
  // same-nation restriction keeps the graph from being one connected
  // blob (communities cannot cross nations), so community queries
  // actually exercise the multi-community path — and the restriction
  // itself is the canonical broadcast dimension join
  private val nationCoocEdgesCte: String =
    """SELECT DISTINCT LEAST(l1.l_suppkey, l2.l_suppkey) AS u,
      |       GREATEST(l1.l_suppkey, l2.l_suppkey) AS v
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |    AND l1.l_linenumber = 1 AND l2.l_linenumber = 2
      |    AND l1.l_suppkey <> l2.l_suppkey
      |  JOIN supplier s1 ON s1.s_suppkey = l1.l_suppkey
      |  JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      |  WHERE s1.s_nationkey = s2.s_nationkey""".stripMargin

  /** The Spark twin of [[nationCoocEdgesCte]]. */
  private def nationCoocEdges(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_suppkey")
    val sup = Tables.load(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
    l.as("l1")
      .join(l.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_linenumber") === 1 && col("l2.l_linenumber") === 2 &&
          col("l1.l_suppkey") =!= col("l2.l_suppkey"))
      .join(broadcast(sup.as("s1")), col("s1.s_suppkey") === col("l1.l_suppkey"))
      .join(broadcast(sup.as("s2")), col("s2.s_suppkey") === col("l2.l_suppkey"))
      .filter(col("s1.s_nationkey") === col("s2.s_nationkey"))
      .select(
        least(col("l1.l_suppkey"), col("l2.l_suppkey")).as("u"),
        greatest(col("l1.l_suppkey"), col("l2.l_suppkey")).as("v"))
      .distinct()
  }

  val labelProp: Q = {
    val edgesCte = nationCoocEdgesCte
    Q(
      "graph_label_prop",
      Some(graft.operators.LabelProp.oracleSql(edgesCte, iters = 5, k = 20)),
      (s, dir) => {
        val pairs = nationCoocEdges(s, dir)
        graft.operators.LabelProp.propagate(pairs, iters = 5)
          .groupBy(col("lbl").as("label"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy(col("n_members").desc, col("label"))
          .limit(20)
      })
  }

  /** Newman modularity of the [[labelProp]] communities — the quality
    * score community detection is judged by (Q = Σ_c [e_c/m −
    * (d_c/2m)²]; near 0 means the partition is no better than random
    * wiring). The PARTITION comes from the already-verified
    * deterministic label propagation, and the oracle replays the whole
    * chain: all 5 iteration rounds (shared CTE ladder —
    * [[graft.operators.LabelProp.iterationCtes]]) AND the modularity
    * algebra, so the score is pinned end to end. e_c, d_c, m are exact
    * integers; the per-community terms ride the DetAgg decimal route
    * with the round-6 convention of [[graft.queries.ProfileQueries]]'s
    * divergence family. Scale: two label joins on the edge relation +
    * bounded-output aggregates; no window outside the verified kernels.
    */
  val modularity: Q = Q(
    "graph_modularity",
    Some(s"""WITH ${graft.operators.LabelProp.iterationCtes(nationCoocEdgesCte, 5)},
            |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            |  FROM adj GROUP BY node),
            |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
            |comm AS (SELECT l.lbl, CAST(SUM(d.d) AS BIGINT) AS dc
            |  FROM l5 l JOIN deg d USING (node) GROUP BY l.lbl),
            |intra AS (SELECT lu.lbl, CAST(COUNT(*) AS BIGINT) AS ec
            |  FROM edges e JOIN l5 lu ON lu.node = e.u
            |    JOIN l5 lv ON lv.node = e.v
            |  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl)
            |SELECT MIN(mm.m) AS m_edges, CAST(COUNT(*) AS BIGINT) AS n_comms,
            |  ROUND(${graft.functions.DetAgg.Sql.dsum(
              "CAST(COALESCE(i.ec, 0) AS DOUBLE) / mm.m"
                + " - (CAST(c.dc AS DOUBLE) / (2 * mm.m))"
                + " * (CAST(c.dc AS DOUBLE) / (2 * mm.m))")}, 6) AS modularity
            |FROM comm c LEFT JOIN intra i USING (lbl) CROSS JOIN mm""".stripMargin),
    (s, dir) => {
      val edges = nationCoocEdges(s, dir)
      val labels = graft.operators.LabelProp.propagate(edges, iters = 5)
      // modularity's 1-row result is a checkpoint of its own, so the
      // labels' final checkpoint is consumed once it returns
      try graft.operators.LabelProp.modularity(edges, labels)
      finally graft.operators.Checkpoints.release(labels)
    })

  /** Single-source BFS over the supplier co-occurrence graph
    * ([[graft.operators.Bfs.shortestHops]], the [[triangles]] edge
    * relation): exact hop distances from the smallest supplier node,
    * radius 6, reported as a reachability histogram (dist → node count).
    * The frontier-expansion rounds are co-partitioned hash joins (no
    * windows, nothing driver-side but the 1-row source agg — the allowed
    * convergence-aggregate pattern); the oracle replays min-distance
    * reachability with a recursive CTE, so the hash match pins every
    * level of the traversal. An edgeless graph yields an empty histogram
    * on both sides.
    */
  val shortestHops: Q = {
    val edgesCte =
      """SELECT DISTINCT LEAST(l1.l_suppkey, l2.l_suppkey) AS u,
        |       GREATEST(l1.l_suppkey, l2.l_suppkey) AS v
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |    AND l1.l_linenumber = 1 AND l2.l_linenumber = 2
        |    AND l1.l_suppkey <> l2.l_suppkey""".stripMargin
    Q(
      "graph_shortest_hops",
      Some(graft.operators.Bfs.histogramOracleSql(
        edgesCte,
        "SELECT CAST(MIN(u) AS BIGINT) AS s FROM e WHERE u IS NOT NULL",
        maxDepth = 6)),
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_suppkey")
        val pairs = l.as("l1")
          .join(l.as("l2"),
            col("l1.l_orderkey") === col("l2.l_orderkey") &&
              col("l1.l_linenumber") === 1 && col("l2.l_linenumber") === 2 &&
              col("l1.l_suppkey") =!= col("l2.l_suppkey"))
          .select(
            least(col("l1.l_suppkey"), col("l2.l_suppkey")).as("u"),
            greatest(col("l1.l_suppkey"), col("l2.l_suppkey")).as("v"))
          .distinct()
        // r15: source = MIN(u) ≡ minimum endpoint of the symmetric
        // relation (u ≤ v per canonical row), so the operator derives it
        // from its own persisted sym — the separate `pairs.agg(min(u))`
        // action used to execute the lineitem self-join a second time.
        graft.operators.Bfs.shortestHopsMinSource(pairs, "u", "v", maxDepth = 6)
          .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
      })
  }

  /** Count-min sketch point estimates for the 20 most frequent part
    * keys ([[graft.operators.CountMin]]): the d×w counter relation is
    * built by one hash aggregate, the oracle replays the identical
    * Knuth-hash counters in SQL, and the output pairs each exact count
    * with its sketch estimate — the one-sided CMS guarantee
    * (`n_cms ≥ n_exact`) is thereby oracle-verified on real data, not
    * just spec'd.
    */
  val cmsTopk: Q = {
    val d = 4; val w = 512
    import graft.operators.CountMin
    Q(
      "sketch_cms_topk",
      Some(s"""WITH vals AS (
              |  SELECT l_partkey AS v FROM lineitem WHERE l_partkey IS NOT NULL),
              |rs AS (SELECT r FROM (VALUES (0), (1), (2), (3)) AS t(r)),
              |cnt AS (
              |  SELECT r, ${CountMin.bucketSql("v", "r", w)} AS b, COUNT(*) AS c
              |  FROM vals CROSS JOIN rs GROUP BY 1, 2),
              |topk AS (
              |  SELECT v, COUNT(*) AS n_exact FROM vals GROUP BY v
              |  ORDER BY n_exact DESC, v LIMIT 20),
              |est AS (
              |  SELECT t.v, t.n_exact, MIN(COALESCE(c.c, 0)) AS n_cms
              |  FROM topk t CROSS JOIN rs
              |  LEFT JOIN cnt c ON c.r = rs.r
              |    AND c.b = ${CountMin.bucketSql("t.v", "rs.r", w)}
              |  GROUP BY t.v, t.n_exact)
              |SELECT v AS l_partkey, n_exact, n_cms FROM est""".stripMargin),
      (s, dir) => {
        val vals = Tables.load(s, dir, "lineitem")
          .select(col("l_partkey").as("v")).filter(col("v").isNotNull)
        val cnt = CountMin.counters(vals, d, w)
        val topk = vals.groupBy("v").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("v")).limit(20)
        CountMin.estimate(topk.select("v"), cnt, d, w)
          .join(topk, "v")
          .select(col("v").as("l_partkey"), col("n_exact"), col("n_cms"))
      })
  }

  /** k-core ladder (k = 2, 3, 4) over the supplier co-occurrence graph
    * ([[graft.operators.KCore]]): six synchronous peel rounds per k,
    * each round replayed verbatim by the oracle's materialized CTE
    * chain, so the (n_nodes, n_edges) of every core hash-match exactly.
    */
  val kcore: Q = {
    val edgesCte =
      """SELECT DISTINCT LEAST(l1.l_suppkey, l2.l_suppkey) AS u,
        |       GREATEST(l1.l_suppkey, l2.l_suppkey) AS v
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |    AND l1.l_linenumber = 1 AND l2.l_linenumber = 2
        |    AND l1.l_suppkey <> l2.l_suppkey""".stripMargin
    Q(
      "graph_kcore",
      Some(graft.operators.KCore.oracleSql(edgesCte, ks = Seq(2, 3, 4), rounds = 6)),
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_suppkey")
        val pairs = l.as("l1")
          .join(l.as("l2"),
            col("l1.l_orderkey") === col("l2.l_orderkey") &&
              col("l1.l_linenumber") === 1 && col("l2.l_linenumber") === 2 &&
              col("l1.l_suppkey") =!= col("l2.l_suppkey"))
          .select(
            least(col("l1.l_suppkey"), col("l2.l_suppkey")).as("u"),
            greatest(col("l1.l_suppkey"), col("l2.l_suppkey")).as("v"))
          .distinct()
        // r15: one materialization of the pair derivation serves all
        // three peel chains (it used to re-run the lineitem self-join
        // once per k)
        graft.operators.KCore.coreStats(pairs, Seq(2, 3, 4), rounds = 6)
      })
  }

  /** Oracle-replayable HyperLogLog ([[graft.operators.Hll]]): the
    * portable-arithmetic twin of `agg_approx_distinct` — registers,
    * harmonic estimate, and the linear-counting branch all replayed by
    * DuckDB bit-for-bit, so the hash match certifies the SKETCH, not
    * just its output shape. Output pairs the estimate with the exact
    * count, making the accuracy certificate part of the verified row.
    */
  val hllDistinct: Q = {
    import graft.operators.Hll
    Q(
      "sketch_hll_distinct",
      Some(s"""WITH src AS (
              |  SELECT l_partkey AS v FROM lineitem WHERE l_partkey IS NOT NULL),
              |h AS (SELECT ${Hll.hashSql("v")} AS h FROM src),
              |r AS (SELECT h % ${Hll.M} AS bucket,
              |             ${Hll.rhoSql(s"(h // ${Hll.M})")} AS rho FROM h),
              |regs AS (SELECT bucket, MAX(rho) AS reg FROM r GROUP BY bucket),
              |a AS (SELECT COUNT(*) AS nz, SUM(1.0 / (1 << reg)) AS s FROM regs),
              |e AS (SELECT ${Hll.M} - nz AS zeros, s + (${Hll.M} - nz) AS denom FROM a),
              |x AS (SELECT COUNT(DISTINCT v) AS n_exact FROM src)
              |SELECT n_exact,
              |  CASE WHEN ${Hll.AlphaM2} / denom <= ${2.5 * Hll.M}
              |            AND zeros > 0
              |       THEN ROUND(${Hll.M}.0 * LN(${Hll.M}.0 / zeros), 6)
              |       ELSE ROUND(${Hll.AlphaM2} / denom, 6) END AS n_est
              |FROM x CROSS JOIN e""".stripMargin),
      (s, dir) => {
        val src = Tables.load(s, dir, "lineitem")
          .select(col("l_partkey").as("v")).filter(col("v").isNotNull)
        val est = Hll.estimate(Hll.registers(src))
        src.agg(countDistinct(col("v")).as("n_exact"))
          .crossJoin(broadcast(est))
      })
  }

  /** Adamic–Adar link prediction over the same co-occurrence graph as
    * [[triangles]] ([[graft.operators.LinkPredict]]): top-20 non-edges
    * by common-neighbor score, wedge enumeration + one anti join,
    * per-term round-6 ln through DetAgg. Predicts the near-dup family
    * links the pairwise thresholds missed.
    */
  val adamicAdar: Q = {
    val edgesCte =
      """SELECT DISTINCT LEAST(l1.l_suppkey, l2.l_suppkey) AS u,
        |       GREATEST(l1.l_suppkey, l2.l_suppkey) AS v
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |    AND l1.l_linenumber = 1 AND l2.l_linenumber = 2
        |    AND l1.l_suppkey <> l2.l_suppkey""".stripMargin
    Q(
      "graph_adamic_adar",
      Some(graft.operators.LinkPredict.oracleSql(edgesCte, k = 20)),
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_suppkey")
        val pairs = l.as("l1")
          .join(l.as("l2"),
            col("l1.l_orderkey") === col("l2.l_orderkey") &&
              col("l1.l_linenumber") === 1 && col("l2.l_linenumber") === 2 &&
              col("l1.l_suppkey") =!= col("l2.l_suppkey"))
          .select(
            least(col("l1.l_suppkey"), col("l2.l_suppkey")).as("u"),
            greatest(col("l1.l_suppkey"), col("l2.l_suppkey")).as("v"))
          .distinct()
        graft.operators.LinkPredict.adamicAdar(pairs, k = 20)
      })
  }

  /** The PRODUCTION Adamic–Adar tier ([[graft.operators.LinkPredict
    * .adamicAdarCapped]]): same co-occurrence graph, every node capped
    * to its 8 smallest-id neighbors before wedge enumeration — wedge
    * volume bounded by n·8² at ANY hub degree (the exact tier's in-plan
    * guard refuses skewed graphs; this tier is what runs at corpus
    * scale). maxDeg = 8 is deliberately BELOW the graph's hub degrees
    * at every SF so the truncation semantics are exercised, not
    * vacuously equal to the exact tier; the oracle replays cap, capped
    * degrees, and scoring verbatim — hash-exact.
    */
  val adamicAdarCapped: Q = {
    val edgesCte =
      """SELECT DISTINCT LEAST(l1.l_suppkey, l2.l_suppkey) AS u,
        |       GREATEST(l1.l_suppkey, l2.l_suppkey) AS v
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey
        |    AND l1.l_linenumber = 1 AND l2.l_linenumber = 2
        |    AND l1.l_suppkey <> l2.l_suppkey""".stripMargin
    Q(
      "graph_adamic_adar_capped",
      Some(graft.operators.LinkPredict.cappedOracleSql(edgesCte, k = 20, maxDeg = 8)),
      (s, dir) => {
        val l = Tables.load(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_suppkey")
        val pairs = l.as("l1")
          .join(l.as("l2"),
            col("l1.l_orderkey") === col("l2.l_orderkey") &&
              col("l1.l_linenumber") === 1 && col("l2.l_linenumber") === 2 &&
              col("l1.l_suppkey") =!= col("l2.l_suppkey"))
          .select(
            least(col("l1.l_suppkey"), col("l2.l_suppkey")).as("u"),
            greatest(col("l1.l_suppkey"), col("l2.l_suppkey")).as("v"))
          .distinct()
        graft.operators.LinkPredict.adamicAdarCapped(pairs, k = 20, maxDeg = 8)
      })
  }

  /** Personalized PageRank from the five heaviest customers
    * ([[graft.operators.PageRank.personalized]]): random walk with
    * restart — the graph-proximity score behind "related items" /
    * near-dup family expansion. Same replayable integer fixed point as
    * `graph_pagerank`, restart + dangling mass flowing to the seeds;
    * the oracle replays all 10 rounds AND the seed selection.
    */
  val ppr: Q = {
    val edgesCte =
      """SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey""".stripMargin
    val seedsCte =
      """SELECT o_custkey AS node FROM orders
        |  GROUP BY o_custkey ORDER BY COUNT(*) DESC, o_custkey LIMIT 5""".stripMargin
    Q(
      "graph_ppr",
      Some(graft.operators.PageRank
        .personalizedOracleSql(edgesCte, seedsCte, iters = 10, k = 20)),
      (s, dir) => {
        val o = Tables.load(s, dir, "orders").select("o_custkey", "o_orderkey")
        val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
          .select(
            col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
          .distinct()
        val seeds = o.groupBy("o_custkey").agg(count(lit(1)).as("__n"))
          .orderBy(col("__n").desc, col("o_custkey")).limit(5)
          .select(col("o_custkey").as("node"))
        graft.operators.PageRank.personalized(edges, seeds, iters = 10)
          .orderBy(col("rank").desc, col("node")).limit(20)
      })
  }

  /** 2-D skyline (Pareto frontier) of lineitem on (price, quantity),
    * minimizing both ([[graft.operators.Skyline]]): the classic
    * multi-criteria operator, reduced to a distinct-pair aggregate plus
    * a sharded strict-prefix-min — never the quadratic dominance join.
    * Oracle = the single-window sort-scan form (the w6 discipline: the
    * naive window IS the oracle, proving the sharded plan bit-equal);
    * SkylineSpec separately pins the sort-scan form against the brute
    * NOT-EXISTS dominance definition.
    */
  val skyline: Q = Q(
    "agg_skyline",
    Some("""WITH d AS (
           |  SELECT CAST(l_extendedprice AS DOUBLE) AS x,
           |         MIN(CAST(l_quantity AS DOUBLE)) AS y
           |  FROM lineitem
           |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
           |  GROUP BY 1),
           |s AS (SELECT x, y,
           |    MIN(y) OVER (ORDER BY x
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
           |  FROM d)
           |SELECT x AS l_extendedprice, y AS l_quantity FROM s
           |WHERE prior IS NULL OR y < prior""".stripMargin),
    (s, dir) =>
      graft.operators.Skyline.skyline2d(
        Tables.load(s, dir, "lineitem"), "l_extendedprice", "l_quantity"))

  /** Global clustering coefficient (transitivity) of the supplier
    * co-occurrence graph — `C = 3·triangles / wedges`, the
    * cohesion-vs-star diagnostic beside [[triangles]] and
    * [[assortativity]] (a high-triangle graph can still be a hub-and-
    * spoke; C says whether neighbors actually interconnect). Composes
    * two verified kernels: triangle counts from the degree-ordered
    * orientation ([[graft.operators.Triangles.triangleStats]], oracle =
    * the brute x<y<z triple join) and the wedge count `Σ deg·(deg−1)/2`
    * from one hash aggregate over the node-cardinality degree relation
    * — exact BIGINTs throughout (the /2 is integer: deg·(deg−1) is
    * even), one final IEEE division.
    */
  val clusteringCoeff: Q = Q(
    "graph_clustering_coeff",
    Some("""WITH raw AS (
           |  SELECT DISTINCT l1.l_suppkey AS u, l2.l_suppkey AS v
           |  FROM lineitem l1 JOIN lineitem l2
           |    ON l1.l_orderkey = l2.l_orderkey
           |    AND l1.l_linenumber = 1 AND l2.l_linenumber = 2
           |    AND l1.l_suppkey <> l2.l_suppkey),
           |e AS (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
           |      FROM raw WHERE u <> v),
           |t AS (SELECT COUNT(*) AS n_triangles
           |      FROM e ab JOIN e bc ON bc.u = ab.v
           |      JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
           |d AS (SELECT n, COUNT(*) AS deg FROM
           |      (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
           |      GROUP BY 1),
           |w AS (SELECT CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
           |      FROM d),
           |nodes AS (SELECT COUNT(*) AS n_nodes FROM d),
           |ne AS (SELECT COUNT(*) AS n_edges FROM e)
           |SELECT n_nodes, n_edges, n_triangles, n_wedges,
           |  3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
           |    AS global_cc
           |FROM nodes, ne, t, w""".stripMargin),
    (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_suppkey")
      val edges = l.as("l1")
        .join(l.as("l2"),
          col("l1.l_orderkey") === col("l2.l_orderkey") &&
            col("l1.l_linenumber") === 1 && col("l2.l_linenumber") === 2 &&
            col("l1.l_suppkey") =!= col("l2.l_suppkey"))
        .select(col("l1.l_suppkey").as("u"), col("l2.l_suppkey").as("v"))
        .distinct()
      val canon = edges
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()
      val tri = graft.operators.Triangles.triangleStats(edges)
      val deg = canon.select(col("u").as("n"))
        .unionAll(canon.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val w = deg.agg(
        expr("CAST(SUM(deg * (deg - 1)) DIV 2 AS BIGINT)").as("n_wedges"))
      tri.crossJoin(broadcast(w))
        .select(
          col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
          (lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double")).as("global_cc"))
    })

  /** Market-basket brand affinity — association rules over order
    * baskets (support / confidence / lift, the Agrawal-Srikant
    * frequent-pair readout): which part brands co-occur in one order
    * beyond what their solo frequencies predict. The basket relation is
    * the DISTINCT (order, brand) projection (brand via broadcast part
    * dim); the pair join is keyed on the ORDER — per-key width is the
    * order's distinct-brand count (≤ its line count), so join volume is
    * Σ_o brands(o)², bounded by basket size, never corpus-wide — and
    * the outputs are ≤ brands² rows. Exact integer supports into fixed
    * IEEE ratios — hash-exact unrounded; top-20 by lift.
    */
  val olapBasketLift: Q = Q(
    "olap_basket_lift",
    Some("""WITH ob AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
           |           FROM lineitem JOIN part ON p_partkey = l_partkey),
           |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM ob),
           |sa AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM ob GROUP BY b),
           |ab AS (SELECT x.b AS brand_a, y.b AS brand_b,
           |         CAST(COUNT(*) AS BIGINT) AS s_ab
           |       FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b GROUP BY 1, 2)
           |SELECT brand_a, brand_b, s_ab,
           |  CAST(s_ab AS DOUBLE) / sa1.s AS conf_a_b,
           |  CAST(s_ab AS DOUBLE) * n_orders / (sa1.s * sa2.s) AS lift
           |FROM ab JOIN sa sa1 ON sa1.b = ab.brand_a
           |JOIN sa sa2 ON sa2.b = ab.brand_b CROSS JOIN n
           |ORDER BY lift DESC, brand_a, brand_b LIMIT 20""".stripMargin),
    (s, dir) => {
      val p = Tables.load(s, dir, "part").select("p_partkey", "p_brand")
      val ob = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
        .distinct()
      val n = ob.agg(countDistinct(col("o")).as("n_orders"))
      val sa = ob.groupBy("b").agg(count(lit(1)).as("s"))
      val ab = ob.select(col("o"), col("b").as("ba"))
        .join(ob.select(col("o").as("o2"), col("b").as("bb")),
          col("o") === col("o2") && col("ba") < col("bb"))
        .groupBy(col("ba").as("brand_a"), col("bb").as("brand_b"))
        .agg(count(lit(1)).as("s_ab"))
      ab
        .join(broadcast(sa.select(col("b").as("__b1"), col("s").as("s1"))),
          col("brand_a") === col("__b1"))
        .join(broadcast(sa.select(col("b").as("__b2"), col("s").as("s2"))),
          col("brand_b") === col("__b2"))
        .crossJoin(broadcast(n))
        .select(
          col("brand_a"), col("brand_b"), col("s_ab"),
          (col("s_ab").cast("double") / col("s1")).as("conf_a_b"),
          (col("s_ab").cast("double") * col("n_orders")
            / (col("s1") * col("s2"))).as("lift"))
        .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
        .limit(20)
    })

  def all: Seq[Q] = Seq(
    olapBasketLift,
    rollup, cube_, groupingSets, approxDistinct, distinctExact,
    tdigestQuantiles, saltedAgg, saltedJoin, linreg, corrMatrix, zscore,
    freqItems, zorderExport, logregQuality, mlCalibration, percentileRank, equidepthHist,
    winsorize, pagerank, triangles, labelProp, cmsTopk, kcore, hllDistinct,
    adamicAdar, adamicAdarCapped, ppr, skyline, shortestHops, assortativity, modularity,
    clusteringCoeff, hits, olapShareOfParent, olapTopnOthers,
    graphDegreeDist, dqReferential, olapMomChange, olapAbc, aggHhi)
}
