package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.DetAgg

/** Adamic–Adar link prediction (Adamic & Adar 2003) — "which non-edges
  * look like edges": candidate pair (a, b) scores Σ_w 1/ln(deg w) over
  * their common neighbors w, weighting rare shared neighbors above
  * promiscuous hubs. The graph-completion signal a curation stack uses
  * to PREDICT near-duplicate families the pairwise thresholds missed.
  *
  * Shape: wedge enumeration — adjacency self-joined on the center
  * (a < b kills mirror duplicates), existing edges removed by ONE anti
  * join, scores a hash aggregate over wedges. Wedge volume is
  * Σ_w deg(w)², the inherent cost of the definition; at 100 TB the
  * standard mitigations compose upstream (cap or sample hub adjacency
  * before calling — same contract as [[Triangles]]' degree orientation).
  * `deg(w) ≥ 2` holds for every wedge center by construction, so
  * `ln(deg)` never hits zero. Per-term round-6 + DetAgg decimal sum:
  * the PMI ln-portability discipline.
  */
object LinkPredict {

  /** Exact-tier wedge-volume bound: Σ_w deg(w)² beyond this fails
    * loudly IN-PLAN before the self-join can emit (the jaccardPairs
    * assert_true discipline — enforced, not just documented): one hot
    * hub with deg d alone contributes d² wedges, so at corpus scale the
    * exact tier is the oracle/brute path and [[adamicAdarCapped]] is
    * the production path.
    */
  val MaxWedgeVolume: Long = 2000000000L

  /** Top-`k` non-adjacent pairs of canonical (u, v) `edges` by
    * Adamic–Adar score: (a, b, n_common, aa_score).
    */
  def adamicAdar(
      edges: DataFrame,
      k: Int = 20,
      maxWedgeVolume: Long = MaxWedgeVolume): DataFrame = {
    // The (often expensive — self-join + distinct upstream) edge plan is
    // referenced by FIVE subtrees (two adj orientations, the degree
    // aggregate, the wedge self-join, the anti join): materialize it
    // ONCE, and the symmetric adjacency once, instead of trusting
    // exchange reuse to dedupe a plan that expands the pair derivation
    // per reference (the r15 formatted plan carried 52 Exchanges; the
    // checkpointed form carries 6).
    CheckpointScope.using("out") { scope =>
    val e = scope.mat(edges.select(col("u").cast("long"), col("v").cast("long")))
    val adj = scope.mat(e.select(col("u").as("w"), col("v").as("n"))
      .union(e.select(col("v").as("w"), col("u").as("n"))))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("d"))
    // wedge-volume guard: rides the deg aggregate (no extra scan of the
    // corpus-sized adjacency — deg is node-cardinality), fails the job
    // before the quadratic join runs
    val vol = deg.agg(coalesce(sum(col("d") * col("d")), lit(0L)).as("__wv"))
    val adjG = adj.crossJoin(broadcast(vol))
      .filter(assert_true(
        col("__wv") <= lit(maxWedgeVolume),
        format_string(
          "adamicAdar is the exact wedge-enumeration tier: the wedge volume " +
            "Sum deg(w)^2 is %d, over the brute-safe bound %d (one hub of " +
            "degree d alone emits d^2 wedges). Use adamicAdarCapped for " +
            "corpora with hubs.",
          col("__wv"), lit(maxWedgeVolume))).isNull)
      .drop("__wv")
    val wedges = adjG.as("x")
      .join(adj.as("y"), col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.w").as("w"), col("x.n").as("a"), col("y.n").as("b"))
    // aggregate per pair BEFORE the anti join: the anti join then probes
    // |distinct pairs| rows, not |wedges| (the aggregation is per-pair
    // independent, so removing edge-pairs before or after it is the same
    // result — only the probe volume changes). deg is a node-count-sized
    // relation: broadcast.
    scope.roll("out", wedges
      .join(broadcast(deg), "w")
      .groupBy("a", "b")
      .agg(
        count(lit(1)).as("n_common"),
        round(DetAgg.dsum(round(lit(1.0) / log(col("d").cast("double")), 6)), 6)
          .as("aa_score"))
      .join(e, col("a") === col("u") && col("b") === col("v"), "left_anti")
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(k))
    }
  }

  /** PRODUCTION tier: Adamic–Adar over the hub-CAPPED graph — every
    * node keeps only its `maxDeg` smallest-id neighbors (deterministic,
    * engine-portable tie-free truncation), then the identical wedge
    * enumeration runs on the capped adjacency. Wedge volume is bounded
    * by n·maxDeg² REGARDLESS of skew — no quadratic cliff at any hub
    * degree, which is what the exact tier's in-plan guard refuses.
    * Scores are the capped-graph AA scores: the standard hub-cap
    * estimate (hub centers contribute least per wedge — 1/ln d — so
    * truncating them perturbs rankings least; rare shared neighbors,
    * which carry the signal, survive the cap untouched).
    *
    * The per-node truncation is a window partitioned BY NODE — partition
    * size = that node's degree, never corpus-sized; the capped degree
    * used in 1/ln(d) is recomputed from the capped adjacency so both
    * engines score the same graph.
    */
  def adamicAdarCapped(
      edges: DataFrame,
      k: Int = 20,
      maxDeg: Int = 64): DataFrame = {
    require(maxDeg >= 2, s"maxDeg $maxDeg out of range (wedges need 2)")
    import org.apache.spark.sql.expressions.Window
    // same materialization discipline as [[adamicAdar]]: edge plan once,
    // capped adjacency once (it feeds the degree recompute and both
    // sides of the wedge join)
    CheckpointScope.using("out") { scope =>
    val e = scope.mat(edges.select(col("u").cast("long"), col("v").cast("long")))
    val adj = e.select(col("u").as("w"), col("v").as("n"))
      .union(e.select(col("v").as("w"), col("u").as("n")))
    val byNode = Window.partitionBy("w").orderBy("n")
    val capped = scope.mat(adj
      .withColumn("__rn", row_number().over(byNode))
      .filter(col("__rn") <= maxDeg)
      .select("w", "n"))
    val deg = capped.groupBy("w").agg(count(lit(1)).as("d"))
    val wedges = capped.as("x")
      .join(capped.as("y"), col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.w").as("w"), col("x.n").as("a"), col("y.n").as("b"))
    scope.roll("out", wedges
      .join(broadcast(deg), "w")
      .groupBy("a", "b")
      .agg(
        count(lit(1)).as("n_common"),
        round(DetAgg.dsum(round(lit(1.0) / log(col("d").cast("double")), 6)), 6)
          .as("aa_score"))
      .join(e, col("a") === col("u") && col("b") === col("v"), "left_anti")
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(k))
    }
  }

  /** The matching DuckDB oracle for [[adamicAdarCapped]] — kept
    * adjacent (DetAgg.Sql discipline): the capped truncation, the
    * capped-degree recompute, and the scoring replay verbatim.
    */
  def cappedOracleSql(edgesCte: String, k: Int = 20, maxDeg: Int = 64): String = {
    val term = "ROUND(1.0 / LN(CAST(d AS DOUBLE)), 6)"
    s"""WITH edges AS MATERIALIZED ($edgesCte),
       |adj AS (SELECT u AS w, v AS n FROM edges
       |        UNION ALL SELECT v, u FROM edges),
       |capped AS (SELECT w, n FROM (
       |    SELECT w, n, ROW_NUMBER() OVER (PARTITION BY w ORDER BY n) AS rn
       |    FROM adj) WHERE rn <= $maxDeg),
       |deg AS (SELECT w, COUNT(*) AS d FROM capped GROUP BY w),
       |wed AS (SELECT x.w, x.n AS a, y.n AS b
       |        FROM capped x JOIN capped y ON x.w = y.w AND x.n < y.n),
       |cand AS (SELECT wed.w, wed.a, wed.b FROM wed
       |         LEFT JOIN edges e ON e.u = wed.a AND e.v = wed.b
       |         WHERE e.u IS NULL)
       |SELECT a, b, COUNT(*) AS n_common,
       |  ROUND(${DetAgg.Sql.dsum(term)}, 6) AS aa_score
       |FROM cand JOIN deg USING (w)
       |GROUP BY a, b
       |ORDER BY aa_score DESC, a, b LIMIT $k""".stripMargin
  }

  /** The matching DuckDB oracle over an `edges` CTE body (canonical
    * u < v) — kept adjacent (DetAgg.Sql discipline).
    */
  def oracleSql(edgesCte: String, k: Int = 20): String = {
    val term = "ROUND(1.0 / LN(CAST(d AS DOUBLE)), 6)"
    s"""WITH edges AS MATERIALIZED ($edgesCte),
       |adj AS (SELECT u AS w, v AS n FROM edges
       |        UNION ALL SELECT v, u FROM edges),
       |deg AS (SELECT w, COUNT(*) AS d FROM adj GROUP BY w),
       |wed AS (SELECT x.w, x.n AS a, y.n AS b
       |        FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n),
       |cand AS (SELECT wed.w, wed.a, wed.b FROM wed
       |         LEFT JOIN edges e ON e.u = wed.a AND e.v = wed.b
       |         WHERE e.u IS NULL)
       |SELECT a, b, COUNT(*) AS n_common,
       |  ROUND(${DetAgg.Sql.dsum(term)}, 6) AS aa_score
       |FROM cand JOIN deg USING (w)
       |GROUP BY a, b
       |ORDER BY aa_score DESC, a, b LIMIT $k""".stripMargin
  }
}
