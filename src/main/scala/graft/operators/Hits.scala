package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs & authorities, Kleinberg 1999) in FIXED-POINT integer
  * arithmetic — the second link-analysis kernel beside [[PageRank]]: on a
  * directed bipartite-ish graph (customers → suppliers), hub mass measures
  * "points at good authorities" and authority mass "pointed at by good
  * hubs" — the two-sided centrality a marketplace ranker wants where
  * PageRank's single walk conflates the roles.
  *
  * Portability discipline copied from [[PageRank.fixedPoint]]: masses live
  * in integer pico-units, every step is 64-bit integer arithmetic, so the
  * whole iterated computation is replayable bit-for-bit by any engine.
  * The textbook L2 normalization is replaced by QUOTIENT RENORMALIZATION:
  * after each raw update, masses divide by `q = max(total div Scale, 1)`,
  * which bounds the vector's total mass into [Scale/2, 2·Scale) using
  * only integer division (q is 1 for totals under 2·Scale, so mass rides
  * anywhere in that band — bounded, never runaway, never vanishing).
  * Normalization in power iteration is a free choice (it fixes
  * the scale, never the direction), and floor division is monotone, so
  * rankings are exactly those of the L1-normalized iteration; the ≤1/q
  * relative truncation per round is the documented price of exact
  * portability (same trade as PageRank's `rank div outdeg`).
  *
  * Plan shape per iteration: two shuffle joins of the edge relation to a
  * node-cardinality mass relation (on src, then on dst), two hash
  * aggregates, two 1-row broadcast totals, two left joins back to the
  * node set — nothing funnels through a single task at any scale. The
  * two RAW relations are eagerly materialized each round
  * (`localCheckpoint`, the [[PageRank]] lineage-cut discipline: each raw
  * relation is consumed twice — total + normalize — and under AQE the
  * two consumptions re-optimize independently, so an uncut chain
  * RECOMPUTES its prefix ×4 per round, not just re-analyzes it).
  */
object Hits {

  val Scale: Long = 1000000000000L // pico-units

  /** Degree bound above which a round's raw BIGINT total could pass
    * 2^63 (it is bounded by 2·Scale total mass × max degree, and
    * 2^63 / (2·10^12) ≈ 4.6e6): enforced in-plan so the overflow is a
    * loud pre-join failure, never a silent wrap.
    */
  val MaxDegree: Long = 4000000L

  /** `edges`: (src long, dst long), deduplicated by the caller. Returns
    * (node, auth, hub) in pico-units after `iters` rounds. Nodes with no
    * in-edges get auth 0; nodes with no out-edges get hub 0 after the
    * first round (they still receive authority).
    */
  def fixedPoint(
      edges: DataFrame,
      iters: Int = 8,
      maxDegree: Long = MaxDegree): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters $iters out of range")
    CheckpointScope.using("out") { scope =>
    val e = scope.mat(edges
      .select(col("src").cast("long"), col("dst").cast("long")))
      // read twice per iteration × iters rounds
    // OVERFLOW GUARD, in-plan (the jaccardPairs assert_true discipline):
    // a round's raw total is bounded by (≤ 2·Scale mass) × max(degree),
    // so any degree beyond 2^63 / (2·Scale) ≈ 4.6e6 could silently wrap
    // the BIGINT sum on the Spark side where the DuckDB oracle raises —
    // a silent-vs-loud divergence (PageRank divides by outdeg BEFORE
    // summing and has no such cliff). The node set was already one
    // hash-distinct over the endpoint union — computing it as a count
    // aggregate instead makes the degree a free byproduct of the SAME
    // shuffle (no extra edge-relation pass; the max() fold runs over
    // the node-cardinality relation only), and the assert fails the
    // node-set materialization before any round can run.
    val degs = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__d"))
    val maxDeg = degs.agg(coalesce(max("__d"), lit(0L)).as("__m"))
    val nodes = scope.mat(degs.select("node")
      .crossJoin(broadcast(maxDeg))
      .filter(assert_true(
        col("__m") <= lit(maxDegree),
        format_string(
          "HITS overflow guard: max node degree %d exceeds the brute-safe " +
            s"bound $maxDegree — a round's raw total is bounded by " +
            "2*Scale*maxDegree and would pass 2^63, where Spark wraps " +
            "silently but the integer oracle raises. Contract the hub " +
            "(cap or sample its adjacency) before ranking.",
          col("__m"))).isNull)
      .drop("__m"))
    // node count as a LITERAL (one cheap count over the checkpointed node
    // blocks — the former 1-row crossJoin(broadcast(n)) rebuilt a
    // broadcast for a value that never changes)
    val cnt = nodes.count()
    var h: DataFrame = scope.roll("rawH", nodes
      .select(col("node"), lit(if (cnt == 0L) 0L else Scale / cnt).as("hub")))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      // ONLY the raw relations are checkpointed: each is consumed twice
      // (total + normalize), and under AQE each consumption re-optimizes
      // its subtree independently — exchange reuse does NOT fire across
      // them, so an uncut raw relation recomputes its whole prefix ×4
      // per round (benched: 24 s for 8 rounds vs 4.6 s cut). The a/h
      // relations are consumed once each before the next checkpointed
      // raw, so their plans stay two levels deep with no cut of their
      // own — 2 materialization jobs per round, not 4 (the 4-job
      // variant benched 7.6 s).
      //
      // SPARSE ITERATION (r15): the rounds carry only nodes that appear
      // in the round's raw aggregate — the textbook dense form left-joins
      // every raw relation back to the full node set, two node-cardinality
      // shuffle joins per round whose only effect is materializing
      // explicit zeros. Absent ≡ zero under every consumer here: a
      // zero-mass node contributes 0 to the next round's SUM (so inner
      // join vs absent row is the same total), 0 to the q total, and the
      // dense form's `coalesce(__raw, 0) div q` is 0 exactly when the
      // sparse form has no row. One left join per side at the END
      // restores the dense output bit-for-bit (spec: sparse ≡ hand-rolled
      // dense replay on a path graph where mass dies mid-iteration).
      // Q-TOTAL AS AN OBSERVATION METRIC on the roll itself (r16, the
      // BPE `7992e4b` trick): the quotient renormalizer only needs
      // sum(__raw), which the roll's materializing action already
      // computes every row of — the former 1-row aggregate re-read the
      // checkpoint and built a broadcast per round (2 extra job+broadcast
      // pairs per round × iters). Arithmetic unchanged: masses are
      // non-negative, so Long '/' ≡ SQL `div`, and an empty raw relation
      // (metric null) takes q = 1 exactly as greatest(null, 1) did.
      val obsA = org.apache.spark.sql.Observation()
      val rawA = scope.roll("rawA", e.join(h, e("src") === h("node"))
        .groupBy("dst").agg(sum("hub").as("__raw"))
        .observe(obsA, sum("__raw").as("t")))
      val qA = Option(obsA.get("t")).map(_.asInstanceOf[Long] / Scale max 1L)
        .getOrElse(1L)
      a = rawA.select(col("dst").as("node"), expr(s"__raw div ${qA}L").as("auth"))
      val obsH = org.apache.spark.sql.Observation()
      val rawH = scope.roll("rawH", e.join(a, e("dst") === a("node"))
        .groupBy("src").agg(sum("auth").as("__raw"))
        .observe(obsH, sum("__raw").as("t")))
      val qH = Option(obsH.get("t")).map(_.asInstanceOf[Long] / Scale max 1L)
        .getOrElse(1L)
      h = rawH.select(col("src").as("node"), expr(s"__raw div ${qH}L").as("hub"))
    }
    // densify ONCE: nodes absent from the final sparse a/h have exactly
    // zero mass in the dense iteration (see the sparse-iteration note
    // above), so a single left join per side with coalesce(0) is the
    // identical output. Cut the OUTPUT itself (one node-cardinality
    // materialization), so every other checkpoint (base relations
    // included) is released when the scope closes and the returned plan
    // is rooted in a single pinned RDD that the result owns.
    scope.roll("out", nodes
      .join(a, Seq("node"), "left")
      .join(h, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("auth"), lit(0L)).as("auth"),
        coalesce(col("hub"), lit(0L)).as("hub")))
    }
  }

  /** The matching DuckDB oracle over an `edges` CTE body with (src, dst)
    * columns — kept adjacent to [[fixedPoint]] (the DetAgg.Sql
    * discipline) so the iteration bodies cannot drift. Every CTE is
    * MATERIALIZED (raw relations are consumed twice per round — the same
    * blowup the engine cuts with localCheckpoint). Emits the top-`k`
    * nodes by (auth desc, node).
    */
  def oracleSql(edgesCte: String, iters: Int = 8, k: Int = 20): String = {
    val its = (1 to iters).map { i =>
      s"""ra$i AS MATERIALIZED (
         |  SELECT e.dst, SUM(h.hub) AS raw
         |  FROM edges e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
         |qa$i AS MATERIALIZED (
         |  SELECT GREATEST(SUM(raw) // $Scale, 1) AS q FROM ra$i),
         |a$i AS MATERIALIZED (
         |  SELECT nodes.node, CAST(COALESCE(raw, 0) // q AS BIGINT) AS auth
         |  FROM nodes CROSS JOIN qa$i LEFT JOIN ra$i ON ra$i.dst = nodes.node),
         |rh$i AS MATERIALIZED (
         |  SELECT e.src, SUM(a.auth) AS raw
         |  FROM edges e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
         |qh$i AS MATERIALIZED (
         |  SELECT GREATEST(SUM(raw) // $Scale, 1) AS q FROM rh$i),
         |h$i AS MATERIALIZED (
         |  SELECT nodes.node, CAST(COALESCE(raw, 0) // q AS BIGINT) AS hub
         |  FROM nodes CROSS JOIN qh$i LEFT JOIN rh$i ON rh$i.src = nodes.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($edgesCte),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |n AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM nodes),
       |h0 AS MATERIALIZED (SELECT node, $Scale // cnt AS hub
       |  FROM nodes CROSS JOIN n),
       |$its
       |SELECT a$iters.node, auth, hub
       |FROM a$iters JOIN h$iters ON a$iters.node = h$iters.node
       |ORDER BY auth DESC, a$iters.node LIMIT $k""".stripMargin
  }
}
