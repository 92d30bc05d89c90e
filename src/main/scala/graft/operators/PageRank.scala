package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank in FIXED-POINT integer arithmetic — the classic
  * iterate-until-k link-analysis kernel (Brin & Page 1998; the standard
  * Spark/Pregel example), built so the whole training run is
  * bit-portable: ranks live in integer "pico-units" (10^12 = total
  * mass), contributions are integer divisions (`rank div outdeg`), the
  * damping fold is `85 · x div 100`, and dangling mass redistributes as
  * `D div N` — no floating point ANYWHERE in the iteration, so the
  * result is deterministic under any partitioning and replayable by any
  * engine with 64-bit integer division (floor truncation leaks a few
  * units per node per iteration; that is the documented price of exact
  * portability and is irrelevant to ranking order).
  *
  * Plan shape per iteration: one shuffle join of edges to the current
  * rank relation on `src` (contribution = rank div outdeg, computed
  * per edge), one hash aggregate per `dst`, one left join back to the
  * node set — at 100 TB each iteration is the canonical
  * edges-partitioned-by-src join, and nothing ever funnels through a
  * single task. The rank relation is EAGERLY materialized each round
  * (`localCheckpoint` — the standard lineage cut for iterative graph
  * algorithms; the values are exact integers, so materialization
  * cannot perturb results), and the DANGLING MASS the next round needs
  * rides that same materializing action as an Observation metric over
  * the round-invariant danglingness flag — no per-round anti-join, no
  * 1-row aggregate job, no broadcast build (r16; the former form paid
  * all three per round, and the un-checkpointed round between rolls
  * re-executed its contribution join a second time under the dangling
  * broadcast subtree).
  */
object PageRank {

  val Scale: Long = 1000000000000L // total mass, pico-units

  /** `edges`: (src long, dst long), deduplicated by the caller if edge
    * multiplicity should not weight the walk. Returns (node, rank) with
    * rank in pico-units after `iters` damped iterations (d = 0.85).
    */
  def fixedPoint(
      edges: DataFrame,
      iters: Int = 10,
      checkpointInterval: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters $iters out of range")
    require(checkpointInterval >= 1, "checkpointInterval must be positive")
    // the returned plan is rooted ONLY in the final "r" checkpoint —
    // base relations (edges/nodes/deg) are released when the scope
    // closes, the final checkpoint by whoever consumes the result
    CheckpointScope.using("r") { scope =>
    val e = scope.mat(edges
      .select(col("src").cast("long"), col("dst").cast("long")))
    val deg = scope.mat(e.groupBy("src").agg(count(lit(1)).as("__d")))
    // DANGLINGNESS IS ROUND-INVARIANT (r16): whether a node has out-edges
    // never changes, so the flag is joined into the node relation ONCE at
    // setup — the former per-round `r anti-join deg` re-derived it every
    // iteration just to feed the dangling-mass aggregate
    val nodes = scope.mat(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(deg.select(col("src").as("node"), lit(true).as("__out")),
        Seq("node"), "left")
      .select(col("node"), col("__out").isNull.as("__dg")))
    // degree pre-joined ONCE into the per-round edge relation (guide
    // §2.4): `rank div outdeg` needs it on every edge, and joining it
    // inside the loop re-paid a deg-relation join per iteration — the
    // checkpointed (src, dst, __d) relation costs one extra long column
    // and removes iters join stages
    val ed = scope.mat(e.join(deg, "src"))
    scope.release(e) // setup-only; its derivations are materialized
    // node + dangling-node counts collected ONCE (one job over the
    // checkpointed node blocks): the per-round crossJoin(broadcast(n))
    // re-counted the node relation and rebuilt a 1-row broadcast every
    // iteration for a value that never changes
    val cntRow = nodes.agg(
      count(lit(1)), coalesce(sum(when(col("__dg"), 1L)), lit(0L))).collect()(0)
    val cnt = cntRow.getLong(0)
    if (cnt == 0L) // empty graph: empty result, no "r" channel survives
      edges.sparkSession.range(0)
        .select(col("id").as("node"), col("id").as("rank"))
    else {
    // DANGLING MASS AS AN OBSERVATION METRIC on the roll (r16, the BPE
    // `7992e4b` trick): round i+1 needs Σ rank over dangling nodes of
    // round i — a value the roll's materializing action already passes
    // over every row of. The former form ran it as a per-round anti-join
    // + 1-row aggregate + broadcast build (and, on the un-checkpointed
    // round between rolls, re-executed that round's whole contribution
    // join a second time under the broadcast subtree, since under AQE the
    // two consumptions re-optimize independently). Every round now rolls
    // once, carrying its dangling total out as a metric; the next round
    // folds it in as a LITERAL. Arithmetic unchanged: ranks are
    // non-negative, so Long '/' ≡ SQL `div`, and round 0's mass is
    // exactly #dangling × (Scale div cnt).
    var dang: Long = cntRow.getLong(1) * (Scale / cnt)
    var r: DataFrame = scope.roll("r", nodes
      .select(col("node"), col("__dg"), lit(Scale / cnt).as("rank")))
    for (i <- 1 to iters) {
      val contrib = ed
        .join(r, ed("src") === r("node"))
        .select(col("dst"), expr("rank div __d").as("__c"))
        .groupBy("dst").agg(sum("__c").as("__s"))
      val obs = org.apache.spark.sql.Observation()
      r = scope.roll("r", nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(
          col("node"), col("__dg"),
          (lit((15L * Scale / 100) / cnt)
            + expr(s"85 * (coalesce(__s, 0L) + ${dang / cnt}L) div 100"))
            .as("rank"))
        .observe(obs, coalesce(sum(when(col("__dg"), col("rank"))), lit(0L))
          .as("d")))
      dang = obs.get("d").asInstanceOf[Long]
    }
    r.select("node", "rank")
    }
    }
  }

  /** Personalized PageRank (random walk with restart to a SEED set —
    * the graph-proximity score behind "related items" and near-dup
    * family expansion): identical integer fixed point to [[fixedPoint]]
    * except the restart mass and the dangling redistribution flow to
    * the seeds alone (uniformly), so ranks measure proximity TO the
    * seeds rather than global centrality. Same plan shape and lineage
    * discipline per round; the seed relation is broadcast-joined into
    * the rank fold (a flag column, not a filter, so non-seeds keep
    * their contribution-only rank).
    */
  def personalized(
      edges: DataFrame,
      seeds: DataFrame, // one column `node`
      iters: Int = 10,
      checkpointInterval: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters $iters out of range")
    require(checkpointInterval >= 1, "checkpointInterval must be positive")
    CheckpointScope.using("r") { scope =>
    val e = scope.mat(edges
      .select(col("src").cast("long"), col("dst").cast("long")))
    val sd = scope.mat(seeds.select(col("node").cast("long")).distinct()
      .withColumn("__seed", lit(true)))
    val deg = scope.mat(e.groupBy("src").agg(count(lit(1)).as("__d")))
    // seed flag AND the round-invariant dangling flag joined in once
    // (see [[fixedPoint]])
    val nodes = scope.mat(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(broadcast(sd), Seq("node"), "left")
      .join(deg.select(col("src").as("node"), lit(true).as("__out")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(false)).as("__s"),
        col("__out").isNull.as("__dg")))
    // same two setup folds as [[fixedPoint]]: degree pre-joined into the
    // per-round edge relation, seed count collected once as a literal
    val ed = scope.mat(e.join(deg, "src"))
    scope.release(e)
    val cntRow = nodes.agg(
      coalesce(sum(when(col("__s"), 1L)), lit(0L)),
      coalesce(sum(when(col("__s") && col("__dg"), 1L)), lit(0L))).collect()(0)
    val ns = cntRow.getLong(0)
    // ns = 0 (no seed appears in the graph) keeps the original fold's
    // semantics: every rank stays 0 (the when() branch never fired, so
    // the seed divisions never evaluated)
    val r0 = if (ns == 0L) 0L else Scale / ns
    val baseSeed = if (ns == 0L) 0L else (15L * Scale / 100) / ns
    // dangling mass as a roll-time Observation metric, folded in as a
    // literal — the [[fixedPoint]] r16 restructure; round 0's mass is
    // exactly #(dangling seeds) × r0 (non-seeds hold rank 0)
    var dang: Long = cntRow.getLong(1) * r0
    var r: DataFrame = scope.roll("r", nodes
      .select(col("node"), col("__s"), col("__dg"),
        when(col("__s"), lit(r0)).otherwise(0L).as("rank")))
    for (i <- 1 to iters) {
      val contrib = ed
        .join(r, ed("src") === r("node"))
        .select(col("dst"), expr("rank div __d").as("__c"))
        .groupBy("dst").agg(sum("__c").as("__s2"))
      val seedFold =
        if (ns == 0L) lit(0L)
        else lit(baseSeed + 85L * (dang / ns) / 100L)
      val obs = org.apache.spark.sql.Observation()
      r = scope.roll("r", nodes
        .join(contrib, nodes("node") === contrib("dst"), "left")
        .select(
          col("node"), col("__s"), col("__dg"),
          (when(col("__s"), seedFold).otherwise(0L)
            + expr("85 * coalesce(__s2, 0L) div 100"))
            .as("rank"))
        .observe(obs, coalesce(sum(when(col("__dg"), col("rank"))), lit(0L))
          .as("d")))
      dang = obs.get("d").asInstanceOf[Long]
    }
    r.select("node", "rank")
    }
  }

  /** Oracle for [[personalized]] over `edges` and `seeds` CTE bodies —
    * kept adjacent (DetAgg.Sql discipline).
    */
  def personalizedOracleSql(
      edgesCte: String,
      seedsCte: String,
      iters: Int = 10,
      k: Int = 20): String = {
    val its = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT e.dst, SUM(r.rank // deg.d) AS cs
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg ON deg.src = e.src GROUP BY e.dst),
         |d$i AS MATERIALIZED (
         |  SELECT COALESCE(SUM(r.rank), 0) AS dang
         |  FROM r${i - 1} r LEFT JOIN deg ON deg.src = r.node
         |  WHERE deg.src IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node, nodes.s,
         |    CASE WHEN nodes.s THEN
         |        (15 * $Scale // 100) // ns + 85 * (dang // ns) // 100
         |      ELSE 0 END
         |      + 85 * COALESCE(cs, 0) // 100 AS rank
         |  FROM nodes CROSS JOIN n CROSS JOIN d$i
         |  LEFT JOIN s$i ON s$i.dst = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($edgesCte),
       |seeds AS MATERIALIZED (SELECT DISTINCT node FROM ($seedsCte)),
       |nodes AS MATERIALIZED (
       |  SELECT x.node, seeds.node IS NOT NULL AS s FROM
       |    (SELECT DISTINCT src AS node FROM edges
       |     UNION SELECT DISTINCT dst FROM edges) x
       |  LEFT JOIN seeds ON seeds.node = x.node),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |n AS MATERIALIZED (SELECT SUM(CASE WHEN s THEN 1 ELSE 0 END) AS ns FROM nodes),
       |r0 AS MATERIALIZED (
       |  SELECT node, CASE WHEN s THEN $Scale // ns ELSE 0 END AS rank
       |  FROM nodes CROSS JOIN n),
       |$its
       |SELECT node, CAST(rank AS BIGINT) AS rank
       |FROM r$iters ORDER BY rank DESC, node LIMIT $k""".stripMargin
  }

  /** The matching DuckDB oracle text over an `edges` CTE body with
    * (src, dst) columns — kept adjacent to [[fixedPoint]] (the
    * DetAgg.Sql discipline) so the two iteration bodies can never
    * drift. Emits the top-`k` nodes by (rank desc, node).
    */
  def oracleSql(edgesCte: String, iters: Int = 10, k: Int = 20): String = {
    // every CTE is MATERIALIZED: r_{i-1} is consumed twice per iteration
    // (contributions + dangling mass), and inlining would re-expand the
    // whole prefix at each reference — the same 2^iters blowup the
    // engine side cuts with localCheckpoint
    val its = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT e.dst, SUM(r.rank // deg.d) AS s
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg ON deg.src = e.src GROUP BY e.dst),
         |d$i AS MATERIALIZED (
         |  SELECT COALESCE(SUM(r.rank), 0) AS dang
         |  FROM r${i - 1} r LEFT JOIN deg ON deg.src = r.node
         |  WHERE deg.src IS NULL),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    (15 * $Scale // 100) // cnt
         |      + 85 * (COALESCE(s, 0) + dang // cnt) // 100 AS rank
         |  FROM nodes CROSS JOIN n CROSS JOIN d$i
         |  LEFT JOIN s$i ON s$i.dst = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED ($edgesCte),
       |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
       |n AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM nodes),
       |r0 AS MATERIALIZED (SELECT node, $Scale // cnt AS rank FROM nodes CROSS JOIN n),
       |$its
       |SELECT node, CAST(rank AS BIGINT) AS rank
       |FROM r$iters ORDER BY rank DESC, node LIMIT $k""".stripMargin
  }
}
