package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) — the standard
  * near-linear community-detection kernel for corpus-curation graphs
  * (e.g. "which near-duplicate clusters form a source family").
  * Deterministic by construction: every node starts labeled with its own
  * id, and each round SIMULTANEOUSLY adopts the most frequent label among
  * its neighbors, breaking count ties toward the SMALLEST label — no
  * randomized visit order anywhere, so the result is a pure function of
  * the edge set and replayable by any engine (the classic asynchronous
  * formulation is explicitly order-dependent; the synchronous min-tie
  * variant trades a little convergence speed for bit-portability).
  *
  * Plan shape per round: one shuffle join of the (node, nbr) adjacency to
  * the current label relation on `nbr`, one hash aggregate per
  * (node, label), and one per-NODE window (partition sizes bounded by a
  * node's distinct neighbor labels ≤ degree — nothing corpus-wide).
  * Iterations run a FIXED count: label propagation can oscillate on
  * bipartite-ish structures, and a convergence test would make the
  * output depend on the stopping rule; a fixed count is deterministic
  * either way. Lineage is cut every `checkpointInterval` rounds
  * (`localCheckpoint`) exactly as in [[PageRank.fixedPoint]] — labels
  * are integers, so materialization cannot perturb anything.
  */
object LabelProp {

  /** `edges`: canonical undirected (u, v) pairs (u < v, deduplicated by
    * the caller). Returns (node, label) after `iters` synchronous
    * rounds.
    */
  def propagate(
      edges: DataFrame,
      iters: Int = 5,
      checkpointInterval: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters $iters out of range")
    require(checkpointInterval >= 1, "checkpointInterval must be positive")
    CheckpointScope.using("l") { scope =>
    val e = edges.select(col("u").cast("long"), col("v").cast("long"))
    val adj = scope.mat(e.select(col("u").as("node"), col("v").as("nbr"))
      .union(e.select(col("v").as("node"), col("u").as("nbr"))))
      // read once per round × iters rounds
    var l: DataFrame = scope.roll("l", adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl")))
    val pick = Window.partitionBy("node").orderBy(col("cnt").desc, col("lbl"))
    for (i <- 1 to iters) {
      l = adj
        .join(l.withColumnRenamed("node", "__ln"), col("nbr") === col("__ln"))
        .groupBy("node", "lbl").agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(pick))
        .filter(col("__rn") === 1)
        .select("node", "lbl")
      if (i % checkpointInterval == 0 || i == iters) l = scope.roll("l", l)
    }
    l
    }
  }

  /** The matching DuckDB oracle over an `edges` CTE body with canonical
    * (u, v) columns — kept adjacent to [[propagate]] (the DetAgg.Sql
    * discipline) so the two iteration bodies can never drift. Emits the
    * top-`k` communities by (size desc, label).
    */
  def oracleSql(edgesCte: String, iters: Int = 5, k: Int = 20): String =
    s"""WITH ${iterationCtes(edgesCte, iters)}
       |SELECT lbl AS label, COUNT(*) AS n_members FROM l$iters
       |GROUP BY lbl ORDER BY n_members DESC, label LIMIT $k""".stripMargin

  /** Newman modularity `Q = Σ_c [e_c/m − (d_c/2m)²]` of a node
    * partition over an undirected edge list `(u, v)` (canonical, no
    * self-loops). e_c, d_c, m are exact integer aggregates; the
    * per-community terms ride the [[graft.functions.DetAgg]] decimal
    * route with a round-6 tail (the divergence-family convention).
    * Returns one row: (m_edges, n_comms, modularity).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    import graft.functions.DetAgg
    // r15: `edges` is typically an EXPENSIVE derivation (the registry
    // row feeds a lineitem self-join + distinct) and this statistic
    // consumes it three times (degrees, m, intra) — uncut, each consumer
    // re-executed the whole derivation (the before-plan carried the
    // self-join subtree 3×, 54 Exchanges). Materialize the canonical
    // projection once; the output is one row, so rolling it releases
    // everything (the standard scope lifecycle).
    CheckpointScope.using("out") { scope =>
      val e = scope.mat(edges.select(col("u"), col("v")))
      val adj = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
      val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
      val mm = e.agg(count(lit(1)).as("m"))
      val comm = labels.join(deg, "node").groupBy("lbl").agg(sum("d").as("dc"))
      val intra = e
        .join(labels.select(col("node").as("nu"), col("lbl").as("lu")),
          col("u") === col("nu"))
        .join(labels.select(col("node").as("nv"), col("lbl").as("lv")),
          col("v") === col("nv"))
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("ec"))
      val term = coalesce(col("ec"), lit(0L)).cast("double") / col("m") -
        (col("dc").cast("double") / (lit(2) * col("m"))) *
          (col("dc").cast("double") / (lit(2) * col("m")))
      scope.roll("out", comm.join(intra, Seq("lbl"), "left")
        .crossJoin(broadcast(mm))
        .agg(
          min("m").as("m_edges"),
          count(lit(1)).as("n_comms"),
          round(DetAgg.dsum(term), 6).as("modularity")))
    }
  }

  /** The WITH-body shared by [[oracleSql]] and the modularity oracle:
    * `edges(u, v)`, the doubled `adj`, and the full iteration ladder
    * ending in the final label relation `l<iters>(node, lbl)`.
    */
  def iterationCtes(edgesCte: String, iters: Int): String = {
    val its = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT a.node, l.lbl, COUNT(*) AS cnt
         |  FROM adj a JOIN l${i - 1} l ON l.node = a.nbr
         |  GROUP BY a.node, l.lbl),
         |l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl,
         |      ROW_NUMBER() OVER (PARTITION BY node
         |                         ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED ($edgesCte),
       |adj AS MATERIALIZED (SELECT u AS node, v AS nbr FROM edges
       |       UNION ALL SELECT v, u FROM edges),
       |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM adj),
       |$its""".stripMargin
  }
}
