package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronous peeling (Matula & Beck 1983; the
  * standard "dense cohesive subgraph" reduction for graph-shaped corpus
  * structure — e.g. pruning weakly-connected near-duplicate families
  * before clustering). Each round SIMULTANEOUSLY removes every node whose
  * degree in the surviving graph is below k, then drops edges touching a
  * removed node; the k-core is the fixed point. Peeling is monotone
  * (survivor sets only shrink) and order-free in the synchronous form, so
  * a FIXED round count is deterministic whether or not it has converged —
  * the oracle replays the same rounds verbatim.
  *
  * Plan shape per round: one degree hash-aggregate over the adjacency and
  * two semi joins of the edge relation against the survivor set — all
  * key-partitioned shuffles, nothing corpus-wide. Lineage is cut every
  * round (`localCheckpoint`) because each round's edges feed both the
  * degree aggregate and the next filter; values are integers, so
  * materialization cannot perturb results.
  */
object KCore {

  /** Surviving canonical (u, v) edges of the k-core approximation after
    * `rounds` synchronous peels of `edges` (canonical u < v pairs,
    * deduplicated by the caller).
    */
  def core(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k $k out of range")
    require(rounds >= 1 && rounds <= 50, s"rounds $rounds out of range")
    CheckpointScope.using("e") { scope =>
    // The surviving edge count rides each roll's own materializing action
    // as an Observation metric, as PageRank's dangling mass does — a
    // separate count() would be two more jobs per round under AQE.
    def rollCounted(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = scope.roll("e", df.observe(obs, count(lit(1)).as("n")))
      (out, obs.get("n").asInstanceOf[Long])
    }
    var (e, n) = rollCounted(edges.select(col("u").cast("long"), col("v").cast("long")))
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      round += 1
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("__d"))
      val alive = deg.filter(col("__d") >= k).select("node")
      // fixpoint early exit — RESULT-IDENTICAL to running the remaining
      // rounds, not an approximation: survivors only shrink, so an
      // unchanged edge COUNT means an unchanged edge set, every later
      // degree is unchanged, and every later round is a no-op.
      val (next, n2) = rollCounted(e
        .join(alive.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(alive.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select("u", "v"))
      e = next
      converged = n2 == n
      n = n2
    }
    e
    }
  }

  /** One materialization of `edges` serving every k in `ks` — the
    * registry row used to re-execute its (expensive) pair derivation
    * once per k, because each [[core]] call rolls its own copy of the
    * lazy input. Each peel chain now starts from the same checkpointed
    * canonical relation; each chain's bounded 1-row stats output is
    * materialized immediately so the chain's pinned core releases before
    * the next chain runs, and the returned ≤|ks|-row plan is rooted in a
    * single pinned RDD (the house lifecycle).
    */
  def coreStats(edges: DataFrame, ks: Seq[Int], rounds: Int): DataFrame = {
    require(ks.nonEmpty, "ks must be non-empty")
    CheckpointScope.using("out") { scope =>
      val e0 = scope.mat(edges
        .select(col("u").cast("long"), col("v").cast("long")))
      val rows = ks.map { k =>
        val c = core(e0, k, rounds)
        val s = scope.roll(
          s"stats$k",
          stats(c).select(lit(k).as("k"), col("n_nodes"), col("n_edges")))
        Checkpoints.release(c)
        s
      }
      scope.roll("out", rows.reduce(_ unionByName _))
    }
  }

  /** (n_nodes, n_edges) of the surviving graph — nodes counted as
    * distinct endpoints (a node with no surviving edge has degree 0 and
    * is by definition outside any k ≥ 1 core).
    */
  def stats(core: DataFrame): DataFrame =
    core.select(col("u").as("n")).union(core.select(col("v").as("n")))
      .agg(count_distinct(col("n")).as("n_nodes"),
        (count(lit(1)) / 2).cast("long").as("n_edges"))

  /** The matching DuckDB oracle over an `edges` CTE body with canonical
    * (u, v) columns: one peeling chain per k in `ks`, `rounds` rounds
    * each, every round a materialized CTE — kept adjacent to [[core]]
    * (the DetAgg discipline) so the two peel bodies can never drift.
    */
  def oracleSql(edgesCte: String, ks: Seq[Int], rounds: Int): String = {
    val chains = ks.map { k =>
      val its = (1 to rounds).map { i =>
        s"""k${k}_d$i AS MATERIALIZED (
           |  SELECT node, COUNT(*) AS d FROM (
           |    SELECT u AS node FROM k${k}_e${i - 1}
           |    UNION ALL SELECT v FROM k${k}_e${i - 1}) GROUP BY node),
           |k${k}_a$i AS MATERIALIZED (
           |  SELECT node FROM k${k}_d$i WHERE d >= $k),
           |k${k}_e$i AS MATERIALIZED (
           |  SELECT e.u, e.v FROM k${k}_e${i - 1} e
           |  JOIN k${k}_a$i x ON x.node = e.u
           |  JOIN k${k}_a$i y ON y.node = e.v)""".stripMargin
      }.mkString(",\n")
      s"""k${k}_e0 AS MATERIALIZED (SELECT u, v FROM edges),
         |$its""".stripMargin
    }.mkString(",\n")
    val rows = ks.map { k =>
      s"""SELECT $k AS k,
         |  (SELECT COUNT(*) FROM (SELECT u AS n FROM k${k}_e$rounds
         |     UNION SELECT v FROM k${k}_e$rounds)) AS n_nodes,
         |  (SELECT COUNT(*) FROM k${k}_e$rounds) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH edges AS MATERIALIZED ($edgesCte),
       |$chains
       |$rows""".stripMargin
  }
}
