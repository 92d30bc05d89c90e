package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source breadth-first search: shortest hop distance from a source
  * node to every node within `maxDepth`, by synchronous frontier expansion
  * (the Pregel iteration pattern, same loop discipline as
  * [[Components.alternatingStar]] / [[PageRank.fixedPoint]]).
  *
  * Scale shape: each round is ONE equi-join of the current frontier against
  * the (cached) symmetric edge relation plus an anti-join against the
  * visited set — both shuffles keyed on node id, so at cluster scale every
  * round is two co-partitioned hash joins; no window anywhere, nothing on
  * the driver, and the state (visited set) is one row per REACHED node, not
  * per edge. Rounds are bounded by `maxDepth`, which is the caller's
  * explicit radius contract — at 100 TB the cost is `maxDepth` joins of
  * frontier×edges, exactly the BFS lower bound. Each round's frontier is
  * persisted once, so a round reads the last two levels from cache and
  * lineage stays constant across iterations.
  *
  * Distances are exact (BFS invariant: a node first reached in round d has
  * shortest distance d — the anti-join against `visited` enforces "first
  * reached"), so a recursive-CTE oracle replaying min-distance agrees
  * bit-for-bit.
  */
object Bfs {

  /** Nodes within `maxDepth` hops of `source` over the UNDIRECTED graph
    * `edges(u, v)`, with their exact hop distance.
    */
  def shortestHops(
      edges: DataFrame,
      u: String,
      v: String,
      source: Long,
      maxDepth: Int): DataFrame =
    CheckpointScope.using("out") { scope =>
      fromSym(scope, mkSym(scope, edges, u, v), source, maxDepth)
    }

  /** [[shortestHops]] with the source derived from the edge relation
    * itself: the MINIMUM endpoint (on a canonical u ≤ v edge list that
    * is exactly MIN(u), the registry row's contract). The symmetric
    * relation is built + persisted ONCE and serves both the source
    * lookup and every BFS round — the registry row used to execute its
    * lineitem self-join twice (a separate source aggregate before the
    * operator re-derived the edges). Empty edges → empty (node, dist).
    */
  def shortestHopsMinSource(
      edges: DataFrame,
      u: String,
      v: String,
      maxDepth: Int): DataFrame =
    CheckpointScope.using("out") { scope =>
      val sym = mkSym(scope, edges, u, v)
      val srcRow = sym.agg(min("a")).collect()(0) // also forces the persist
      if (srcRow.isNullAt(0))
        edges.sparkSession.range(0)
          .select(col("id").as("node"), col("id").as("dist"))
      else fromSym(scope, sym, srcRow.getLong(0), maxDepth)
    }

  private def mkSym(scope: CheckpointScope, edges: DataFrame, u: String, v: String): DataFrame =
    scope.pin(
      edges.select(col(u).cast("long").as("a"), col(v).cast("long").as("b"))
        .unionByName(edges.select(col(v).cast("long").as("a"), col(u).cast("long").as("b")))
        .filter(col("a").isNotNull && col("b").isNotNull)
        .distinct())

  /** The BFS loop over a symmetric relation persisted in `scope`; rolls
    * its output through the scope's "out" channel.
    */
  private def fromSym(
      scope: CheckpointScope,
      sym: DataFrame,
      source: Long,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"maxDepth $maxDepth out of range")
    val spark = sym.sparkSession
    // r15: the visited set is NEVER shuffled. On an UNDIRECTED graph (sym
    // is symmetric by construction) a neighbor of a dist-(d−1) node has
    // dist ∈ {d−2, d−1, d} — its distance can differ from d−1 by at most
    // one in either direction — so "first reached" needs an anti-join
    // against only the last TWO levels, not the whole visited relation.
    // The old loop anti-joined the growing visited set AND re-unioned +
    // re-counted it every round: O(levels × reached) copied rows and one
    // result-sized cache rebuild per round. Now each level persists once,
    // rounds touch only frontier-sized relations, and the output is the
    // union of the per-level caches, rolled through one localCheckpoint
    // at exit (every per-level cache is released before return).
    val level0 = scope.pin(spark.range(1)
      .select(lit(source).as("node"), lit(0L).as("dist")))
    var levels = List(level0)
    var frontier = level0
    var prev: DataFrame = null
    var d = 0L
    var frontierEmpty = level0.isEmpty
    while (d < maxDepth && !frontierEmpty) {
      d += 1
      val reachedBefore =
        if (prev == null) frontier.select("node")
        else frontier.select("node").unionByName(prev.select("node"))
      val next = scope.pin(frontier.join(sym, frontier("node") === sym("a"))
        .select(col("b").as("node")).distinct()
        .join(reachedBefore, Seq("node"), "left_anti")
        .select(col("node"), lit(d).as("dist")))
      // isEmpty is executeTake(1), so a level can be PARTIALLY cached
      // here — safe because the exit roll below materializes the union
      // while sym is still pinned, so uncached partitions recompute
      // against the live cache, never the raw edge derivation (r16,
      // ADVICE item — resolved by the roll, not by a per-round count)
      frontierEmpty = next.isEmpty
      prev = frontier
      frontier = next
      if (frontierEmpty) scope.release(next)
      else levels ::= next
    }
    // Roll the union through ONE eager localCheckpoint so the returned
    // plan is rooted in a single pinned RDD that the result owns, instead
    // of one persisted RDD per BFS level (r16, ADVICE item). The level
    // caches and sym are released only when the scope closes, AFTER this
    // roll, so any partially-cached level materializes against the live
    // cache.
    scope.roll("out", levels.map(_.select("node", "dist")).reduce(_ unionByName _))
  }

  /** Recursive-CTE oracle for [[shortestHops]] run as a reachability
    * histogram: DuckDB expands (node, dist) pairs breadth-first with the
    * depth cap, then takes MIN(dist) per node.
    */
  def histogramOracleSql(edgesCte: String, sourceCte: String, maxDepth: Int): String =
    s"""WITH RECURSIVE e AS ($edgesCte),
       |sym AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
       |src AS ($sourceCte),
       |bfs AS (
       |  SELECT s AS node, 0 AS dist FROM src
       |  UNION
       |  SELECT sym.b, bfs.dist + 1 FROM bfs JOIN sym ON sym.a = bfs.node
       |  WHERE bfs.dist < $maxDepth),
       |m AS (SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node)
       |SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes
       |FROM m GROUP BY dist""".stripMargin
}
