package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-dup pair graph — the step between
  * pairwise dedup (minhash/simhash/Jaccard emit PAIRS) and the thing a
  * corpus pipeline actually needs: ONE canonical representative per
  * duplicate CLUSTER (pairs are transitive in practice: A≈B, B≈C ⇒ keep
  * one of {A,B,C}).
  *
  * Algorithm: min-label propagation — every node starts as its own
  * label; each round a node takes the min of its own and its neighbors'
  * labels. Converges in O(graph diameter) rounds; near-dup graphs are
  * unions of near-cliques (diameter 2–4), so a handful of rounds
  * suffices. Each round is one shuffle join (edges × labels) plus one
  * min-aggregate — no driver-side graph state, arbitrarily wide corpora.
  * For graphs whose diameter is unknown or adversarial (million-hop
  * chains from overlapping chunking), [[alternatingStar]] — the
  * large-star/small-star rewiring of Kiveris et al. — converges in
  * O(log n) rounds on ANY shape and is the registered default
  * (`dedup_components`, `dedup_components_chain`); the propagation tiers
  * remain for known-shallow near-clique dup graphs where a 2-4-round
  * unrolled lazy plan beats the eager round-trip loop.
  */
object Components {

  /** Spill (scratch-parquet checkpoint) cadence for [[alternatingStar]],
    * in alternation rounds: parquet round-trips cost ~3× an RDD persist
    * locally, but unspilled lineage grows task binaries and loses
    * recoverability — every 3rd round bounds both while shallow dup
    * graphs (1-2 rounds after local contraction) never pay a spill
    * inside the loop at all.
    */
  private val CheckpointEvery = 3

  /** Per-partition union-find contraction: replaces each partition's
    * subgraph with its star forest (every member → the set's MIN node,
    * the same labeling invariant the global rounds converge to). A
    * mapPartitions kernel on purpose — "collapse this partition's edges
    * to roots" is genuinely per-partition imperative state (a path-
    * compressed parent map, O(nodes in partition)) with no declarative
    * equivalent that doesn't replay the whole global-round machinery.
    * Input must be canonical (u > v) edges; output is canonical, one
    * edge per non-root node, duplicate-free WITHIN a partition (the
    * loop's first batch distinct handles cross-partition duplicates).
    */
  private[graft] def localStars(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val spark = edges.sparkSession
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val contracted = edges
      .repartitionByRange(col("u"), col("v"))
      .as[(Long, Long)](enc)
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (c != r) { val n = parent(c); parent(c) = r; c = n } // path compression
          r
        }
        it.foreach { case (u, v) =>
          if (!parent.contains(u)) parent(u) = u
          if (!parent.contains(v)) parent(v) = v
          val ru = find(u)
          val rv = find(v)
          if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv } // min wins
        }
        parent.keysIterator.toArray.iterator.flatMap { n =>
          val r = find(n)
          if (r != n) Iterator((n, r)) else Iterator.empty
        }
      }(enc)
    contracted.toDF("u", "v")
  }

  /** Symmetric closure of the pair list — the ONLY place the (potentially
    * expensive) pair derivation is referenced, and it ends in a distinct
    * exchange, so every downstream consumer (pair-node set, self-loops,
    * propagation rounds, singleton anti-join) re-reads that one shuffle
    * output via ReuseExchange instead of recomputing the pair plan.
    */
  private def symPairs(pairs: DataFrame, a: String, b: String): DataFrame =
    // pair emitters produce unique strictly-oriented (a < b) pairs, so the
    // two orientations are disjoint and the union needs no distinct — the
    // pair plan's own final exchange is the reuse point
    pairs.select(col(a).as("__src"), col(b).as("__dst"))
      .unionByName(pairs.select(col(b).as("__src"), col(a).as("__dst")))

  /** Nodes that appear in at least one pair — the only nodes whose label
    * can ever differ from their own id. Everything else is a singleton
    * and bypasses propagation entirely, so the per-round shuffles move
    * the DUP-GRAPH (typically a sliver of the corpus), not the corpus:
    * at 100 TB the propagation cost tracks how much duplication exists,
    * not how much data. The symmetric closure contains every pair-node
    * as a `__src`.
    */
  private def pairNodes(sym: DataFrame, id: String): DataFrame =
    sym.select(col("__src").as(id)).distinct()

  /** Closure + a self-loop per pair-node — the self-loops make one
    * propagation round a SINGLE join+agg over `labels` (min over
    * neighbors-including-self). Referencing `labels` once per round
    * keeps the unrolled lazy plan LINEAR in the round count; the naive
    * union(labels, neighbor-mins) form references it twice and the plan
    * tree doubles per round. `sym` has no self-loops (pairs are strict),
    * so the union needs no extra distinct — no extra shuffle.
    */
  private def symEdges(sym: DataFrame, pn: DataFrame, id: String): DataFrame =
    sym.unionByName(pn.select(col(id).as("__src"), col(id).as("__dst")))

  private def round(edges: DataFrame, labels: DataFrame, id: String): DataFrame =
    edges
      .join(labels, edges("__dst") === labels(id))
      .groupBy(col("__src").as(id))
      .agg(min("component").as("component"))

  /** Fixed-round propagation as a PURE LAZY plan: `iters` unrolled
    * join+agg stages over the pair-node subgraph, no caches, no driver
    * loop — correct whenever `iters` ≥ the dup-graph diameter (document
    * clusters: single digits). Singletons join back via one broadcast
    * anti-join with component = id. Output: (id, component) for every
    * node in `nodes`, component = min node id transitively reachable
    * through `pairs`.
    */
  def labelPropagationFixed(
      nodes: DataFrame,
      pairs: DataFrame,
      id: String,
      a: String,
      b: String,
      iters: Int): DataFrame = {
    val sym = symPairs(pairs, a, b)
    val pn = pairNodes(sym, id)
    val edges = symEdges(sym, pn, id)
    var labels = pn.withColumn("component", col(id))
    (1 to iters).foreach(_ => labels = round(edges, labels, id))
    val singletons = nodes.select(col(id)).distinct()
      .join(pn, Seq(id), "left_anti")
      .withColumn("component", col(id))
    labels.unionByName(singletons)
  }

  /** [[labelPropagationFixed]] plus a LOUD under-merge guard: one extra
    * propagation round is appended and every pair-node's label is
    * asserted stationary between round `iters` and `iters`+1 inside the
    * plan itself (`assert_true` — labels only decrease under
    * min-propagation, so round-to-round stability at every node IS the
    * fixed point). A dup graph deeper than `iters` fails the job with a
    * clear message instead of silently returning under-merged
    * components (chain-shaped graphs from overlapping chunking /
    * paragraph pipelines can exceed the near-clique diameter the fixed
    * tier assumes). Cost: one extra join+agg round; the round-`iters`
    * aggregate subtree is shared between the check join and the extra
    * round, so ReuseExchange pays it once.
    */
  def labelPropagationChecked(
      nodes: DataFrame,
      pairs: DataFrame,
      id: String,
      a: String,
      b: String,
      iters: Int): DataFrame = {
    val sym = symPairs(pairs, a, b)
    val pn = pairNodes(sym, id)
    val edges = symEdges(sym, pn, id)
    var labels = pn.withColumn("component", col(id))
    (1 to iters).foreach(_ => labels = round(edges, labels, id))
    val next = round(edges, labels, id)
    val checked = next.as("__n").join(labels.as("__p"), col(s"__n.$id") === col(s"__p.$id"))
      .select(
        col(s"__n.$id").as(id),
        when(
          assert_true(
            col("__n.component") === col("__p.component"),
            lit(s"connected components did not converge within $iters rounds — " +
              "the pair graph is deeper than the fixed-round tier assumes; " +
              "raise iters or use labelPropagation")).isNull,
          col("__n.component")).as("component"))
    val singletons = nodes.select(col(id)).distinct()
      .join(pn, Seq(id), "left_anti")
      .withColumn("component", col(id))
    checked.unionByName(singletons)
  }

  /** Adversarial-depth tier: alternating large-star / small-star edge
    * rewiring (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014 — public algorithm, original implementation).
    * Min-label propagation needs O(diameter) rounds, so a million-hop
    * chain needs a million shuffles; star rewiring halves path lengths
    * each alternation and converges in O(log n) rounds on ANY graph
    * shape. Use it when the pair graph may be chain-shaped (overlapping
    * chunking, paragraph pipelines) or its diameter is simply unknown.
    *
    *  - large-star: every node links its larger neighbors to its
    *    smallest-known neighbor (one groupBy + one join per round);
    *  - small-star: every node links its smaller-or-equal neighbors to
    *    the minimum, collapsing local stars;
    *  - fixed point: the edge set is a union of stars (child → component
    *    root); detected by a (count, Σsrc, Σdst) triple going stationary
    *    (decimal sums — overflow-safe for any 64-bit id space).
    *
    * Output matches [[labelPropagation]]: (id, component = min reachable
    * node id) for every node in `nodes`. Per-partition union-find
    * contraction runs first; when the whole graph lands in one partition
    * it IS the answer and no alternation runs. Otherwise the global loop
    * is eager, one alternation per materializing action, with RDD
    * persists checkpointed to scratch parquet every
    * [[CheckpointEvery]] rounds; every persist is released before
    * return, on every exit path. Throws if `maxIters` alternations
    * don't converge.
    */
  def alternatingStar(
      nodes: DataFrame,
      pairs: DataFrame,
      id: String,
      a: String,
      b: String,
      maxIters: Int = 30): DataFrame = {
    val spark = nodes.sparkSession
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def canon(df: DataFrame): DataFrame = df
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
    // Batch materializer + fused convergence stat, two tiers à la GraphX's
    // persist-every-iteration / checkpoint-every-N:
    //
    //  - default (fast path): persist the batch output as an RDD and
    //    collect the (count, Σu, Σv) convergence triple with the SAME
    //    aggregate action that forces the persist — one job, no extra
    //    stat jobs. Lineage is NOT truncated (task binaries keep the RDD
    //    ancestry), which is fine for a few batches;
    //  - every `CheckpointEvery`-th batch (spill tier): write the edges
    //    to a scratch parquet instead — TRUE lineage truncation (an RDD
    //    persist cuts recomputation but every task binary still
    //    serializes the full RDD ancestry, which otherwise grows
    //    ~100 KB/round and becomes per-task deserialization cost on deep
    //    graphs) — with the triple collected as observed metrics of the
    //    SAME write action. The file is also a reliable recovery point
    //    (re-readable after executor loss, unlike a lost persisted RDD
    //    whose lineage root was already unpersisted). Scratch files
    //    self-delete at JVM exit (PipelineStage.scratch contract); a run
    //    leaves O(log n / CheckpointEvery) dup-graph-bounded files.
    def triple(n: Long, su: Any, sv: Any): (Long, BigDecimal, BigDecimal) = {
      def dec(x: Any): BigDecimal = x match {
        case null => BigDecimal(0)
        case d: java.math.BigDecimal => BigDecimal(d)
        case d: org.apache.spark.sql.types.Decimal => d.toBigDecimal
        case other => BigDecimal(other.toString)
      }
      (n, dec(su), dec(sv))
    }
    // The fast path's stat also says whether every row sits in ONE
    // partition of the pinned RDD (an empty one counts: min and max are
    // both null). The partition id is projected before the aggregate: a
    // nondeterministic expression may not sit inside one.
    def pinStat(df: DataFrame, scope: CheckpointScope)
        : (DataFrame, (Long, BigDecimal, BigDecimal), Boolean) = {
      val sdf = spark.createDataFrame(scope.pinRdd(df.rdd, level), df.schema)
      val row = sdf.select(col("u"), col("v"), spark_partition_id().as("p"))
        .agg(
          count(lit(1)),
          sum(col("u").cast("decimal(38,0)")),
          sum(col("v").cast("decimal(38,0)")),
          min(col("p")),
          max(col("p"))).collect()(0)
      (sdf, triple(row.getLong(0), row.get(1), row.get(2)), row.get(3) == row.get(4))
    }
    def matStat(df: DataFrame, tag: String, spill: Boolean, scope: CheckpointScope)
        : (DataFrame, (Long, BigDecimal, BigDecimal)) =
      if (spill) {
        val obs = org.apache.spark.sql.Observation()
        val written = graft.pipeline.PipelineStage.scratch(
          df.observe(
            obs,
            count(lit(1)).as("n"),
            sum(col("u").cast("decimal(38,0)")).as("su"),
            sum(col("v").cast("decimal(38,0)")).as("sv")),
          tag)
        val m = obs.get
        (written, triple(m("n").asInstanceOf[Long], m("su"), m("sv")))
      } else {
        val (sdf, t, _) = pinStat(df, scope)
        (sdf, t)
      }
    // Canonical (u = hi, v = lo) edge list — LAZY: the contraction's
    // single materializing action computes the (possibly expensive) pair
    // plan exactly once, because canon ends in the distinct exchange
    // every reference reuses.
    //
    // LOCAL CONTRACTION first (one narrow pass, the standard big-graph
    // CC preprocessing): range-partition the canonical edges and replace
    // each partition's subgraph with its union-find star forest. Global
    // rounds then start from per-partition stars, so the remaining
    // diameter is bounded by the CROSS-partition structure — for the
    // id-local chain graphs real chunking pipelines emit (doc N's chunks
    // pair consecutive ids), range partitioning puts runs of the chain
    // in one partition and the global round count drops from ~log2(n)
    // to ~log2(partitions). Range on (u, v), not u alone, so a mega-star
    // (billions of edges sharing one u) splits across partitions instead
    // of funneling one task's union-find map; memory per task is
    // O(nodes in partition), the bound the partitioner already enforces
    // for the edge rows themselves.
    // The canonical edges are PERSISTED across the contraction:
    // repartitionByRange computes its bounds with a separate RDD sampling
    // job over its child, so an unpersisted (and typically expensive —
    // shingle joins, LSH bands) pair plan would execute twice before the
    // contraction. The persist makes the sampling pass populate the cache
    // and the range shuffle read it back; it is released as soon as the
    // contraction is materialized.
    //
    // Every persist below lives in ONE scope, released on every exit
    // path (non-convergence, job failure) — a long-lived session must not
    // accumulate cache blocks from failed dedup runs. The scope holds the
    // contraction until the first batch, each batch's large-star cache
    // until that batch is materialized, and the unspilled batch outputs
    // the current edge state may still depend on: those are released
    // wholesale at each spill (the file re-roots everything) and when the
    // scope closes after the final labels.
    CheckpointScope.using() { scope =>
    val canonEdges = scope.pin(canon(
      pairs.select(col(a).cast("long").as("u"), col(b).cast("long").as("v"))),
      level)
    // The contraction is materialized EAGERLY, pinned like a batch
    // output: the first alternation references its input four times (two
    // sym orientations, each read by the min aggregate and the re-link
    // join), and only the range exchange below the union-find kernel is
    // dedup'd by ReuseExchange — unpinned, the kernel itself would run 4×
    // over the full dup graph in the most expensive batch. Its stat seeds
    // the convergence test, so the loop needs no confirming alternation:
    //
    //  - all rows in ONE partition: that union-find ran over the whole
    //    graph, so its output is the exact min-label star forest — the
    //    fixed point, with no alternation at all (every edge leaves a
    //    non-root node in its partition, so no other partition saw an
    //    edge). The empty graph is converged too;
    //  - otherwise the loop runs, and a contraction that is already a
    //    fixed point stops after one alternation. Duplicate edges from
    //    different partitions cannot fake that match: an alternation
    //    emits at most one distinct edge per distinct input edge, so the
    //    counts differ.
    val (contracted, contractedStat, onePartition) = pinStat(localStars(canonEdges), scope)
    scope.release(canonEdges)
    var edges: DataFrame = contracted
    // One large-star + small-star alternation as a LAZY plan; the only
    // materialization inside is the large-star output (referenced twice
    // by small-star with no shared trailing exchange, so without a
    // persist it would compute twice). The output ends in canon's
    // distinct EXCHANGE, so the next batch's two references to the
    // materialized edge state reuse one computation.
    def alternate(in: DataFrame): (DataFrame, DataFrame) = {
      // LARGE-STAR over both orientations: x's strictly-larger
      // neighbors re-link to x's minimum (incl. x itself). Output is
      // already canonically oriented (u = y > x ≥ m = v) and loop-free,
      // and duplicate edges are harmless to the small-star min
      // aggregates — so NO intermediate canon/distinct shuffle here;
      // the alternation's single distinct runs once, on the small-star
      // output. (A deep chain pays ~log n rounds of pure fixed stage
      // cost, so one fewer shuffle per round is a 25-30 % wall cut on
      // adversarial graphs.)
      val sym = in.select(col("u").as("x"), col("v").as("y"))
        .unionByName(in.select(col("v").as("x"), col("u").as("y")))
      val mins = sym.groupBy("x").agg(least(min(col("y")), col("x")).as("m"))
      val ls = scope.pin(sym.filter(col("y") > col("x"))
        .join(mins, "x")
        .select(col("y").as("u"), col("m").as("v")), level)
      // SMALL-STAR on (hi → lo) edges: hi's smaller neighbors (and hi)
      // all re-link to hi's minimum neighbor. Both outputs (v → m and
      // u → m) come from the SAME joined row, so one join + explode
      // replaces the former two-join union — one scan of ls and one
      // exchange fewer per alternation (round latency is the cost of
      // this operator; the data is tiny relative to the stage floor).
      val lmins = ls.groupBy("u").agg(min(col("v")).as("m"))
      val raw = ls.join(lmins, "u")
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      (canon(raw), ls)
    }
    var cur = contractedStat
    var k = 0
    var converged = onePartition
    while (k < maxIters && !converged) {
      // ONE alternation per eager step. A 2-alternation batch variant
      // (undeduped mid-batch edge set fused into the second alternation)
      // was measured and REJECTED: after local contraction the round
      // counts are small, and the deeper per-action plan cost more than
      // the saved driver sync on every graph shape tried (shallow
      // near-clique AND the 1000-hop chain). Endpoint sums only decrease
      // under star rewiring and strictly decrease unless the edge set is
      // a fixed point, so consecutive-stat equality IS the fixed-point
      // test.
      val (out, ls) = alternate(edges)
      val spill = k % CheckpointEvery == CheckpointEvery - 1
      val (ss, next) = matStat(out, s"cc-edges-$k", spill, scope)
      scope.release(ls)
      if (spill) scope.close()
      if (k == 0) scope.release(contracted)
      edges = ss
      converged = next._1 == 0L || next == cur
      cur = next
      k += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"alternating-star components did not converge within $maxIters rounds")
    // fixed point = union of stars: every edge is (child, root)
    val assigned = edges.groupBy(col("u").as(id)).agg(min(col("v")).as("component"))
    val roots = edges.select(col("v").as(id)).distinct()
      .join(assigned.select(col(id)), Seq(id), "left_anti")
      .withColumn("component", col(id))
    val labeled = assigned.unionByName(roots)
    // Materialize ONLY the pair-subgraph labels — bounded by the dup
    // volume (2·|pairs| at worst), never the corpus — to a scratch
    // parquet, entirely on the executors. At 100 TB with realistic
    // 20-30 % duplication the labels are billions of rows, so a driver
    // collect() here would OOM exactly on the corpora dedup exists for;
    // the file re-roots the fixed point so every still-live loop RDD can
    // be released (the scope's close) — the returned plan is rooted
    // entirely in files, keeps the singleton majority a LAZY anti-join,
    // and owns no persisted state and no driver-resident rows.
    val labeledDf = graft.pipeline.PipelineStage.scratch(labeled, "components-labels")
    val singletons = nodes.select(col(id).cast("long").as(id)).distinct()
      .join(labeledDf.select(col(id)), Seq(id), "left_anti")
      .withColumn("component", col(id))
    labeledDf.unionByName(singletons)
    }
  }

  /** Convergence-checked tier: iterate EAGERLY with per-round persisted
    * labels until the assignment is stationary — labels only decrease
    * under min-propagation, so the per-round label sum is one scalar
    * that detects the fixed point — then return the UNROLLED k-round
    * lazy plan. Every cached frame is unpersisted before return (repo
    * cache contract) and the returned plan recomputes deterministically
    * from source. Numeric ids required; the sum is taken in
    * decimal(38,0) so any 64-bit id space is overflow-safe.
    */
  def labelPropagation(
      nodes: DataFrame,
      pairs: DataFrame,
      id: String,
      a: String,
      b: String,
      maxIters: Int = 20): DataFrame = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = symPairs(pairs, a, b)
    val pn = pairNodes(sym, id)
    val edges = symEdges(sym, pn, id)
    def labelSum(df: DataFrame): BigDecimal =
      Option(df.agg(sum(col("component").cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0))   // null on an empty (pair-free) graph
        .map(BigDecimal(_)).getOrElse(BigDecimal(0))
    val needed = CheckpointScope.using() { scope =>
      scope.pin(edges, level)
      var cur = scope.pin(pn.withColumn("component", col(id)), level)
      var curSum = labelSum(cur)
      var k = 0
      var converged = false
      while (k < maxIters && !converged) {
        val next = scope.pin(round(edges, cur, id), level)
        val nextSum = labelSum(next)
        if (nextSum == curSum) { scope.release(next); converged = true }
        else { scope.release(cur); cur = next; curSum = nextSum; k += 1 }
      }
      if (!converged)
        throw new IllegalStateException(
          s"connected components did not converge within $maxIters rounds — " +
            "the pair graph is adversarially deep; raise maxIters")
      k
    }
    labelPropagationFixed(nodes, pairs, id, a, b, math.max(needed, 1))
  }

  /** INCREMENTAL component maintenance — the production shape when a new
    * batch arrives against an already-labeled corpus: instead of
    * recomputing all corpus-internal pairs, take the prior labeling as
    * STAR EDGES (`node — label`, which preserve every old component's
    * connectivity at depth 1) and union only the NEW pairs (batch↔batch
    * and batch↔corpus). [[alternatingStar]] over that graph converges in
    * rounds bounded by the NEW merge structure — old components are
    * already stars, so unless the batch actually chains components
    * together the fixed point is 1-2 rounds, or none when the
    * contraction fits one partition — and the result is
    * EXACTLY the full-recompute labeling (min-id per merged component),
    * which is what the registered query's shared full-closure oracle
    * verifies. At 100 TB this is the difference between re-shingling
    * yesterday's corpus and touching only the increment.
    */
  def incrementalUpdate(
      prior: DataFrame, // (id, labelCol) — yesterday's labeling
      id: String,
      labelCol: String,
      newNodes: DataFrame, // (id) — the arriving batch
      newPairs: DataFrame, // (a, b) — pairs touching the batch
      a: String,
      b: String): DataFrame = {
    val starPairs = prior.filter(col(labelCol) =!= col(id))
      .select(col(id).as(a), col(labelCol).as(b))
    val nodes = prior.select(col(id))
      .unionByName(newNodes.select(col(id))).distinct()
    alternatingStar(
      nodes, starPairs.unionByName(newPairs.select(col(a), col(b))), id, a, b)
  }
}
