package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Checkpoints, Components}

class ComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Alternating-star over `edges` on nodes 0 until `n`, run twice: as
    * the session plans it, and with AQE partition coalescing off. Graphs
    * this small coalesce the contraction's range exchange to ONE
    * partition, whose union-find is already the answer, so no
    * alternation runs; uncoalesced, the contraction keeps TestSpark's 4
    * range partitions and the loop must finish what they left. Both runs
    * must give `expected` and leave no pin behind. A listener counts each
    * run's jobs and the stages built under the kernel's pinning `df.rdd`
    * call (a stage is named for its call site): the contraction's pin
    * builds one, every unspilled alternation's pin builds more.
    */
  private def bothRuns(name: String, n: Long, edges: Seq[(Long, Long)],
      expected: Map[Long, Long]): Unit = {
    import spark.implicits._
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    def run(coalesce: Boolean): (Int, Int) = {
      val jobs = new AtomicInteger
      val pinStages = TrieMap.empty[Int, Unit]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          e.stageInfos.filter(_.name.startsWith("rdd at Components.scala"))
            .foreach(si => pinStages.put(si.stageId, ()))
        }
      }
      val pinned = Checkpoints.pinnedIds(spark)
      val old = spark.conf.getOption(key)
      spark.conf.set(key, coalesce.toString)
      spark.sparkContext.addSparkListener(listener)
      val got =
        try Components.alternatingStar(
          (0L until n).toDF("doc_id"), edges.toDF("id_a", "id_b"),
          "doc_id", "id_a", "id_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        finally {
          ListenerDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        }
      assert(got == expected, s"$name coalesce=$coalesce: " +
        got.filter { case (k, v) => expected(k) != v }.take(5))
      assert(Checkpoints.pinnedIds(spark).subsetOf(pinned),
        s"$name coalesce=$coalesce leaked pins")
      (jobs.get, pinStages.size)
    }
    val (oneJobs, onePins) = run(coalesce = true)
    val (spanJobs, spanPins) = run(coalesce = false)
    assert(onePins == 1, s"$name: one partition must not alternate")
    assert(spanPins > 1, s"$name: spanning partitions must alternate")
    assert(spanJobs > oneJobs, s"$name: jobs $spanJobs vs $oneJobs")
  }

  test("alternating-star solves a 1000-hop chain in O(log n) rounds") {
    // a chain this deep would need 999 label-propagation rounds; the
    // star-rewiring tier must finish well inside its 30-round default
    val n = 1000L
    bothRuns("1000-hop chain", n, (0L until n - 1).map(i => (i, i + 1)),
      (0L until n).map(_ -> 0L).toMap)
    // the large-star intermediates are DATAFRAME persists now — the
    // CacheManager must come back empty too, or a long session would
    // serve future plans from stale registered caches
    assert(spark.sharedState.cacheManager.isEmpty, "leaked CacheManager entries")
  }

  test("alternating-star finds dup clusters on a mixed graph") {
    import spark.implicits._
    // chain {1-2-3}, pair {10,11}, triangle {5,6,7}, singletons 20, 21
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 7L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("id_a", "id_b")
    val star = Components.alternatingStar(nodes, pairs, "doc_id", "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("empty pair set: every node is its own component") {
    import spark.implicits._
    val got = Components.alternatingStar(
      Seq(4L, 9L).toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "doc_id", "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 4L, 9L -> 9L))
  }

  test("alternating-star holds no driver-materialized labels in its plan") {
    import spark.implicits._
    // round-trip sources through parquet so the ONLY way a LocalRelation
    // can appear in the result plan is a driver-side collect of labels —
    // the 100 TB OOM path this spec pins shut. The labels must instead be
    // a distributed scratch-parquet scan (HadoopFsRelation leaf).
    val dir = java.nio.file.Files.createTempDirectory("components-plan").toString
    (0L to 99L).toDF("doc_id").write.parquet(s"$dir/nodes")
    (0L until 99L by 2).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .write.parquet(s"$dir/pairs")
    val nodes = spark.read.parquet(s"$dir/nodes")
    val pairs = spark.read.parquet(s"$dir/pairs")
    val pinned = Checkpoints.pinnedIds(spark)
    val got = Components.alternatingStar(nodes, pairs, "doc_id", "id_a", "id_b")
    val leaves = got.queryExecution.optimizedPlan.collectLeaves()
    assert(!leaves.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"driver-materialized relation leaked into the components plan:\n$leaves")
    val m = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size == 100 && (0L until 99L by 2).forall(i => m(i + 1) == i && m(i) == i))
    assert(Checkpoints.pinnedIds(spark).subsetOf(pinned), "alternating-star leaked pins")
  }

  test("alternating-star matches a union-find oracle on seeded random graphs") {
    // density sweep: sparse forest (m < n, mostly trees + singletons),
    // critical (m ≈ n, a giant component emerges), dense (m >> n, few
    // blobs) — the regimes where contraction, the star rounds, and the
    // singleton anti-join each dominate differently
    for ((seed, m) <- Seq((1, 60), (2, 150), (3, 500))) {
      val rnd = new scala.util.Random(seed)
      val n = 150
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      bothRuns(s"seed=$seed m=$m", n, edges, expected)
    }
  }

  test("incremental update equals full recompute, including cross-component chaining") {
    import spark.implicits._
    // prior corpus: two components {0..4} (chain) and {10..14} (chain),
    // plus singletons 20, 21
    val corpusNodes = ((0L to 4L) ++ (10L to 14L) ++ Seq(20L, 21L)).toDF("id")
    val corpusPairs = ((0L until 4L).map(i => (i, i + 1)) ++
      (10L until 14L).map(i => (i, i + 1))).toDF("a", "b")
    val prior = graft.operators.Components.alternatingStar(
      corpusNodes, corpusPairs, "id", "a", "b")
    // batch: 30 links component-{0} to component-{10} (a MERGE of two
    // prior components through a new node), 31 joins singleton 20,
    // 32 arrives unconnected
    val batchNodes = Seq(30L, 31L, 32L).toDF("id")
    val newPairs = Seq((4L, 30L), (30L, 12L), (20L, 31L)).toDF("a", "b")
    val inc = graft.operators.Components.incrementalUpdate(
      prior, "id", "component", batchNodes, newPairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.operators.Components.alternatingStar(
      corpusNodes.unionByName(batchNodes),
      corpusPairs.unionByName(newPairs), "id", "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full)
    // the merge actually happened: 0..4, 10..14, 30 now share label 0
    assert(((0L to 4L) ++ (10L to 14L) :+ 30L).forall(inc(_) == 0L))
    assert(inc(20L) == 20L && inc(31L) == 20L && inc(32L) == 32L)
  }
}
