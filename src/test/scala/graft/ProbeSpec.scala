package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checkpoints
import graft.tools.Probe

/** `Probe`'s per-query routine on one lazy row and one eager graph row
  * (whose jobs run while the query is constructed), plus its error path,
  * and the job counts it reads for the iterative rows.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  for (name <- Seq("q1_tpch_full", "graph_pagerank")) {
    test(s"$name: row count matches a direct run, counters are live, state is released") {
      val pinned = Checkpoints.pinnedIds(spark)
      val df = SparkEntry.queries(name)(spark, dir)
      val direct = df.queryExecution.toRdd.count()
      Checkpoints.release(df)
      assert(Checkpoints.pinnedIds(spark).subsetOf(pinned))
      val rec = Probe.probe(spark, name, dir).toMap
      assert(!rec.contains("error"), rec)
      assert(rec("rows") == direct)
      assert(rec("jobs").asInstanceOf[Long] > 0, rec)
      assert(rec("tasks").asInstanceOf[Long] > 0, rec)
      assert(rec("persisted_after_release") == 0, rec)
      assert(Checkpoints.pinnedIds(spark).subsetOf(pinned))
    }
  }

  // Spark jobs per query, pinned exactly in the manner of PlanSpec's
  // shape pins: at a fixed core count and data set the count is
  // deterministic, so an eager kernel that starts paying an extra
  // confirmation round fails here before it shows on the clock. Probe
  // counts them with a listener drained by `ListenerDrain`, on its second
  // run, so the `dedup_components_incremental` prior memo is warm.
  for ((name, jobs) <- Seq(
      "graph_kcore" -> 30L,
      "dedup_keep_best" -> 20L,
      "dedup_components_incremental" -> 20L))
    test(s"$name runs $jobs jobs") {
      val rec = Probe.probe(spark, name, dir).toMap
      assert(!rec.contains("error"), rec)
      assert(rec("jobs") == jobs, rec)
    }

  test("an unknown query yields an error record, not a crash") {
    val rec = Probe.probe(spark, "no_such_query", dir)
    assert(rec.head == ("query" -> "no_such_query"))
    assert(rec.toMap.apply("error").toString.contains("no_such_query"))
    assert(Probe.json(rec).startsWith("""{"query":"no_such_query","error":"""))
  }
}
