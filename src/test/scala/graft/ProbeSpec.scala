package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checkpoints
import graft.tools.Probe

/** `Probe`'s per-query routine on one lazy row and one eager graph row
  * (whose jobs run while the query is constructed), plus its error path.
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

  test("an unknown query yields an error record, not a crash") {
    val rec = Probe.probe(spark, "no_such_query", dir)
    assert(rec.head == ("query" -> "no_such_query"))
    assert(rec.toMap.apply("error").toString.contains("no_such_query"))
    assert(Probe.json(rec).startsWith("""{"query":"no_such_query","error":"""))
  }
}
