package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checkpoints

/** Each result owns the checkpoints its plan is rooted in, and releasing
  * one result frees those and nothing else — so results built on one
  * session can be consumed in any order, also from two threads at once.
  */
class PinOwnershipSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val pair = Seq("graph_pagerank", "graph_kcore")

  private def build(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  /** Each row built, consumed and released on its own. */
  private lazy val sequential: Map[String, Seq[String]] = pair.map { n =>
    val df = build(n)
    try n -> rows(df) finally Checkpoints.release(df)
  }.toMap

  test("releasing one result leaves another live result's checkpoints intact") {
    sequential
    val pinned = Checkpoints.pinnedIds(spark)
    val Seq(pr, kc) = pair.map(build)
    assert(Checkpoints.pinnedRdds(pr).nonEmpty && Checkpoints.pinnedRdds(kc).nonEmpty,
      "both rows are expected to return checkpoint-rooted plans")
    assert(rows(pr) == sequential("graph_pagerank"))
    Checkpoints.release(pr)
    assert(rows(kc) == sequential("graph_kcore"))
    Checkpoints.release(kc)
    assert(Checkpoints.pinnedIds(spark).subsetOf(pinned))
  }

  test("two threads build, consume and release their own results on one session") {
    sequential
    val pinned = Checkpoints.pinnedIds(spark)
    val pool = Executors.newFixedThreadPool(2)
    // both results are live before either is consumed or released
    val built = new CyclicBarrier(2)
    try {
      val got = pair.map { n =>
        n -> pool.submit(() => {
          val df = build(n)
          built.await(5, TimeUnit.MINUTES)
          try rows(df) finally Checkpoints.release(df)
        })
      }.map { case (n, f) => n -> f.get(10, TimeUnit.MINUTES) }.toMap
      assert(got == sequential)
    } finally pool.shutdown()
    assert(Checkpoints.pinnedIds(spark).subsetOf(pinned))
  }
}
