package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Stats

object TestSpark {
  lazy val spark: SparkSession = GraftSession.tune(SparkSession.builder())
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class StatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("mean_std matches the reference docstring golden (utils.py:120-138)") {
    import spark.implicits._
    val df = Seq(
      (1, 0, 1.0), (1, 0, 2.0), (1, 0, 1.0), (1, 0, 1.0),
      (2, 1, 2.0), (2, 1, 3.0), (2, 1, 3.0),
      (3, 2, 3.0), (3, 2, 4.0), (3, 2, 3.0),
      (4, 3, 4.0), (4, 3, 5.0)).toDF("n", "x", "y")
    val got = Stats.meanStd(df, Seq("n", "x"), Seq("y"))
      .orderBy("n")
      .select("n", "x", "y mean", "y std")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    val want = Seq(
      (1, 0, 1.25, 0.5),
      (2, 1, 2.666667, 0.57735),
      (3, 2, 3.333333, 0.57735),
      (4, 3, 4.5, 0.707107))
    got.zip(want).foreach { case ((n, x, m, s), (wn, wx, wm, ws)) =>
      assert(n == wn && x == wx)
      assert(math.abs(m - wm) < 1e-5, s"mean n=$n")
      assert(math.abs(s - ws) < 1e-5, s"std n=$n")
    }
  }

  test("medianInPlace interpolates like quantile_cont(0.5)") {
    assert(Stats.medianInPlace(ArrayBuffer(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.medianInPlace(ArrayBuffer(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.medianInPlace(ArrayBuffer(5.0)) == 5.0)
  }

  test("madStd: 1.4826 * MAD, shift-invariant, scale-equivariant") {
    import spark.implicits._
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 100.0)
    def madOf(data: Seq[Double]): Double =
      data.map(x => (1, x)).toDF("g", "x")
        .groupBy("g").agg(Stats.madStd(col("x")).as("m"))
        .collect().head.getDouble(1)
    val base = madOf(xs)
    assert(math.abs(base - 1.4826) < 1e-9) // median=3, |dev|=(2,1,0,1,97) → MAD=1
    assert(math.abs(madOf(xs.map(_ + 7.0)) - base) < 1e-9)
    assert(math.abs(madOf(xs.map(_ * 3.0)) - base * 3.0) < 1e-9)
  }

  test("histogram clamps under/overflow into edge buckets") {
    import spark.implicits._
    val df = Seq(-5.0, 0.5, 1.5, 9.5, 25.0).toDF("x")
    val h = Stats.histogram(df, col("x"), 0.0, 10.0, 10)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(h.toSeq == Seq((0L, 2L), (1L, 1L), (9L, 2L)))
  }

  test("binnedIqrStdPivotReplicas approximates sigma on normal data and respects weights") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val sigma = 2.5
    // group g0: unit weights; g1: same N(0, sigma) draws duplicated via
    // weight 3 — weighting must not change the quantiles
    val rows = (0 until 4000).flatMap { i =>
      val x = rnd.nextGaussian() * sigma
      Seq(("g0", x, 1), ("g1", x, 3))
    }
    val df = rows.toDF("g", "x", "w")
    // replicas = 0 with the weight as replica 0's multiplicity: the plain
    // weighted spread per group
    def spread(bins: Int) = Stats.binnedIqrStdPivotReplicas(
      df, Seq("g"), "x", 0, _ => col("w"), "spread", bins,
      rangeOf = df, rangeKeys = Seq("g"))
    val got = spread(2048)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("spread")).toMap
    assert(math.abs(got("g0") - sigma) / sigma < 0.06, s"g0=${got("g0")}")
    assert(math.abs(got("g1") - got("g0")) / sigma < 0.01,
      s"weighted ${got("g1")} vs unit ${got("g0")}")
    // lo/hi extras are the exact per-group min/max
    val lohi = spread(2048).filter(col("g") === "g0").select("lo", "hi").collect().head
    val xs = rows.filter(_._1 == "g0").map(_._2)
    assert(lohi.getDouble(0) == xs.min && lohi.getDouble(1) == xs.max)
  }

  test("binnedIqrStdPivotReplicas: every replica equals a one-replica run with its multiplicity") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // three 300-row groups plus five one-row groups: a one-row group is
    // absent from each replica whose multiplicity for its row is 0
    val rows = (0 until 900).map(i => (s"g${i % 3}", i.toLong, rnd.nextGaussian())) ++
      (0 until 5).map(i => (s"s$i", 1000L + i, i.toDouble))
    val df = rows.toDF("g", "i", "x")
    // hashed multiplicity in {0, 1, 2}: every replica skips some rows,
    // so it leaves some (group, bucket) cells unsampled
    def mult(r: Int): Column = pmod(xxhash64(col("i"), lit(r)), lit(3L))
    def spread(replicas: Int, m: Int => Column) = Stats.binnedIqrStdPivotReplicas(
      df, Seq("g"), "x", replicas, m, "spread", bins = 64,
      rangeOf = df, rangeKeys = Seq("g"))
    def cells(rs: Array[Row]) = rs
      .map(r => (r.getAs[String]("g"), r.getAs[Double]("spread"),
        r.getAs[Double]("lo"), r.getAs[Double]("hi")))
      .sortBy(_._1).toSeq
    val pivoted = spread(3, mult).collect()
    val sizes = (0 to 3).map { r =>
      val one = spread(0, _ => mult(r)).collect()
      assert(one.forall(_.getAs[Int]("replica") == 0))
      val got = cells(pivoted.filter(_.getAs[Int]("replica") == r))
      assert(got == cells(one), s"replica $r")
      got.size
    }
    assert(sizes.sum == pivoted.length, s"rows outside replicas 0..3: $sizes")
    assert(sizes.exists(_ < 8), s"no replica skipped a one-row group: $sizes")
  }

  test("ecdfByValueCounts equals the cume_dist window tier, ties and nulls included") {
    import spark.implicits._
    // heavy ties (few distinct values per group) — the regime the counts
    // tier exists for — plus nulls, which cume_dist orders first and the
    // counts tier must match via null-safe keys
    val rows = (0 until 3000).map { i =>
      val g = s"g${i % 3}"
      val v: java.lang.Double = if (i % 17 == 0) null else (i % 7).toDouble
      (i.toLong, g, v)
    }
    val df = rows.toDF("id", "g", "x")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), Option(r.get(2)), r.getDouble(3))
    val window = Stats.ecdf(df, Seq("g"), col("x")).collect().map(key).toSet
    val counts = Stats.ecdfByValueCounts(df, Seq("g"), "x").collect().map(key).toSet
    assert(counts == window)
    // and the counts tier's only window runs over the distinct-value
    // table, so a 1000-row group never becomes one sort task: the sorted
    // relation is bounded by distinct values (8 here), not rows
    assert(Stats.ecdfByValueCounts(df, Seq("g"), "x").count() == 3000)
  }

  test("exactQuantiles: type-1 semantics, shard-count invariant, null-proof") {
    import spark.implicits._
    // negative values exercise the sortable-bits sign flip; duplicates
    // exercise the distinct-count path; nulls must be dropped entirely
    val vals = (0 until 5000).map(i => ((i * 2654435761L) % 997).toDouble - 498.0)
    val rows: Seq[java.lang.Double] =
      vals.map(java.lang.Double.valueOf) ++ Seq[java.lang.Double](null, null)
    val df = rows.toDF("x")
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    // reference: sort the non-null values and index at ceil(q*n) (1-based)
    val sorted = vals.sorted
    val expect = qs.map(q => q -> sorted((math.ceil(q * sorted.size) - 1).toInt.max(0))).toMap
    for (bits <- Seq(1, 4, 12)) {
      val got = Stats.exactQuantiles(df, "x", qs, shardBits = bits)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      assert(got == expect, s"shardBits=$bits")
    }
    // q=1.0 is the max — the rank target ceil(n) is reachable
    assert(expect(1.0) == sorted.last)
  }

  test("percentRank matches the single-window percent_rank, ties included") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // heavy ties + negatives (sortable-bits sign flip); nulls dropped
    val rows: Seq[(Long, java.lang.Double)] = (0L until 3000L).map { i =>
      (i, if (i % 31 == 0) null
          else java.lang.Double.valueOf(((i * 37) % 101).toDouble - 50.0))
    }
    val df = rows.toDF("id", "x")
    val got = Stats.percentRank(df, "x", shardBits = 4)
      .select("id", "pct_rank").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = df.filter(col("x").isNotNull)
      .withColumn("pct_rank", percent_rank().over(Window.orderBy("x")))
      .select("id", "pct_rank").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == ref)
    // shard-count invariance of the same result
    val got12 = Stats.percentRank(df, "x", shardBits = 12)
      .select("id", "pct_rank").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got12 == ref)
  }
}
