package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The runtime half of the skew story: `operators.Skew` salts
  * DETERMINISTICALLY (plan-time); this pins that Spark's AQE
  * OptimizeSkewedJoin also fires under the engine's session settings —
  * a hot key's oversized shuffle partition is SPLIT at runtime and the
  * join executes with skew=true instead of one straggler task owning
  * the whole key. Thresholds are lowered to test scale (runtime confs,
  * restored in finally); at 100 TB the defaults (256 MB advisory) play
  * the same role.
  */
class AqeSkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("AQE splits the hot key's partition: skewed join runs with skew=true") {
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // hot key 0 carries 95% of the left side; 100 cold keys share the rest
      val left = spark.range(0, 400000)
        .select(when(col("id") < 380000, 0L)
          .otherwise(col("id") % 100 + 1).as("k"), col("id").as("v"))
      val right = spark.range(0, 101).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = left.join(right, "k")
      // drive THIS df's execution — count() would build a separate
      // QueryExecution and leave joined's adaptive plan un-finalized
      // (Probe executes the same way for its plan counts)
      assert(joined.queryExecution.toRdd.count() == 400000L)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "AQE did not split the skewed partition:\n" + p.take(2000))
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }
}
