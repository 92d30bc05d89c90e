package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table storage — the co-located-join discipline as a user
  * API. Two fact tables bucketed AND sorted on their join key join with
  * ZERO exchanges on either side (PlanSpec pins the plan shape): at
  * 100 TB that turns the recurring fact×fact join from the dominant
  * shuffle into a local merge per bucket. Buckets are Spark-native
  * (hive-style metastore tables), so every engine query addresses them
  * as ordinary tables.
  *
  * Use for the join keys a pipeline hits repeatedly (orderkey,
  * doc_id): one bucketed write amortizes across every later join.
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted managed table (overwrites). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      buckets: Int,
      keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Equi-join two same-bucketed tables on their bucket keys. The plan
    * must contain no Exchange; callers can assert via
    * [[exchangeCount]].
    */
  def coLocatedJoin(
      spark: SparkSession,
      left: String,
      right: String,
      keys: Seq[String]): DataFrame =
    spark.table(left).join(spark.table(right), keys)

  /** Number of Exchange operators in a frame's executed plan — 0 for a
    * correctly co-located join.
    */
  def exchangeCount(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
}
