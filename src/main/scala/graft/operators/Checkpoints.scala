package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of materialized state: every persist, cache and eager
  * `localCheckpoint` in the engine is taken through a scope, and every
  * release goes through the scope or through [[Checkpoints.release]].
  *
  * `Dataset.localCheckpoint(true)` pins the materialized rows for the
  * JVM lifetime and hands back no handle, so a fixed-point kernel that
  * cuts lineage every round leaks edges+nodes+rank blocks per CALL —
  * across a 288-query bench pass that accumulation is executor-memory
  * pressure that inflates every storage-heavy query that runs after it
  * (the r9 driver-artifact regression). The scope recovers each
  * checkpoint's pinned RDD from the frame's `LogicalRDD` leaf — public
  * RDD API only, no global registry diffing, so concurrent sessions and
  * queries can't sweep each other's blocks.
  *
  * Release protocol:
  *
  *  - [[mat]] / [[pin]] / [[pinRdd]] — a BASE relation (edges,
  *    nodes, degrees, a reused corpus) read repeatedly; released by
  *    [[close]], or early by [[release]].
  *  - [[roll]] — a LOOP-CARRIED relation: checkpointing round i+1
  *    eagerly materializes every block BEFORE the round-i blocks are
  *    released, so the old checkpoint can never be read again (lineage
  *    is already truncated — an unpersisted localCheckpoint cannot
  *    recompute, which is exactly why release must wait for the eager
  *    materialization of its successor).
  *  - [[close]] — releases all base handles and every rolling channel
  *    EXCEPT those named in `keep`: the kernel's returned plan is rooted
  *    only in the kept final checkpoints, which the result owns from
  *    then on — whoever consumes it frees them with
  *    [[Checkpoints.release]].
  *
  * Kernels open a scope with [[CheckpointScope.using]], which closes it
  * on every exit path.
  */
private[graft] final class CheckpointScope {
  private val base = mutable.ArrayBuffer.empty[RDD[_]]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  private val channels = mutable.Map.empty[String, RDD[_]]

  /** Eager localCheckpoint of a base relation, tracked for [[close]]. */
  def mat(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    base ++= Checkpoints.pinnedRdds(out)
    out
  }

  /** Lazy persist of a relation the bracket reads more than once; the
    * first action over it populates the cache. Released by [[close]],
    * or early by [[release]]. The returned frame is `df` itself.
    */
  def pin(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    cached += df
    df
  }

  /** [[pin]] for an RDD (a frame's rows kept as an RDD the caller
    * re-wraps), released with the base handles.
    */
  def pinRdd[T](rdd: RDD[T], level: StorageLevel): RDD[T] = {
    rdd.persist(level)
    base += rdd
    rdd
  }

  /** Release ONE tracked base relation early (a setup-only relation
    * whose derived products are already materialized, a per-round cache
    * whose consumer has run) — its blocks otherwise ride executor
    * storage for the whole loop. A frame the scope does not track is
    * left alone.
    */
  def release(df: DataFrame): Unit =
    if (cached.exists(_ eq df)) {
      cached.filterInPlace(_ ne df)
      df.unpersist(false)
    } else Checkpoints.pinnedRdds(df).filter(base.contains).foreach { r =>
      base -= r
      r.unpersist(blocking = false)
    }

  /** Eager localCheckpoint of a loop-carried relation: the channel's
    * previous checkpoint is released as soon as the new one is fully
    * materialized. Distinct channels roll independently (HITS rolls the
    * raw-authority and raw-hub relations side by side).
    */
  def roll(channel: String, df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    channels.remove(channel).foreach(_.unpersist(blocking = false))
    Checkpoints.pinnedRdds(out).foreach(channels(channel) = _)
    out
  }

  /** Release every base handle and every rolling channel not named in
    * `keep`. Idempotent; the scope stays usable, so a loop can close it
    * at an epoch boundary and keep going.
    */
  def close(keep: String*): Unit = {
    base.foreach(_.unpersist(blocking = false))
    base.clear()
    cached.foreach(_.unpersist(false))
    cached.clear()
    val k = keep.toSet
    channels.filterInPlace { case (name, rdd) =>
      if (k.contains(name)) true
      else { rdd.unpersist(blocking = false); false }
    }
  }
}

private[graft] object CheckpointScope {

  /** Run `body` on a fresh scope. On return the scope is closed keeping
    * the channels named in `keep` (the result is rooted in them and owns
    * them from then on); if `body` throws, everything is released, kept
    * channels included, since the result never reaches a consumer.
    */
  def using[A](keep: String*)(body: CheckpointScope => A): A = {
    val scope = new CheckpointScope
    val out =
      try body(scope)
      catch { case t: Throwable => scope.close(); throw t }
    scope.close(keep: _*)
    out
  }
}

private[graft] object Checkpoints {

  /** Pinned RDDs `df`'s logical plan is rooted in: for every
    * `LogicalRDD` leaf (subqueries included), the first persisted RDDs
    * on each lineage path below the leaf's RDD, found over the public
    * `dependencies`/`getStorageLevel` API. For a freshly
    * `localCheckpoint(true)`'d frame this is exactly its checkpoint RDD.
    * Reads the logical plan only: plans nothing and runs no job.
    */
  def pinnedRdds(df: DataFrame): Seq[RDD[_]] = {
    val seen = mutable.Set.empty[Int]
    def walk(r: RDD[_]): Seq[RDD[_]] =
      if (!seen.add(r.id)) Nil
      else if (r.getStorageLevel != StorageLevel.NONE) Seq(r)
      else r.dependencies.flatMap(d => walk(d.rdd))
    df.queryExecution.logical
      .collectWithSubqueries { case l: LogicalRDD => l.rdd }
      .flatMap(walk)
  }

  /** Free the pins `result` owns — the kept final checkpoints its plan is
    * rooted in — once the result has been consumed. Runs no Spark job, and
    * touches no other query's state, so consumers sharing a session can
    * each release their own results. Sound because no cross-query memo is
    * a persisted RDD: `PipelineStage` memos are parquet and `TrainCache`
    * holds driver-side models.
    */
  def release(result: DataFrame): Unit =
    pinnedRdds(result).foreach(_.unpersist(blocking = false))

  /** Ids of the RDDs the session's context holds persisted — read-only,
    * for reports and leak checks. Compare id sets, not counts: the
    * context holds its RDDs weakly, so an unreachable one may drop out
    * at any garbage collection.
    */
  def pinnedIds(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
}
