package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.sql.SparkSession

/** Engine-wide session set-up, shared by every main and the test session
  * so a new entry point cannot silently drop it: [[tune]] for the
  * engine's settings, [[local]] for a main's whole session. A main frees
  * each result's pins with [[graft.operators.Checkpoints.release]].
  */
object GraftSession {

  /** Rank-guard conjuncts (`rn <= budget`) must map-side-prune at real
    * budget sizes — Spark's `InferWindowGroupLimit` only fires below
    * `windowGroupLimitThreshold`, which defaults to 1000 rows, far under
    * the engine's sampling/mixing budgets. Set to Int.MaxValue: the
    * group limit is a sort-order scan filter (no per-group buffering),
    * so there is no memory reason to cap it, and any budget it cannot
    * cover has already outgrown `row_number` itself — that regime is
    * [[graft.operators.Sampling.tokenBudgetCapShardedBy]]'s, not a
    * window's.
    */
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.optimizer.windowGroupLimitThreshold", Int.MaxValue.toString)
      // Cached plans are otherwise exempt from AQE partition coalescing
      // (Spark keeps their output partitioning stable by default), so an
      // iterative operator that persists a tiny intermediate (e.g.
      // alternating-star's large-star output) would materialize it with
      // the full shuffle-partition count — hundreds of empty tasks per
      // round. The engine has no consumer that relies on a cached plan's
      // physical partitioning, so let AQE right-size them.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** The session every main runs on: [[tune]]d, `local[$SPARK_GRAFT_CPUS]`
    * (default 4) with one shuffle partition per core, UTC session time
    * zone, no UI, WARN logging (set on the builder, so it holds from the
    * context's start-up on) less the one expected checkpoint-release
    * warning (see [[quietCheckpointRelease]]).
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = tune(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .getOrCreate()
    quietCheckpointRelease()
    spark
  }

  /** Releasing a local checkpoint makes Spark warn `RDD N was locally
    * checkpointed, its lineage has been truncated and cannot be
    * recomputed after unpersisting` — once per round of every iterative
    * kernel, and expected: `CheckpointScope` releases a checkpoint only
    * once nothing reads it again. A context-wide log4j filter denies that
    * one message; every other message, of every logger, keeps its level.
    */
  private def quietCheckpointRelease(): Unit = LogManager.getContext(false) match {
    case ctx: LoggerContext =>
      ctx.getConfiguration.addFilter(RegexFilter.createFilter(
        raw"RDD \d+ was locally checkpointed, its lineage has been truncated " +
          "and cannot be recomputed after unpersisting",
        null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
    case _ =>
  }
}
