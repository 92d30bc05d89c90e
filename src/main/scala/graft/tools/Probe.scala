package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{GraftSession, SparkEntry, Verify}
import graft.operators.Checkpoints

/** Per-query profiler: runs named registry queries on the shared
  * [[GraftSession.local]] session and prints one JSON line per query.
  *
  *   tools/run_main.sh graft.tools.Probe <q1,q2,...> [outDir suffix]
  *
  * Tables come from `SPARK_GRAFT_SF_DIR` (default sf0.1), cores from
  * `SPARK_GRAFT_CPUS`, as in `Bench`. Each query runs [[Reps]] times,
  * each run timed as construction (the query function, where the eager
  * kernels run most of their jobs) plus execution
  * (`queryExecution.toRdd.count()`, as `Bench` does), and its result
  * released with [[Checkpoints.release]] afterwards. A record carries:
  *
  *  - `rows`, and the minimum `construct_s` / `execute_s` over the runs;
  *  - from the last run: `plan_ms` (Catalyst analysis + optimization +
  *    planning), `jobs`, `tasks`, `task_s` (summed executor run time),
  *    `shuffle_read_mb`, `shuffle_write_mb`, `spill_mb` (disk spill) and
  *    `persisted_rdds` (pinned by the run before its result's release);
  *  - `persisted_after_release`: RDDs the query's runs left persisted
  *    after each released its result — a pin the result does not own,
  *    i.e. a leak, so 0 on every query;
  *  - plan-shape counts of the first run's final adaptive plan:
  *    `exchanges` (hash), `reused`, `windows`, `codegen` (stages),
  *    `sorts`, `query_stages`.
  *
  * With `outDir suffix`, the first run's formatted final adaptive plan is
  * written to `<outDir>/<query><suffix>.txt`. A failing query prints its
  * stack trace to stderr and an `error` record, and the next one runs.
  */
object Probe {

  private val Reps = 2

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 3,
      "usage: Probe <q1,q2,...> [outDir suffix]")
    val dump = if (args.length == 3) Some((args(1), args(2))) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    try args(0).split(",").foreach(n => println(json(probe(spark, n, sfDir, dump))))
    finally spark.stop()
  }

  /** One query's record, fields in print order. */
  def probe(
      spark: SparkSession,
      name: String,
      sfDir: String,
      dump: Option[(String, String)] = None): Seq[(String, Any)] = {
    val head = Seq("query" -> name)
    val pinnedBefore = Checkpoints.pinnedIds(spark)
    try {
      val fn = SparkEntry.queries.getOrElse(
        name, throw new NoSuchElementException(s"unknown registry query $name"))
      val runs = (1 to Reps).map(_ => run(spark, fn, sfDir, pinnedBefore))
      val first = runs.head
      val last = runs.last
      // the final plan alone: an adaptive plan's own string also prints
      // its initial plan, which would count every operator twice
      val plan = (first.df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).toString
      def count(p: String) = p.r.findAllIn(plan).length
      val planFile = dump.map { case (outDir, suffix) =>
        val path = Paths.get(outDir, s"$name$suffix.txt")
        Files.createDirectories(path.getParent)
        Files.writeString(path,
          first.df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        "plan_file" -> path.toString
      }
      val c = last.counters
      def mb(a: LongAdder) = a.sum() / 1048576.0
      head ++ Seq(
        "rows" -> last.rows,
        "construct_s" -> runs.map(_.constructS).min,
        "execute_s" -> runs.map(_.executeS).min,
        "plan_ms" -> last.df.queryExecution.tracker.phases.collect {
          case (p, s) if Set("analysis", "optimization", "planning")(p) => s.durationMs
        }.sum,
        "exchanges" -> count("Exchange hash"),
        "reused" -> count("Reused"),
        "windows" -> count("Window "),
        "codegen" -> raw"\*\((\d+)\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size,
        "sorts" -> count(raw"Sort \["),
        "query_stages" -> count("ShuffleQueryStage"),
        "jobs" -> c.jobs.sum(),
        "tasks" -> c.tasks.sum(),
        "task_s" -> c.runMs.sum() / 1e3,
        "shuffle_read_mb" -> mb(c.readBytes),
        "shuffle_write_mb" -> mb(c.writeBytes),
        "spill_mb" -> mb(c.spillBytes),
        "persisted_rdds" -> last.persisted,
        "persisted_after_release" -> (Checkpoints.pinnedIds(spark) -- pinnedBefore).size) ++
        planFile
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        head :+ ("error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
  }

  private final case class Run(
      df: DataFrame, rows: Long, constructS: Double, executeS: Double,
      counters: Counters, persisted: Int)

  /** One timed run under its own listener; its result is released
    * afterwards, also when executing it fails.
    */
  private def run(
      spark: SparkSession,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String,
      pinnedBefore: Set[Int]): Run = {
    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)
    var df: DataFrame = null
    try {
      val t0 = System.nanoTime()
      df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      Run(df, rows, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, counters,
        (Checkpoints.pinnedIds(spark) -- pinnedBefore).size)
    } finally {
      ListenerDrain(sc)
      sc.removeSparkListener(counters)
      if (df != null) Checkpoints.release(df)
    }
  }

  /** Scheduler and task-metric totals of the jobs run while registered. */
  private final class Counters extends SparkListener {
    val jobs, tasks, runMs, readBytes, writeBytes, spillBytes = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        readBytes.add(m.shuffleReadMetrics.totalBytesRead)
        writeBytes.add(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.add(m.diskBytesSpilled)
      }
    }
  }

  /** A record as one JSON object line; doubles to 3 decimals. */
  def json(rec: Seq[(String, Any)]): String = rec.map { case (k, v) =>
    val s = v match {
      case d: Double => String.format(java.util.Locale.ROOT, "%.3f", d)
      case s: String => Verify.jsonString(s)
      case x => x.toString
    }
    Verify.jsonString(k) + ":" + s
  }.mkString("{", ",", "}")
}
