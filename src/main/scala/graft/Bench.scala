package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Checkpoints

/** Benchmark main: min-of-k timing per registry query, with forced FULL
  * materialization. Two protocol rules (both bench-noise lessons):
  *
  *  - `queryExecution.toRdd.count()`, not `.count()` — a plain count
  *    lets Catalyst prune the final projection, so map-only queries get
  *    timed as little more than a scan; `toRdd` produces every output
  *    row as a complete UnsafeRow.
  *  - each query runs `SPARK_GRAFT_BENCH_REPS` (default 3) times and
  *    reports the MIN — single-shot timings on a shared box swing 3-5×
  *    on GC/compilation windows and can't distinguish noise from
  *    regressions.
  *
  * Prints the driver-consumed JSON line TWICE — before the run summary is
  * persisted and again as the very last stdout emission after
  * `spark.stop()` — and keeps it short (millisecond precision, not raw
  * doubles), because the r4 driver record was tail-truncated mid-line
  * (`BENCH_r04.json: parsed: null`): a tail capture that clips the only
  * copy of a 4 KB line zeroes the round's bench. The same payload is also
  * persisted to `SPARK_GRAFT_BENCH_OUT` (default `bench_local.json`).
  */
object Bench {
  /** Registry rows EXCLUDED from the benched set (still verified for
    * correctness at sf0.01 — this is bench WEIGHT only, overridable
    * with SPARK_GRAFT_BENCH_ONLY for isolation runs).
    *
    * text_bpe_train (r12 verdict item 3): the NAIVE BPE trainer
    * re-aggregates the corpus once per merge round BY DESIGN — it
    * exists as the oracle anchor proving the delta trainer exact
    * (`TextQueries.bpeChainDelta`, benched as `text_bpe_train_deep`),
    * not as a production path. At sf0.1 it was the suite's single most
    * expensive row (17 s, ~6% of the whole 339-query bench) and scales
    * corpus-linearly per round (10.2× at sf1) — keeping a deliberately
    * unscalable algorithm as the top bench weight misstates the
    * engine's cost profile. The delta trainer IS the benched BPE row.
    */
  val benchExcluded: Map[String, String] = Map(
    "text_bpe_train" ->
      "naive-trainer oracle anchor; delta trainer (text_bpe_train_deep) is the benched BPE row",
    // r14 verdict item 3: these two certificate rows execute BOTH the
    // production LSH pipeline AND an independent exact verifier
    // (PPJoin exact-Jaccard / the interleaved-mask second candidate
    // generator) in one plan — correct rows, wrong cost signal. The
    // production pipeline SHAPE stays benched via the hash-exact
    // portable twins (same shingle→sign→band→verify plan, portable
    // hash), so the benched set measures production paths only.
    "dedup_minhash" ->
      "dual-pipeline certificate (LSH + independent exact PPJoin); production pipeline benched as dedup_minhash_hash",
    "dedup_simhash" ->
      "dual-pipeline certificate (chunk-band + interleaved-mask generator set-equality); production pipeline benched as dedup_simhash_hash")

  /** Fixed-cost yardstick (r12 verdict item 2): a corpus-INDEPENDENT
    * computation (range → hash → shuffle → aggregate) timed with the
    * same min-of-reps protocol and emitted as `"__yardstick"` in the
    * queries map (excluded from `value`/total). Box drift moves the
    * yardstick and the queries together; code drift moves only the
    * queries — so driver-artifact comparisons across rounds can
    * separate the two IN-FILE instead of by forensic re-runs.
    */
  def yardstick(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(20000000L)
      .select((col("id") * 2654435761L % 1000003L).as("h"))
      .groupBy(col("h") % 997).agg(sum("h"), count(lit(1)))
      .queryExecution.toRdd.count()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.local()
    // warm the JVM/codegen/scan paths so the first timed query isn't
    // charged for session startup
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    catch { case _: Throwable => }
    // deterministic execution order + per-query cache hygiene so timings
    // are comparable run-to-run and round-to-round; SPARK_GRAFT_BENCH_ONLY
    // (comma-separated names) isolates a subset for noise diagnosis
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // the fixed-cost yardstick first (post-warmup), same reps protocol.
    // A failed rep must NOT record its time-to-exception as a plausible
    // minimum — a corrupted yardstick silently inverts every future
    // box-vs-code drift read (r13 review) — so any failure poisons the
    // value to a loud −1.0 sentinel.
    val yardTimes = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      try { yardstick(spark); (System.nanoTime() - t0) / 1e9 }
      catch { case t: Throwable =>
        System.err.println(s"[bench] yardstick failed: ${t.getMessage}")
        Double.NaN
      }
    }
    val yardSec = if (yardTimes.exists(_.isNaN)) -1.0 else yardTimes.min
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      // bench-weight exclusions apply only when no explicit ONLY filter
      // asked for the row (see benchExcluded)
      .filterNot { case (name, _) =>
        only.isEmpty && benchExcluded.contains(name) }
      .map { case (name, fn) =>
      // a rep that THROWS must be ledgered, not swallowed: the r14 sf1
      // record silently benched 23 schema-broken queries as near-zero
      // rows (plan-time failures time as ~0 s and masquerade as fast) —
      // the `errors` map below makes that class of record impossible
      var err: String = null
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        var df: DataFrame = null
        try { df = fn(spark, sfDir); df.queryExecution.toRdd.count() }
        catch { case e: Throwable =>
          err = e.getClass.getSimpleName
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // without the release each rep × each graph query leaks its final
        // checkpoint (the r9 bench-record regression)
        if (df != null) Checkpoints.release(df)
        dt
      }
      (name, times.min, Option(err))
    }
    def sec(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // __yardstick rides the queries map (clearly non-registry-named) but
    // NOT the total — it normalizes cross-round artifacts, it isn't work
    val qs = (results.map(r => (r._1, r._2)) :+ ("__yardstick" -> yardSec))
      .map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (n, _, Some(e)) => "\"" + n + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","reps":$reps,"errors":$errs,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    System.out.flush()
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_local.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out), (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
    // re-emit after spark.stop() so the full record survives a tail capture
    // that starts late; then emit a COMPACT summary as the very last line —
    // the per-query record is ~2.2 KB and a 2 KB tail window clips its head,
    // so the final parse target must fit any plausible window on its own.
    // Three channels, because r4-r6 each lost one: stdout (undecorated now
    // that build.sbt sets outputStrategy := StdoutOutput), stderr (sbt
    // never decorates it), and the SPARK_GRAFT_BENCH_OUT file above.
    println(line)
    val compact =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n":${results.size},"reps":$reps,"sf":"$sfDir"}"""
    println(compact)
    System.out.flush()
    System.err.println(compact)
    System.err.flush()
  }
}
