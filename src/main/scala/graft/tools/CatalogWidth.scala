package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Catalog WIDTH probe (r14 verdict item 4): the `catalog_*` rows prove
  * the filesystem-as-catalog round trip at 8/24 measurement directories,
  * but the reference's real catalogs are hundreds of measurements
  * (`scripts/measurements.py:269-301` walks a whole data directory).
  * This probe materializes W ∈ {100, 300, 1000} measurement directories
  * (`measurement_name=<ts>_MS1_beta_<v>V/`, the SURVEY §1.1 layout) and
  * ledgers, per width:
  *
  *  - `catalog_prune_plan`: planning time + selected-partition count for
  *    a single-voltage query (the reference's "open one measurement
  *    folder"). Must prune to EXACTLY 1 directory at every width, and
  *    the planning cost may grow only with the LISTING (linear in W),
  *    never with the data.
  *  - `catalog_prune_exec`: end-to-end execution of the pruned query —
  *    should be ~flat in W (the scan reads one directory regardless).
  *  - `catalog_federation`: the full-federation scan (group every
  *    measurement by its name-derived voltage) — allowed to grow
  *    linearly in W, not worse.
  *
  * Rows per directory are held constant (`rowsPerDir`), so any
  * super-linear growth is catalog/listing cost, not data cost.
  *
  * Run: sbt "runMain graft.tools.CatalogWidth [widthsCsv] [rowsPerDir]"
  * (defaults 100,300,1000 and 2000).
  */
object CatalogWidth {

  def main(args: Array[String]): Unit = {
    val widths = args.headOption.getOrElse("100,300,1000")
      .split(",").map(_.trim.toInt).toSeq
    val rowsPerDir = args.lift(1).map(_.toInt).getOrElse(2000)
    val spark = graft.GraftSession.local()
    spark.range(10).count() // warmup

    def emit(name: String, w: Int, sec: Double, extra: String = ""): Unit =
      println(f"""{"probe":"$name","dirs":$w,"sec":$sec%.3f$extra}""")

    for (w <- widths) {
      // One directory per measurement: voltage 0..w-1 V, constant rows
      // per directory. coalesce(8) keeps the writer from emitting
      // cpus×w tiny files — the probe measures the CATALOG, not the
      // small-files pathology (which layout_compaction covers).
      val root = java.nio.file.Files.createTempDirectory(s"graft_catw_$w")
        .toString + "/m"
      val t0 = System.nanoTime()
      spark.range(w.toLong * rowsPerDir)
        .select(
          col("id"),
          (col("id") % w).as("v"),
          (rand(7) * 100).as("amplitude"))
        .withColumn(
          "measurement_name",
          concat(lit("20220101000000_MS1_beta_"), col("v").cast("string"), lit("V")))
        .drop("v")
        .coalesce(8)
        .write.partitionBy("measurement_name").parquet(root)
      emit("catalog_write", w, (System.nanoTime() - t0) / 1e9)

      // (a) pruned single-measurement query: plan-time + partition count
      val t1 = System.nanoTime()
      val one = spark.read.parquet(root).filter(
        graft.catalog.MeasurementCatalog.voltageCol(col("measurement_name")) === w / 2)
      val scans = one.queryExecution.executedPlan.collectLeaves().collect {
        case s: FileSourceScanExec => s
      }
      val parts = scans.map(_.selectedPartitions.partitionCount).sum
      emit("catalog_prune_plan", w, (System.nanoTime() - t1) / 1e9,
        s""","selected_partitions":$parts""")
      require(parts == 1,
        s"single-voltage query must prune to 1 of $w dirs, got $parts")

      val t2 = System.nanoTime()
      val n = one.agg(count(lit(1)), avg("amplitude")).collect()(0).getLong(0)
      emit("catalog_prune_exec", w, (System.nanoTime() - t2) / 1e9,
        s""","rows_scanned":$n""")
      require(n == rowsPerDir, s"pruned scan saw $n rows, expected $rowsPerDir")

      // (b) full-federation scan: every directory, grouped by the
      // name-derived key (fresh read so the listing is paid here too)
      val t3 = System.nanoTime()
      val fed = spark.read.parquet(root)
        .groupBy(graft.catalog.MeasurementCatalog
          .voltageCol(col("measurement_name")).as("v"))
        .agg(count(lit(1)).as("n"), avg("amplitude").as("amp"))
        .collect()
      emit("catalog_federation", w, (System.nanoTime() - t3) / 1e9,
        s""","groups":${fed.length}""")
      require(fed.length == w, s"federation saw ${fed.length} of $w groups")
    }
    spark.stop()
  }
}
