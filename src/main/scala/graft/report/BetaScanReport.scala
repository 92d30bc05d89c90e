package graft.report

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{FederationQueries, FitQueries, MiscQueries, RelationalQueries}

/** The engine's `write_html` entry point — one self-contained HTML report
  * assembling every plot family the reference emits, each rendered from a
  * table the engine already produces under oracle checks:
  *
  *  - histogram + cut lines       (`scripts/clean_beta_scan.py:151-240`)  ← a7_histogram + P5 cuts
  *  - binned data + fitted curve  (`scripts/clean_beta_scan.py:163-211`)  ← N1 histogram + n1_curve_samples
  *  - ECDF + cut lines            (`scripts/clean_beta_scan.py:212-236`)  ← a8_ecdf + P5 cuts
  *  - scatter matrix              (`scripts/clean_beta_scan.py:247-276`)  ← s13_scatter_matrix
  *  - waveform 2-D histograms     (`scripts/clean_beta_scan.py:317-363`)  ← s13_waveforms_hist2d
  *  - IV curves mean ± std        (`scripts/compare_measurements.py:236-338`) ← pipeline_iv_federation
  *  - k1×k2 pivot-matrix heatmap  (`scripts/time_resolution_beta_scan.py:69-116`) ← r3_pivot_mean
  *
  * All inputs are aggregate plot tables (bins / distinct points / summary
  * rows), so the report renders in O(figures), independent of fact-table
  * size; [[HtmlReport.boundedCollect]] guards the contract.
  */
object BetaScanReport {

  /** Render the full report for the parquet tables under `sfDir` and write
    * it to `outPath`. Returns the written path.
    */
  def write(spark: SparkSession, sfDir: String, outPath: String): Path =
    HtmlReport.write(outPath, render(spark, sfDir))

  /** Build the report HTML (separated from [[write]] for testing). */
  def render(spark: SparkSession, sfDir: String): String =
    graft.operators.CheckpointScope.using() { scope =>
    // P5 cuts drawn on the figures whose x-axis matches the cut variable —
    // the reference's add_vline selection rule (`scripts/clean_beta_scan.py:228-236`).
    val priceCuts = Seq((80000.0, "A higher cut"))
    val qtyCuts = Seq((3.0, "A lower cut"), (2.0, "R lower cut"))

    val hist = HtmlReport.histogram(
      RelationalQueries.a7Histogram.run(spark, sfDir),
      binWidth = (105000.0 - 900.0) / 20,
      title = "l_extendedprice histogram",
      xLabel = "l_extendedprice",
      cutLines = priceCuts)

    // N1's own binned input + its fitted-curve samples, overlaid the way
    // the reference overlays the Langauss fit on the charge histogram —
    // one figure PER GROUP, because each fit's amplitude matches its own
    // group's histogram counts, not the pooled ones. The sliced tables
    // are cached: each figure collects a filtered view, and without the
    // cache every slice would re-run the fit/aggregation job.
    val perOrder = scope.pin(graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag", "l_orderkey")
      .agg(sum("l_quantity").as("qty")))
    val w = 250.0 / 25
    val curves = scope.pin(FitQueries.n1CurveSampleValues(spark, sfDir))
    val fitFigs = Seq("A", "N", "R").map { g =>
      HtmlReport.histogram(
        graft.functions.Stats.histogram(
          perOrder.filter(col("l_returnflag") === g), col("qty"), 0.0, 250.0, 25),
        binWidth = w,
        title = s"Gaussian fit on per-order quantity — $g",
        xLabel = "sum(l_quantity) per order",
        curves = Seq(s"fit $g" -> curves.filter(col("l_returnflag") === g).select("x", "y")))
    }

    val ecdfFig = HtmlReport.ecdf(
      RelationalQueries.a8Ecdf.run(spark, sfDir),
      groupCol = "l_returnflag",
      xCol = "l_quantity",
      title = "l_quantity ECDF",
      xLabel = "l_quantity",
      cutLines = qtyCuts)

    val sm = scope.pin(RelationalQueries.s13ScatterMatrix.run(spark, sfDir))
    val smFig = HtmlReport.scatterMatrix(
      sm,
      dims = Seq("Amplitude (V)", "Collected charge (V s)", "t_50 (s)"),
      colorCol = "accepted",
      title = "Scatter matrix")

    val wf = scope.pin(RelationalQueries.s13WaveformsHist2d.run(spark, sfDir))
    val wfFigs = Seq("dev1", "dev2").map { dev =>
      HtmlReport.heatmap(
        wf.filter(col("device_name") === dev),
        xCol = "t_lo", yCol = "a_lo", vCol = "p",
        title = s"Waveforms 2-D histogram — $dev",
        xLabel = "Time (s)", yLabel = "Amplitude (V)")
    }

    val iv = FederationQueries.ivFederation.run(spark, sfDir)
      .filter(col("measurement_name").isin("m0", "m1", "m2"))
      .withColumn("series", concat_ws(" ", col("measurement_name"), col("device_name")))
    val ivFig = HtmlReport.lines(
      iv,
      groupCol = "series",
      xCol = "Bias voltage (V)",
      yCol = "Bias current (A) mean",
      errCol = Some("Bias current (A) std"),
      title = "IV curves (federated, mean ± std)",
      xLabel = "Bias voltage (V)",
      yLabel = "Bias current (A)")

    // collected charge vs bias voltage with error band
    // (`collected_charge_vs_bias_voltage_beta_scan.py:63-78`) — the
    // reference's headline charge plot, from the hash-checked pipeline
    val cc = graft.queries.AnalysisQueries.collectedCharge.run(spark, sfDir)
    val ccFig = HtmlReport.lines(
      cc,
      groupCol = "Device name",
      xCol = "Bias voltage (V)",
      yCol = "Collected charge (V s) x_mpv value_on_data",
      errCol = Some("Collected charge (V s) x_mpv std"),
      title = "Collected charge vs bias voltage (mean ± std)",
      xLabel = "Bias voltage (V)",
      yLabel = "Collected charge (V s)")

    // jitter vs bias voltage (`time_resolution_beta_scan.py:403-415`) —
    // the sweep federation's output table as the reference plots it
    val tr = graft.queries.AnalysisQueries.trSweep.run(spark, sfDir)
      .withColumn("series", lit("jitter"))
    val trFig = HtmlReport.lines(
      tr,
      groupCol = "series",
      xCol = "Bias voltage (V)",
      yCol = "Jitter (s)",
      errCol = Some("Jitter (s) error"),
      title = "Measured jitter vs bias voltage",
      xLabel = "Bias voltage (V)",
      yLabel = "Jitter, i.e. √(σ₁²+σ₂²) (s)")

    // power-supply conditions series (`scripts/plot_power_supply.py:22-37`):
    // the reference's two-row subplot — one panel per variable, one line
    // per measurement — over the resampled weekly series table
    val ps = scope.pin(FederationQueries.powerSupply.run(spark, sfDir)
      .filter(col("`Measurement name`").isin("m0", "m1")))
    val psFigs = Seq("Bias voltage (V)", "Bias current (A)").map { vr =>
      HtmlReport.lines(
        ps.filter(col("variable") === vr),
        groupCol = "Measurement name",
        xCol = "bucket",
        yCol = "value",
        errCol = None,
        title = s"Power supply — $vr",
        xLabel = "When (weekly bucket)",
        yLabel = vr)
    }

    val kGrid = HtmlReport.matrixHeatmap(
      MiscQueries.r3PivotMean.run(spark, sfDir),
      keyCol = "l_linenumber",
      valueCols = Seq("A", "N", "R"),
      title = "pivot_table mean matrix",
      xLabel = "l_returnflag",
      yLabel = "l_linenumber")

    HtmlReport.page(
      "graft beta-scan report",
      Seq(
        "Histogram with cuts" -> hist,
        "Binned fit overlay" -> fitFigs.mkString("\n"),
        "ECDF with cuts" -> ecdfFig,
        "Scatter matrix" -> smFig,
        "Waveform overlays" -> wfFigs.mkString("\n"),
        "IV curves" -> ivFig,
        "Collected charge vs voltage" -> ccFig,
        "Jitter vs voltage" -> trFig,
        "Power supply conditions" -> psFigs.mkString("\n"),
        "Pivot matrix" -> kGrid))
    }
}
