package graft.report

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}

/** DataFrame-facing plot rendering — the engine's `write_html` equivalent
  * (SURVEY §2.1 S13). Each method consumes a PLOT TABLE the engine
  * already produces hash-exact (histogram bins, ECDF points, fitted-curve
  * samples, pivot matrices, per-voltage summaries) and renders one SVG
  * figure; [[page]]/[[write]] assemble figures into a single
  * self-contained HTML file, mirroring the reference's per-measurement
  * `write_html` outputs (`scripts/clean_beta_scan.py:207,235,240,276,309,363`).
  *
  * 100 TB contract: rendering collects to the driver, so inputs MUST be
  * aggregate outputs. [[boundedCollect]] enforces a hard row cap
  * (`spark.graft.report.maxRows`, default 100k) and fails loudly with
  * guidance instead of OOM-ing the driver when handed a fact table —
  * binning/aggregation belongs in the plan (A7/A8/N1), never in the
  * renderer. That is the same scoping the reference itself uses: plotly
  * receives binned traces, not raw waveform archives.
  */
object HtmlReport {

  val MaxRowsKey = "spark.graft.report.maxRows"

  private def boundedCollect(df: DataFrame, what: String): Array[Row] = {
    val cap = df.sparkSession.conf.get(MaxRowsKey, "100000").toInt
    val rows = df.limit(cap + 1).collect()
    require(
      rows.length <= cap,
      s"$what plot input exceeds $cap rows — render an aggregated plot table " +
        s"(histogram bins, ECDF points, curve samples), not a fact table, or raise $MaxRowsKey")
    rows
  }

  private def num(r: Row, i: Int): Double = r.get(i) match {
    case null                 => Double.NaN
    case d: java.lang.Number  => d.doubleValue()
    case other                => other.toString.toDouble
  }

  /** Histogram bars with optional fitted-curve overlays and cut lines —
    * the `px.histogram` + Langauss-fit + `add_vline` family
    * (`scripts/clean_beta_scan.py:151-240`). `hist` needs `bin_lo` and a
    * count column; `curves` are (series name, table with `x`,`y`) — e.g.
    * the `n1_curve_samples` / `CurveTables.gaussianSamples` output.
    */
  def histogram(
      hist: DataFrame,
      binWidth: Double,
      title: String,
      xLabel: String,
      countCol: String = "n",
      curves: Seq[(String, DataFrame)] = Nil,
      cutLines: Seq[(Double, String)] = Nil): String = {
    val bins = boundedCollect(hist.select("bin_lo", countCol), "histogram")
      .map(r => (num(r, 0), num(r, 0) + binWidth, num(r, 1)))
      .sortBy(_._1)
      .toSeq
    val curvePts = curves.map { case (name, df) =>
      name -> boundedCollect(df.select("x", "y"), s"curve '$name'")
        .map(r => (num(r, 0), num(r, 1))).sortBy(_._1).toSeq
    }
    val xs = bins.flatMap(b => Seq(b._1, b._2)) ++ curvePts.flatMap(_._2.map(_._1)) ++ cutLines.map(_._1)
    val ys = 0.0 +: (bins.map(_._3) ++ curvePts.flatMap(_._2.map(_._2)))
    val f = Svg.Frame.fit(xs, ys)
    val body =
      Seq(Svg.bars(f, bins, Svg.color(0))) ++
        curvePts.zipWithIndex.map { case ((n, pts), i) => Svg.polyline(f, pts, Svg.color(i + 1), dash = "6 3", name = n) } ++
        cutLines.map { case (x, note) => Svg.vline(f, x, note) }
    val legend = ("data", Svg.color(0)) +: curvePts.zipWithIndex.map { case ((n, _), i) => (n, Svg.color(i + 1)) }
    Svg.chart(f, title, xLabel, "Count", body, legend)
  }

  /** Per-group ECDF step curves with optional cut lines — the `px.ecdf`
    * family (`scripts/clean_beta_scan.py:212-236`). `points` needs the
    * group column, an x column, and `ecdf` (the A8 output shape); rows are
    * collapsed to distinct (group, x, ecdf) plan-side before collecting so
    * the rendered table is bounded by distinct values, not rows.
    */
  def ecdf(
      points: DataFrame,
      groupCol: String,
      xCol: String,
      title: String,
      xLabel: String,
      cutLines: Seq[(Double, String)] = Nil): String = {
    import org.apache.spark.sql.functions.{col, max}
    val distinctPts = points
      .groupBy(col(groupCol), col(xCol))
      .agg(max(col("ecdf")).as("ecdf"))
    val rows = boundedCollect(distinctPts, "ECDF")
      .map(r => (Option(r.get(0)).map(_.toString).getOrElse("null"), num(r, 1), num(r, 2)))
    val series = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (g, pts) => g -> pts.map(p => (p._2, p._3)).sortBy(_._1).toSeq }
    val f = Svg.Frame.fit(rows.map(_._2).toSeq ++ cutLines.map(_._1), Seq(0.0, 1.0))
    val body = series.zipWithIndex.map { case ((g, pts), i) => Svg.steps(f, pts, Svg.color(i), name = g) } ++
      cutLines.map { case (x, note) => Svg.vline(f, x, note) }
    val legend = series.zipWithIndex.map { case ((g, _), i) => (g, Svg.color(i)) }
    Svg.chart(f, title, xLabel, "ECDF", body, legend)
  }

  /** Grouped line plot with optional per-point error bars — the IV-curve /
    * jitter-vs-voltage family (`px.line` + `error_y`,
    * `scripts/compare_measurements.py:236-338`,
    * `scripts/time_resolution_beta_scan.py:290-360`).
    */
  def lines(
      df: DataFrame,
      groupCol: String,
      xCol: String,
      yCol: String,
      title: String,
      xLabel: String,
      yLabel: String,
      errCol: Option[String] = None,
      maxLegend: Int = 12): String = {
    import org.apache.spark.sql.functions.col
    val cols = Seq(col(groupCol), col(xCol), col(yCol)) ++ errCol.map(col)
    val rows = boundedCollect(df.select(cols: _*), "lines")
      .map(r => (
        Option(r.get(0)).map(_.toString).getOrElse("null"),
        num(r, 1), num(r, 2),
        if (errCol.isDefined) num(r, 3) else 0.0))
    val series = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (g, pts) => g -> pts.map(p => (p._2, p._3, p._4)).sortBy(p => (p._1, p._2, p._3)).toSeq }
    val f = Svg.Frame.fit(
      rows.map(_._2).toSeq,
      rows.flatMap(r => Seq(r._3 - r._4, r._3 + r._4)).toSeq)
    val body = series.zipWithIndex.flatMap { case ((g, pts), i) =>
      val c = Svg.color(i)
      Seq(Svg.polyline(f, pts.map(p => (p._1, p._2)), c, name = g)) ++
        (if (errCol.isDefined) Seq(Svg.errorBars(f, pts, c, name = g)) else Nil) :+
        Svg.dots(f, pts.map(p => (p._1, p._2)), c, r = 2.0, name = g)
    }
    val legend = series.take(maxLegend).zipWithIndex.map { case ((g, _), i) => (g, Svg.color(i)) } ++
      (if (series.length > maxLegend) Seq((s"… ${series.length - maxLegend} more", "#999999")) else Nil)
    Svg.chart(f, title, xLabel, yLabel, body, legend)
  }

  /** Scatter panel colored by a category column — one cell of the
    * `px.scatter_matrix` family (`scripts/clean_beta_scan.py:247-276`).
    */
  def scatter(
      df: DataFrame,
      xCol: String,
      yCol: String,
      colorCol: String,
      title: String): String = {
    import org.apache.spark.sql.functions.col
    val rows = boundedCollect(df.select(col(colorCol), col(s"`$xCol`"), col(s"`$yCol`")), "scatter")
      .map(r => (Option(r.get(0)).map(_.toString).getOrElse("null"), num(r, 1), num(r, 2)))
    val series = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (g, pts) => g -> pts.map(p => (p._2, p._3)).sortBy(identity).toSeq }
    val f = Svg.Frame.fit(rows.map(_._2).toSeq, rows.map(_._3).toSeq)
    val body = series.zipWithIndex.map { case ((g, pts), i) => Svg.dots(f, pts, Svg.color(i), name = g) }
    val legend = series.zipWithIndex.map { case ((g, _), i) => (g, Svg.color(i)) }
    Svg.chart(f, title, xCol, yCol, body, legend)
  }

  /** Full scatter matrix: one panel per ordered dimension pair. */
  def scatterMatrix(
      df: DataFrame,
      dims: Seq[String],
      colorCol: String,
      title: String): String = {
    val panels = for {
      (x, i) <- dims.zipWithIndex
      (y, j) <- dims.zipWithIndex
      if i < j
    } yield scatter(df, x, y, colorCol, s"$title — $y vs $x")
    panels.mkString("\n")
  }

  /** 2-D histogram heatmap — the `go.Histogram2d` waveform-overlay family
    * (`scripts/clean_beta_scan.py:317-363`). `df` needs numeric bin-origin
    * columns and a value column; cell extents come from the min positive
    * step of the distinct origins (the reference's regular ADC grid).
    */
  def heatmap(
      df: DataFrame,
      xCol: String,
      yCol: String,
      vCol: String,
      title: String,
      xLabel: String,
      yLabel: String): String = {
    import org.apache.spark.sql.functions.col
    val rows = boundedCollect(df.select(col(xCol), col(yCol), col(vCol)), "heatmap")
      .map(r => (num(r, 0), num(r, 1), num(r, 2)))
      .sortBy(r => (r._1, r._2))
      .toSeq
    def step(vs: Seq[Double]): Double = {
      val d = vs.distinct.sorted.sliding(2).collect { case Seq(a, b) if b > a => b - a }.toSeq
      if (d.isEmpty) 1.0 else d.min
    }
    val (wx, wy) = (step(rows.map(_._1)), step(rows.map(_._2)))
    val vmax = if (rows.isEmpty) 1.0 else rows.map(_._3).max
    val f = Svg.Frame.fit(
      rows.flatMap(r => Seq(r._1, r._1 + wx)),
      rows.flatMap(r => Seq(r._2, r._2 + wy)))
    val body = Seq(Svg.cells(f, rows.map(r => (r._1, r._1 + wx, r._2, r._2 + wy, r._3)), 0.0, vmax))
    val legend = Seq(("max " + Svg.label(vmax), Svg.viridis(1.0)), ("0", Svg.viridis(0.0)))
    Svg.chart(f, title, xLabel, yLabel, body, legend)
  }

  /** Categorical-column matrix heatmap — the k1×k2 pivot-contour family
    * (`pivot_table` + contour, `scripts/time_resolution_beta_scan.py:69-116`).
    * `df` is the R3 shape: one key column (numeric rows) + one numeric
    * column per category.
    */
  def matrixHeatmap(
      df: DataFrame,
      keyCol: String,
      valueCols: Seq[String],
      title: String,
      xLabel: String,
      yLabel: String): String = {
    import org.apache.spark.sql.functions.col
    val rows = boundedCollect(df.select(col(keyCol) +: valueCols.map(c => col(s"`$c`")): _*), "matrix")
      .map(r => (num(r, 0), valueCols.indices.map(i => num(r, i + 1))))
      .sortBy(_._1)
      .toSeq
    if (rows.isEmpty) // empty table → empty framed figure, like heatmap
      return Svg.chart(Svg.Frame.fit(Nil, Nil), title, xLabel, yLabel, Nil)
    val vals = rows.flatMap(_._2).filter(v => !v.isNaN)
    val (vmin, vmax) = if (vals.isEmpty) (0.0, 1.0) else (vals.min, vals.max)
    val keys = rows.map(_._1)
    val f = Svg.Frame.fit(Seq(0.0, valueCols.length.toDouble), Seq(keys.min, keys.max + 1.0))
    val cs = for {
      ((k, vs), _) <- rows.zipWithIndex
      (v, i) <- vs.zipWithIndex
    } yield (i.toDouble, i + 1.0, k, k + 1.0, v)
    val xTicks = valueCols.zipWithIndex.map { case (c, i) => (i + 0.5, c) }
    val yTicks = keys.map(k => (k + 0.5, Svg.label(k)))
    Svg.chart(
      f, title, xLabel, yLabel,
      Seq(Svg.cells(f, cs, vmin, vmax)),
      Seq((s"${Svg.label(vmax)}", Svg.viridis(1.0)), (s"${Svg.label(vmin)}", Svg.viridis(0.0))),
      Some(xTicks), Some(yTicks))
  }

  /** The plotly zoom/pan analogue: one STATIC embedded script (a constant
    * byte string — determinism unchanged; no external fetch) that lets
    * every figure wheel-zoom about the cursor, drag-pan, and
    * double-click-reset by mutating its `viewBox`. Hover tooltips need no
    * script at all — marks carry native SVG `<title>` children.
    */
  private val PanZoomScript: String =
    """<script>(function(){function attach(s){var init=s.getAttribute("viewBox").split(" ").map(Number);var vb=init.slice();function set(){s.setAttribute("viewBox",vb.join(" "))}s.addEventListener("wheel",function(e){e.preventDefault();var k=e.deltaY<0?0.8:1.25;var r=s.getBoundingClientRect();var mx=vb[0]+(e.clientX-r.left)/r.width*vb[2];var my=vb[1]+(e.clientY-r.top)/r.height*vb[3];vb[0]=mx-(mx-vb[0])*k;vb[1]=my-(my-vb[1])*k;vb[2]*=k;vb[3]*=k;set()},{passive:false});var drag=null;s.addEventListener("mousedown",function(e){drag=[e.clientX,e.clientY];e.preventDefault()});window.addEventListener("mousemove",function(e){if(!drag)return;var r=s.getBoundingClientRect();vb[0]-=(e.clientX-drag[0])/r.width*vb[2];vb[1]-=(e.clientY-drag[1])/r.height*vb[3];drag=[e.clientX,e.clientY];set()});window.addEventListener("mouseup",function(){drag=null});s.addEventListener("dblclick",function(){vb=init.slice();set()})}var fs=document.querySelectorAll("figure>svg");for(var i=0;i<fs.length;i++)attach(fs[i])})();</script>"""

  /** Assemble figures into one self-contained HTML page (hover via native
    * SVG titles; zoom/pan via [[PanZoomScript]]).
    */
  def page(title: String, sections: Seq[(String, String)]): String = {
    val sb = new StringBuilder
    sb ++= "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\"/><title>"
    sb ++= Svg.esc(title)
    sb ++= "</title><style>body{font-family:Helvetica,Arial,sans-serif;margin:24px;background:#fafafa}"
    sb ++= "h1{font-size:20px}h2{font-size:15px;margin:28px 0 8px}figure{margin:0;background:white;"
    sb ++= "display:inline-block;border:1px solid #ddd;padding:4px;margin:4px}</style></head><body>\n"
    sb ++= s"<h1>${Svg.esc(title)}</h1>\n"
    sections.foreach { case (heading, svg) =>
      sb ++= s"<h2>${Svg.esc(heading)}</h2>\n<figure>$svg</figure>\n"
    }
    sb ++= PanZoomScript
    sb ++= "\n</body></html>\n"
    sb.toString
  }

  /** Write HTML to `path` (parent directories created), returning the
    * resolved path — the `fig.write_html(...)` call shape.
    */
  def write(path: String, html: String): Path = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, html.getBytes(StandardCharsets.UTF_8))
    p
  }
}
