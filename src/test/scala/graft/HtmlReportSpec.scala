package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.report.{BetaScanReport, HtmlReport, Svg}

/** The S13 `write_html` equivalent: byte-deterministic SVG rendering of
  * the engine's plot tables, the bounded-collect guard that keeps fact
  * tables out of the driver, and the full composed report over sf0.001.
  */
class HtmlReportSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("svg primitives are byte-deterministic and locale-stable") {
    val f = Svg.Frame.fit(Seq(0.0, 10.0), Seq(0.0, 5.0))
    val a = Svg.chart(f, "t", "x", "y",
      Seq(
        Svg.bars(f, Seq((0.0, 1.0, 3.0), (1.0, 2.0, 5.0)), Svg.color(0)),
        Svg.polyline(f, Seq((0.0, 0.0), (10.0, 5.0)), Svg.color(1)),
        Svg.steps(f, Seq((0.0, 0.1), (5.0, 0.5), (10.0, 1.0)), Svg.color(2)),
        Svg.vline(f, 4.0, "cut"),
        Svg.errorBars(f, Seq((2.0, 2.0, 0.5)), Svg.color(3))),
      legend = Seq(("s", Svg.color(0))))
    val b = Svg.chart(f, "t", "x", "y",
      Seq(
        Svg.bars(f, Seq((0.0, 1.0, 3.0), (1.0, 2.0, 5.0)), Svg.color(0)),
        Svg.polyline(f, Seq((0.0, 0.0), (10.0, 5.0)), Svg.color(1)),
        Svg.steps(f, Seq((0.0, 0.1), (5.0, 0.5), (10.0, 1.0)), Svg.color(2)),
        Svg.vline(f, 4.0, "cut"),
        Svg.errorBars(f, Seq((2.0, 2.0, 0.5)), Svg.color(3))),
      legend = Seq(("s", Svg.color(0))))
    assert(a == b)
    assert(a.contains("<svg") && a.endsWith("</svg>"))
    // no locale-dependent decimal commas in any numeric attribute
    assert(!a.matches(""".*="\d+,\d+".*"""))
  }

  test("tick ladder is a nice 1-2-5 progression covering the range") {
    val ts = Svg.ticks(0.0, 103.0)
    assert(ts.nonEmpty && ts.head >= 0.0 && ts.last <= 103.0)
    val steps = ts.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    assert(steps.forall(s => math.abs(s - steps.head) < 1e-9))
    val mant = steps.head / math.pow(10, math.floor(math.log10(steps.head)))
    assert(Seq(1.0, 2.0, 5.0).exists(m => math.abs(mant - m) < 1e-9))
  }

  test("viridis endpoints and monotone interior") {
    assert(Svg.viridis(0.0) == "#440154")
    assert(Svg.viridis(1.0) == "#fde725")
    assert(Svg.viridis(0.5) == "#21918c")
    assert(Svg.viridis(-1.0) == Svg.viridis(0.0)) // clamped
  }

  test("histogram figure renders bars, overlay curve, and cut line") {
    import spark.implicits._
    val hist = Seq((0L, 10L, 0.0), (1L, 20L, 1.0), (2L, 5L, 2.0))
      .toDF("bucket", "n", "bin_lo")
    val curve = Seq((0.5, 12.0), (1.5, 18.0), (2.5, 4.0)).toDF("x", "y")
    val svg = HtmlReport.histogram(
      hist, binWidth = 1.0, title = "h", xLabel = "x",
      curves = Seq("fit" -> curve), cutLines = Seq((1.5, "cut")))
    assert(svg.sliding(5).count(_ == "<rect") >= 3 + 2) // 3 bars + bg + frame
    assert(svg.contains("stroke-dasharray=\"6 3\"")) // fit overlay
    assert(svg.contains("stroke-dasharray=\"4 3\"")) // cut line
    assert(svg.contains("cut"))
    // hover tooltips: bin range/count on bars, series name on the curve
    assert(svg.contains("<title>[0, 1): 10</title>"))
    assert(svg.contains("<title>fit</title>"))
  }

  test("ecdf figure renders one step path per group and collapses ties plan-side") {
    import spark.implicits._
    // 1000 duplicate rows but only 3 distinct values per group: the
    // collected point set is bounded by distinct values, not rows
    val pts = (1 to 1000).flatMap(i =>
      Seq(("A", (i % 3).toDouble, (i % 3 + 1) / 3.0), ("B", (i % 3).toDouble, (i % 3 + 1) / 3.0)))
      .toDF("g", "x", "ecdf")
    val svg = HtmlReport.ecdf(pts, "g", "x", "e", "x")
    assert(svg.sliding(6).count(_ == "<path ") == 2) // one step path per group
    assert(svg.contains(Svg.color(0)) && svg.contains(Svg.color(1)))
    // each step path hovers its group name
    assert(svg.contains("<title>A</title>") && svg.contains("<title>B</title>"))
  }

  test("bounded collect refuses fact-table-sized input with guidance") {
    import spark.implicits._
    spark.conf.set(HtmlReport.MaxRowsKey, "50")
    try {
      val big = (1 to 200).map(i => (i.toLong, i.toLong, i.toDouble)).toDF("bucket", "n", "bin_lo")
      val e = intercept[IllegalArgumentException] {
        HtmlReport.histogram(big, 1.0, "t", "x")
      }
      assert(e.getMessage.contains(HtmlReport.MaxRowsKey))
      assert(e.getMessage.contains("aggregated plot table"))
    } finally spark.conf.unset(HtmlReport.MaxRowsKey)
  }

  test("full beta-scan report composes every reference plot family at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    assume(Files.exists(Paths.get(dir)))
    val html = BetaScanReport.render(spark, dir)
    assert(html.startsWith("<!DOCTYPE html>"))
    // every section heading present
    for (h <- Seq(
        "Histogram with cuts", "Binned fit overlay", "ECDF with cuts",
        "Scatter matrix", "Waveform overlays", "IV curves",
        "Collected charge vs voltage", "Jitter vs voltage",
        "Power supply conditions", "Pivot matrix"))
      assert(html.contains(h), s"missing section: $h")
    // cut annotations from the P5 cuts table
    assert(html.contains("A higher cut") && html.contains("A lower cut"))
    // heatmap cells and error bars made it in
    assert(html.contains("#440154") || html.contains("#fde725"))
    // self-contained: no stylesheet links or CDN fetches, and the ONLY
    // script is the single embedded pan/zoom block with no src (the only
    // URL is the SVG xmlns namespace identifier, which is not fetched)
    assert(!html.contains("<link") && !html.contains("cdn"))
    assert("<script".r.findAllIn(html).size == 1 && !html.contains("<script src"))
    assert(!html.replace("\"http://www.w3.org/2000/svg\"", "").contains("http"))
    // interactivity: marks hover via native SVG titles; figures pan/zoom
    // by viewBox mutation — assert the ATTRIBUTE on the svg markup, not
    // just the script's own source text mentioning the word
    assert(html.contains("<title>") && html.contains("viewBox=\"0 0 "))
    // byte-deterministic across renders
    assert(html == BetaScanReport.render(spark, dir))
    val out = Files.createTempDirectory("graft-report").resolve("report.html")
    val written = BetaScanReport.write(spark, dir, out.toString)
    assert(Files.size(written) == html.getBytes("UTF-8").length)
  }
}
