package graft.tools

import graft.report.BetaScanReport

/** Render the composed S13 HTML report for a testdata directory —
  * `runMain graft.tools.ReportDemo [sfDir] [outPath]`.
  */
object ReportDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/graft_report.html")
    val spark = graft.GraftSession.local()
    try println(s"wrote ${BetaScanReport.write(spark, sfDir, out)}")
    finally spark.stop()
  }
}
