package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter — dev only,
    // the driver always passes two args and gets every query]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // the result's own pins (a kernel's final checkpoint) are freed
      // once it is written, so none accumulate across the registry
      try {
        val df = fn(spark, sfDir)
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally graft.operators.Checkpoints.release(df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    System.err.println(ledgerLine)
    spark.stop()
  }

  /** Close-out ledger EMITTED BY CODE from the registry itself (the r9
    * lesson: the hand-counted PLANS.md ledger said 279 while the
    * registry said 288 and nobody noticed — counts in prose must come
    * from `Registry.all`, never from a human).
    */
  def ledgerLine: String = {
    val qs = SparkEntry.queries
    val os = SparkEntry.oracleSql
    val noOracle = (qs.keySet -- os.keySet).toSeq.sorted
    s"[ledger] queries=${qs.size} oracles=${os.size} " +
      s"no_oracle(${noOracle.size})=${noOracle.mkString(",")}"
  }

  /** The full oracle registry as the JSON object the driver consumes —
    * shared with OracleTypeParitySpec (the type-parity gate) so the gate
    * checks EXACTLY the bytes the driver will replay.
    *
    * JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def oracleJson: String = {
    SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
  }

  /** `s` as a JSON string literal (the escape rule [[oracleJson]] states). */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
