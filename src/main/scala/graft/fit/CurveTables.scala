package graft.fit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fitted-curve sample tables — the engine-side product behind the
  * reference's ~40 plot sinks (SURVEY §2.1 S13): the engine emits the
  * TABLES the plots consume (histogram bins A7, ECDF points A8, and these
  * fitted-curve samples), not the HTML.
  */
object CurveTables {

  /** Sample each group's fitted Gaussian on an `nPoints` grid spanning
    * [mu − span·sigma, mu + span·sigma]. Input: one row per group with
    * `mu`, `sigma`, `amplitude` columns (the [[FitAggregators]] output).
    * Pure plan-side arithmetic — explode + codegen'd exp.
    */
  def gaussianSamples(
      fits: DataFrame,
      groupCols: Seq[String],
      nPoints: Int = 100,
      span: Double = 4.0,
      keepParams: Boolean = false): DataFrame = {
    val lo = col("mu") - lit(span) * col("sigma")
    val step = (lit(2.0 * span) * col("sigma")) / lit(nPoints - 1)
    val sampled = fits
      .withColumn("__i", explode(sequence(lit(0L), lit(nPoints - 1L))))
      .withColumn("x", lo + col("__i") * step)
      .withColumn(
        "y",
        col("amplitude")
          * exp(lit(-0.5) * pow((col("x") - col("mu")) / col("sigma"), 2)))
    // keepParams: the certificate consumer (`n1_curve_samples`) checks
    // grid geometry per sample, so it needs the index and the params —
    // SAME kernel as the plot surface, no private re-derivation
    if (keepParams)
      sampled.select((groupCols.map(col) ++ Seq(
        col("__i").as("i"), col("mu"), col("sigma"), col("amplitude"),
        col("x"), col("y"))): _*)
    else
      sampled.select((groupCols.map(col) :+ col("x") :+ col("y")): _*)
  }
}
