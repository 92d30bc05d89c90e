package graft.fit

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Per-group curve fits as typed [[Aggregator]]s (SURVEY §2.10): buffer
  * the group's (x, y) profile, fit in `finish`. Sound while per-group
  * profiles are small (histograms / scan profiles, 10¹–10⁴ points); the
  * scale axis is the NUMBER of groups — fits run in parallel across
  * executors, which is the rebuild's main structural win over the
  * reference's serial driver loop (SURVEY §4).
  */
object FitAggregators {

  final case class XY(x: Double, y: Double)
  type Buf = ArrayBuffer[(Double, Double)]

  private def sortedArrays(b: Buf): (Array[Double], Array[Double]) = {
    val s = b.sortBy(_._1)
    (s.map(_._1).toArray, s.map(_._2).toArray)
  }

  abstract class XYAgg[OUT] extends Aggregator[XY, Buf, OUT] {
    def zero: Buf = ArrayBuffer.empty
    def reduce(b: Buf, p: XY): Buf = {
      if (!p.x.isNaN && !p.y.isNaN) b += ((p.x, p.y))
      b
    }
    def merge(a: Buf, b: Buf): Buf = a ++= b
    def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
  }

  /** Gaussian fit over the group's (x, y) points → (mu, sigma, amplitude). */
  class GaussianFitAgg extends XYAgg[CurveFits.GaussParams] {
    def finish(b: Buf): CurveFits.GaussParams = {
      val (xs, ys) = sortedArrays(b)
      CurveFits.fitGaussian(xs, ys)
    }
    def outputEncoder: Encoder[CurveFits.GaussParams] = Encoders.product
  }

  /** Erf transition fit → (x0, sigma, yScale, yOffset). */
  class ErfFitAgg extends XYAgg[CurveFits.ErfParams] {
    def finish(b: Buf): CurveFits.ErfParams = {
      val (xs, ys) = sortedArrays(b)
      CurveFits.fitErf(xs, ys)
    }
    def outputEncoder: Encoder[CurveFits.ErfParams] = Encoders.product
  }

  /** Gaussian fit + convergence certificate operands
    * (params, sseFit, sseSeed) — see [[CurveFits.fitGaussianCert]].
    */
  class GaussianCertAgg extends XYAgg[CurveFits.GaussCert] {
    def finish(b: Buf): CurveFits.GaussCert = {
      val (xs, ys) = sortedArrays(b)
      CurveFits.fitGaussianCert(xs, ys)
    }
    def outputEncoder: Encoder[CurveFits.GaussCert] = Encoders.product
  }

  /** Erf fit + convergence certificate operands. */
  class ErfCertAgg extends XYAgg[CurveFits.ErfCert] {
    def finish(b: Buf): CurveFits.ErfCert = {
      val (xs, ys) = sortedArrays(b)
      CurveFits.fitErfCert(xs, ys)
    }
    def outputEncoder: Encoder[CurveFits.ErfCert] = Encoders.product
  }

  /** Langauss fit + convergence certificate operands. */
  class LangaussCertAgg extends XYAgg[CurveFits.LangaussCert] {
    def finish(b: Buf): CurveFits.LangaussCert = {
      val (xs, ys) = sortedArrays(b)
      CurveFits.fitLangaussCert(xs, ys)
    }
    def outputEncoder: Encoder[CurveFits.LangaussCert] = Encoders.product
  }

  /** Interpolated level crossing of the group's piecewise-linear profile. */
  class CrossingAgg(level: Double) extends XYAgg[Double] {
    def finish(b: Buf): Double = {
      val (xs, ys) = sortedArrays(b)
      if (xs.isEmpty) Double.NaN else Interp.firstCrossing(xs, ys, level)
    }
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private val xyEnc: Encoder[XY] = Encoders.product[XY]

  def gaussianFit(x: Column, y: Column): Column = udaf(new GaussianFitAgg, xyEnc).apply(x, y)
  def erfFit(x: Column, y: Column): Column = udaf(new ErfFitAgg, xyEnc).apply(x, y)
  def gaussianFitCert(x: Column, y: Column): Column =
    udaf(new GaussianCertAgg, xyEnc).apply(x, y)
  def erfFitCert(x: Column, y: Column): Column = udaf(new ErfCertAgg, xyEnc).apply(x, y)
  def langaussFitCert(x: Column, y: Column): Column =
    udaf(new LangaussCertAgg, xyEnc).apply(x, y)
  def crossingAt(level: Double)(x: Column, y: Column): Column =
    udaf(new CrossingAgg(level), xyEnc).apply(x, y)
}
