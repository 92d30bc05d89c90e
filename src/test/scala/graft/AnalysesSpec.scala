package graft

import org.apache.commons.math3.special.Erf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analyses.{InterPixelDistance, IvCurves, TimeResolution}
import graft.operators.Checkpoints

class AnalysesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("time resolution pipeline recovers the injected jitter sigma") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val sigma1 = 35.36e-12
    val nTriggers = 600
    // two devices; per-trigger timing jitter identical across thresholds
    val rows = (0 until nTriggers).flatMap { i =>
      val j1 = rnd.nextGaussian() * sigma1
      val j2 = rnd.nextGaussian() * sigma1
      Seq(("d1", i.toLong, j1), ("d2", i.toLong, j2))
    }
    val base = rows.toDF("device_name", "n_trigger", "jitter")
    val wide = TimeResolution.KGrid.foldLeft(base) { (df, k) =>
      df.withColumn(s"t_$k (s)", col("jitter") + lit(k * 1e-10))
    }.drop("jitter")
    val pinned = Checkpoints.pinnedIds(spark)
    val perReplica = TimeResolution.run(
      wide, TimeResolution.Config("d1", "d2", replicas = 8, seed = 1L, histBins = 40))
    // run() is eager and returns driver-local rows: it leaves no pin
    assert(Checkpoints.pinnedIds(spark).subsetOf(pinned), "run() leaked pins")
    val summary = TimeResolution.summarize(perReplica).collect().head
    val sigmaFit = summary.getAs[Double]("time_resolution_sigma")
    val sigmaTrue = math.sqrt(2.0) * sigma1 // ≈ 50 ps
    assert(math.abs(sigmaFit - sigmaTrue) / sigmaTrue < 0.25,
      s"fit $sigmaFit vs true $sigmaTrue")
    val err = summary.getAs[Double]("sigma_error")
    assert(err > 0 && err < sigmaTrue, s"bootstrap error $err")
  }

  test("IPD pipeline recovers the injected 100 um gap") {
    import spark.implicits._
    val sigma = 20e-6
    val xs = (-40 to 40).map(_ * 5e-6)
    val rows = xs.flatMap { x =>
      val l = 0.5 * (1 - Erf.erf((x + 50e-6) / (sigma * math.sqrt(2))))
      val r = 0.5 * (1 + Erf.erf((x - 50e-6) / (sigma * math.sqrt(2))))
      Seq(("m1", "left", x, l), ("m1", "right", x, r))
    }
    val profile = rows.toDF("measurement_name", "Pad", "Distance (m)", "Normalized collected charge")
    val got = InterPixelDistance.ipd(profile).collect().head
    val ipd50 = got.getAs[Double]("IPD (m) at 50%")
    assert(math.abs(ipd50 - 100e-6) < 1e-6, s"ipd50=$ipd50")
    // symmetric thresholds bracket the 50% value
    assert(got.getAs[Double]("IPD (m) at 8%") != ipd50)
    val cal = InterPixelDistance.calibration(profile, windowSize = 300e-6).collect().head
    assert(math.abs(cal.getAs[Double]("scale") - 3.0) < 0.1)
    assert(math.abs(cal.getAs[Double]("offset")) < 2e-6)
  }

  test("IV federation: ramp-up trim + device join + per-voltage stats") {
    import spark.implicits._
    val iv = (for {
      m <- Seq("m1", "m2"); rep <- 0 until 4; v <- 0 until 10
    } yield {
      // first 20 readings ramp up, next 20 ramp down (reference keeps half)
      val idx = rep * 10 + v
      (m, "devX", (v * 10).toDouble, 1e-9 * (v + 1) + 1e-12 * rep,
        java.sql.Timestamp.valueOf(f"2022-01-01 00:${idx / 60}%02d:${idx % 60}%02d"))
    }).toDF("measurement_name", "device_name", "Bias voltage (V)", "Bias current (A)", "When")
    val devices = Seq(("devX", "ACME", "W3")).toDF("device_name", "Manufacturer", "Wafer")
    val got = IvCurves.collect(iv, devices)
    val n = got.count()
    assert(n > 0 && n <= 20, s"rows=$n")
    val cols = got.columns.toSet
    assert(cols.contains("Bias current (A) mean") && cols.contains("Bias current (A) std"))
    assert(got.filter(col("`Bias current (A) mean`") <= 0).count() == 0)
  }

  test("TR voltage sweep recovers a falling injected jitter-vs-voltage curve") {
    import spark.implicits._
    // higher bias -> faster sensor -> lower jitter: inject σ(100V) = 50 ps,
    // σ(200V) = 20 ps per device and check the assembled sweep table
    // recovers the monotone curve with honest bootstrap errors
    val injected = Seq(100 -> 50e-12, 200 -> 20e-12)
    val perVoltage = injected.map { case (v, s1) =>
      val rnd = new scala.util.Random(v)
      val rows = (0 until 600).flatMap { i =>
        Seq(("d1", i.toLong, rnd.nextGaussian() * s1),
          ("d2", i.toLong, rnd.nextGaussian() * s1))
      }
      val base = rows.toDF("device_name", "n_trigger", "jitter")
      val wide = TimeResolution.KGrid.foldLeft(base) { (df, k) =>
        df.withColumn(s"t_$k (s)", col("jitter") + lit(k * 1e-10))
      }.drop("jitter")
      v -> TimeResolution.run(
        wide, TimeResolution.Config("d1", "d2", replicas = 8, seed = 1L, histBins = 40))
    }
    val sweep = TimeResolution.sweepSummarize(perVoltage).collect()
    assert(sweep.length == 2, s"${sweep.length} sweep rows")
    val byV = sweep.map(r => r.getInt(1) -> r).toMap
    injected.foreach { case (v, s1) =>
      val sigmaTrue = math.sqrt(2.0) * s1
      val jit = byV(v).getAs[Double]("Jitter (s)")
      val err = byV(v).getAs[Double]("Jitter (s) error")
      assert(math.abs(jit - sigmaTrue) / sigmaTrue < 0.25,
        s"v=$v: jitter $jit vs true $sigmaTrue")
      assert(err > 0 && err < sigmaTrue, s"v=$v: error $err")
      assert(byV(v).getString(0) == s"${v}V")
    }
    // the curve falls with voltage, and unmistakably so
    assert(byV(200).getAs[Double]("Jitter (s)") <
      byV(100).getAs[Double]("Jitter (s)") * 0.7, "sweep not monotone")
  }

  test("collected-charge pipeline recovers an injected MPV-vs-voltage curve") {
    import spark.implicits._
    import graft.analyses.CollectedCharge
    // Injected truth: MPV(v) = 200 + 2·v. Per voltage, charges follow a
    // symmetric triangular distribution peaked AT the MPV (offsets
    // −25..25, multiplicity 26−|off|) — the unimodal shape whose
    // histogram peak IS the MPV. Plus: outlier triggers at +1000 that
    // clean_beta_scan REJECTED — if the accept join leaked them in,
    // they would stretch the histogram range and wreck the peak.
    val voltages = Seq(100, 150, 200)
    def mpvOf(v: Int): Double = 200.0 + 2.0 * v
    val rows = for {
      v <- voltages
      dev <- Seq("dut", "ref")
      (off, rep) <- (-25 to 25).flatMap(o => Seq.fill(26 - math.abs(o))(o)).zipWithIndex
    } yield (v * 100000L + rep.toLong, v, dev, mpvOf(v) + off)
    val outliers = for {
      v <- voltages; dev <- Seq("dut", "ref"); i <- 0 until 5
    } yield (v * 100000L + 90000L + i, v, dev, mpvOf(v) + 1000.0)
    val measured = (rows ++ outliers).toDF("n_trigger", "v", "dev", "charge")
    val flags = measured.select("n_trigger").distinct()
      .withColumn("accepted", col("n_trigger") % 100000L < 90000L)
    val accepted = CollectedCharge.acceptFilter(measured, flags)
    val fan = CollectedCharge.fanReplicas(accepted, "n_trigger", replicas = 4)
    val mpvs = CollectedCharge.mpvPerReplica(fan, Seq("v", "dev"), "charge")
    val sweep = CollectedCharge.sweepOverReplicas(mpvs, Seq("v", "dev")).cache()
    val got = sweep.collect().map(r =>
      (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6, s"${got.size} sweep rows")
    // value_on_data (replica 0, the real pass) lands within one bin
    // width (51/50 ~ 1.02) of the injected MPV, for every voltage
    voltages.foreach { v =>
      Seq("dut", "ref").foreach { dev =>
        assert(math.abs(got((v, dev)) - mpvOf(v)) <= 1.1,
          s"v=$v $dev: got ${got((v, dev))}, injected ${mpvOf(v)}")
      }
    }
    // bootstrap spread of a sharply-peaked distribution stays tight:
    // median within a bin of the data value; MAD_std within a few bins
    // (resampling moves each replica's data-driven [lo, hi], so peak
    // centers wobble by a couple bins — but nowhere near the ~500-unit
    // shift the leaked outliers would cause)
    sweep.collect().foreach { r =>
      val (von, med, mad) = (r.getDouble(2), r.getDouble(5), r.getDouble(6))
      assert(math.abs(med - von) <= 1.1, s"median $med vs value $von")
      assert(mad <= 8.0, s"MAD_std $mad")
    }
    // Coulomb conversion: charge_c = median·fm, std in quadrature
    val factor = Seq((2.0, 0.1)).toDF("fm", "fs")
    val conv = CollectedCharge.coulombConvert(sweep, factor).collect()
    conv.foreach { r =>
      val (med, mad) = (r.getDouble(5), r.getDouble(6))
      val (cc, ccStd) = (r.getDouble(7), r.getDouble(8))
      assert(cc == med * 2.0, s"charge_c $cc vs ${med * 2.0}")
      val expStd = math.sqrt(math.pow(mad * 2.0, 2) + math.pow(med * 0.1, 2))
      assert(math.abs(ccStd - expStd) < 1e-12, s"std $ccStd vs $expStd")
    }
    sweep.unpersist()
  }
}
