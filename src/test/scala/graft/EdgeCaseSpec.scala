package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Sampling, Similarity}

/** Degenerate-input robustness: empty corpora, single rows, empty text —
  * the shapes a 100 TB pipeline hits constantly at partition edges (an
  * operator that throws on an empty slice kills the whole job).
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emptyDocs() = {
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  }

  test("dedup operators return empty on an empty corpus without throwing") {
    assert(Dedup.jaccardPairs(emptyDocs(), "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.prefixJaccardPairs(emptyDocs(), "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.minHashPairs(emptyDocs(), "doc_id", "text", 3, 8, 4, 0.5).count() == 0)
    assert(Dedup.dedupLines(emptyDocs(), "doc_id", "text", 30).count() == 0)
  }

  test("dedupLines keeps empty-text documents intact") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "short"), (3L, "")).toDF("doc_id", "text")
    val got = Dedup.dedupLines(df, "doc_id", "text", 30)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "", 2L -> "short", 3L -> ""))
  }

  test("decontam / incremental dedup / temperature mix survive empty inputs") {
    import spark.implicits._
    val docs = Seq((1L, "some ordinary text here", "en")).toDF("doc_id", "text", "lang")
    // empty corpus against a benchmark; empty benchmark against a corpus
    assert(graft.operators.Decontam.overlap(
      emptyDocs(), docs.drop("lang"), "doc_id", "text", 3, 0.5).count() == 0)
    assert(graft.operators.Decontam.clean(
      docs.drop("lang"), emptyDocs(), "doc_id", "text", 3, 0.5).count() == 1)
    // incremental dedup of an empty batch / against an empty corpus
    assert(Dedup.incrementalFlags(
      emptyDocs(), docs.drop("lang"), "doc_id", "text",
      graft.functions.TextFunctions.fingerprint, 3, 0.5).count() == 0)
    val fresh = Dedup.incrementalFlags(
      docs.drop("lang"), emptyDocs(), "doc_id", "text",
      graft.functions.TextFunctions.fingerprint, 3, 0.5).collect()
    assert(fresh.length == 1 && fresh.head.getBoolean(3)) // kept
    // temperature mix of an empty frame and of a single-stratum frame
    assert(Sampling.temperatureMixSqrt(
      emptyDocs().withColumn("lang", lit("en")), "doc_id", "lang", 10L, 1).count() == 0)
    assert(Sampling.temperatureMixSqrt(docs, "doc_id", "lang", 10L, 1).count() == 1)
  }

  test("LSH on a single vector yields no pairs") {
    import spark.implicits._
    val one = Seq((1L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    assert(Similarity.lshNearDupPairs(one, "vec_id", "embedding", 8, 4, 4, 0.5, 1L)
      .count() == 0)
  }

  test("sampling and splits on empty input are empty, not errors") {
    import spark.implicits._
    val e = Seq.empty[(Long, String, Long)].toDF("doc_id", "lang", "n_tokens")
    assert(Sampling.proportional(e, "doc_id", lit(50), 1).count() == 0)
    assert(Sampling.tokenBudgetCap(e, "doc_id", Seq("lang"), col("n_tokens"), 100L, 1)
      .count() == 0)
  }

  test("profile of an empty table emits one row per column with zero counts") {
    import spark.implicits._
    val e = Seq.empty[(Double, Double)].toDF("a", "b")
    val rows = graft.operators.Profile.describeNumeric(e, Seq("a", "b")).collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getLong(1) == 0L && r.getLong(3) == 0L))
  }

  test("flagship run on an empty events table returns an empty frame, not a crash") {
    import spark.implicits._
    val e = Seq.empty[(Long, String, Double)].toDF("n_trigger", "device_name", "t_10 (s)")
    val withAll = graft.analyses.TimeResolution.tColumns.tail
      .foldLeft(e)((d, c) => d.withColumn(c, lit(null).cast("double")))
    val out = graft.analyses.TimeResolution.run(
      withAll, graft.analyses.TimeResolution.Config("A", "B", replicas = 2))
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("replica", "k1", "k2", "kmad", "mu", "sigma", "amplitude"))
  }

  test("binnedIqrStdPivotReplicas rejects rangeKeys outside the grouping keys") {
    import spark.implicits._
    val df = Seq(("g", "r", 1.0, 1)).toDF("g", "r", "x", "w")
    intercept[IllegalArgumentException] {
      graft.functions.Stats.binnedIqrStdPivotReplicas(
        df, Seq("g"), "x", 0, _ => col("w"), "spread", 64, df, Seq("r"))
    }
  }

  test("binnedIqrStdPivotReplicas on a constant-valued group reports zero spread") {
    import spark.implicits._
    val df = Seq(("g", 5.0, 1), ("g", 5.0, 1), ("g", 5.0, 1)).toDF("g", "x", "w")
    val got = graft.functions.Stats.binnedIqrStdPivotReplicas(
      df, Seq("g"), "x", 0, _ => col("w"), "spread", 64, df, Seq("g")).collect().head
    assert(got.getAs[Double]("spread") == 0.0)
    assert(got.getAs[Double]("lo") == 5.0 && got.getAs[Double]("hi") == 5.0)
  }

  test("alternating-star components tolerate duplicated and reversed pairs") {
    import spark.implicits._
    // the same undirected edge arriving in both orientations and
    // duplicated — the shape a union of per-band pair emitters produces
    val nodes = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L))
      .toDF("id_a", "id_b") // includes a self-loop to discard
    val got = graft.operators.Components
      .alternatingStar(nodes, pairs, "doc_id", "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("image decode edge shapes: 1x1 pixel and truncated payloads") {
    val one = {
      val img = new java.awt.image.BufferedImage(
        1, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xffffff)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val feats = graft.operators.Multimodal.decodeImage(one).get
    assert(feats.length == 64 && feats.forall(v => math.abs(v - 1.0) < 1e-6))
    // a valid header with a truncated body must fall back, not throw
    assert(graft.operators.Multimodal.decodeImage(one.take(20)).isEmpty)
  }

  test("ivf+pq search over a probe set with fewer candidates than rerank") {
    import spark.implicits._
    val rnd = new scala.util.Random(9)
    val df = (0 until 30).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val ivf = graft.operators.Ivf.train(df, "vec_id", "embedding", k = 4, iters = 2, seed = 1L)
    val pq = graft.operators.Pq.train(df, "vec_id", "embedding", dim = 8, m = 2, k = 4,
      iters = 2, seed = 2L)
    val idx = graft.operators.IvfPq.index(df, "vec_id", "embedding", ivf, pq)
    val qv = df.filter(col("vec_id") === 0L).collect().head
      .getSeq[Float](1).map(_.toDouble).toArray
    // nprobe=1 can leave < rerank candidates; the limit must just clamp
    val got = graft.operators.IvfPq.searchTopK(
      idx, df, "vec_id", "embedding", ivf, pq, qv, nprobe = 1, topK = 10, rerank = 100)
      .collect()
    assert(got.nonEmpty && got.length <= 10)
  }
}
