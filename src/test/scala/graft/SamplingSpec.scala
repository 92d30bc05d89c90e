package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sampling

class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("proportional sampling is append-stable and tracks the target rate") {
    import spark.implicits._
    val base = (0L until 2000L).map(i => (i, if (i % 2 == 0) "web" else "books"))
      .toDF("doc_id", "source")
    val pct = when(col("source") === "web", 30).otherwise(90)
    val kept1 = Sampling.proportional(base, "doc_id", pct, seed = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // appending new rows must not change any earlier row's fate
    val appended = base.unionByName(
      (2000L until 3000L).map(i => (i, "web")).toDF("doc_id", "source"))
    val kept2 = Sampling.proportional(appended, "doc_id", pct, seed = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2.filter(_ < 2000L) == kept1)
    // rate lands near the target (hash uniformity)
    val webRate = kept1.count(_ % 2 == 0) / 1000.0
    assert(math.abs(webRate - 0.30) < 0.06, s"webRate=$webRate")
  }

  test("tokenBudgetCap keeps a uniform sample within the budget per stratum") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, if (i % 2 == 0) "en" else "de", 100L))
      .toDF("doc_id", "lang", "n_tokens")
    val capped = Sampling.tokenBudgetCap(
      docs, "doc_id", Seq("lang"), col("n_tokens"), budget = 5000L, seed = 1)
    val perLang = capped.groupBy("lang")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exactly 50 docs of 100 tokens fill a 5000 budget
    assert(perLang("en") == ((5000L, 50L)) && perLang("de") == ((5000L, 50L)))
    // kept set is hash-scattered, not the id-ordered head
    val keptEn = capped.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0))
    assert(keptEn.max > 200L, s"kept head-of-table only: max=${keptEn.max}")
  }

  test("production tier breaks the 100k residue-class coupling of the oracle tier") {
    import spark.implicits._
    // ids exactly 100 000 apart: the portable bucket is identical by
    // construction; the xxhash64 tier must NOT couple them
    val pairs = (0L until 400L).map(i => (i, i + 100000L))
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).toDF("doc_id")
    val pct = lit(50)
    val keptPortable = Sampling.proportional(ids, "doc_id", pct, seed = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val coupledPortable = pairs.count(p =>
      keptPortable(p._1) == keptPortable(p._2))
    assert(coupledPortable == pairs.size, "oracle tier should couple residue classes")
    val keptFull = Sampling.proportionalFull(ids, "doc_id", pct, seed = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val coupledFull = pairs.count(p => keptFull(p._1) == keptFull(p._2))
    // independent fates → ~50% agreement, nowhere near 100%
    assert(coupledFull < pairs.size * 3 / 4, s"coupledFull=$coupledFull")
    // rate still near target
    assert(math.abs(keptFull.size / 800.0 - 0.5) < 0.06)
    // tokenBudgetCapFull stays within budget and samples uniformly
    val docs = (0L until 500L).map(i => (i, "en", 100L)).toDF("doc_id", "lang", "n_tokens")
    val capped = Sampling.tokenBudgetCapFull(
      docs, "doc_id", Seq("lang"), col("n_tokens"), budget = 5000L, seed = 1)
    val kept = capped.select("doc_id").collect().map(_.getLong(0))
    assert(kept.length == 50 && kept.max > 200L)
  }

  test("sharded prefix-sum budget cap is row-identical to the window tier") {
    import spark.implicits._
    // varied token counts + two strata + null stratum rows: the sharded
    // tier must reproduce the window tier's rank AND running-sum
    // semantics exactly, including null-stratum grouping
    val docs = (0L until 600L)
      .map(i => (i, if (i % 7 == 0) null else if (i % 2 == 0) "en" else "de",
        // every 5th token count NULL: the running sum must stay null only
        // while a stratum's global prefix holds no non-null token — a
        // shard-local sum would go null at every shard head and drop rows
        if (i % 5 == 0) null else java.lang.Long.valueOf((i % 13) + 1L)))
      .toDF("doc_id", "lang", "n_tokens")
    val window = Sampling.tokenBudgetCapFull(
      docs, "doc_id", Seq("lang"), col("n_tokens"), budget = 700L, seed = 3)
    val sharded = Sampling.tokenBudgetCapShardedBy(
      docs, Seq("lang"), col("n_tokens"), budget = 700L,
      Sampling.shuffleKeyFull(col("doc_id"), seed = 3), col("doc_id"), shardBits = 10)
    val a = window.collect().map(_.toString).sorted
    val b = sharded.collect().map(_.toString).sorted
    assert(a.sameElements(b), s"window=${a.length} sharded=${b.length}")
    assert(b.nonEmpty)
    // null STRATUM rows are a real group in both tiers (the `<=>` offsets
    // join must not drop them): pin that some survive the cap
    assert(sharded.filter(col("lang").isNull).count() > 0,
      "null-stratum rows lost by the sharded offsets join")
    // null id under the narrow oracle-tier key → null shuffle key → null
    // shard: must survive the offsets join and rank NULLS FIRST, exactly
    // like the window tier's key order
    val withNullId = ((0L until 50L).map(i => (java.lang.Long.valueOf(i), "en", 10L))
      :+ ((null.asInstanceOf[java.lang.Long], "en", 10L)))
      .toDF("doc_id", "lang", "n_tokens")
    val wNull = Sampling.tokenBudgetCap(
      withNullId, "doc_id", Seq("lang"), col("n_tokens"), budget = 200L, seed = 5)
      .collect().map(_.toString).sorted
    val sNull = Sampling.tokenBudgetCapShardedBy(
      withNullId, Seq("lang"), col("n_tokens"), budget = 200L,
      Sampling.shuffleKey(col("doc_id"), seed = 5), col("doc_id"), shardBits = 10)
      .collect().map(_.toString).sorted
    assert(wNull.sameElements(sNull), s"window=${wNull.length} sharded=${sNull.length}")
    // the shard split actually spreads the stratum: with full-range
    // xxhash64 keys and 2^10 shards, 600 docs land in many shards — the
    // within-shard window partitions are slices, never a whole stratum
    val shards = docs
      .select((shiftright(xxhash64(col("doc_id"), lit(3)), 54) + lit(512L)).as("s"))
      .distinct().count()
    assert(shards > 100, s"degenerate shard split: $shards")
  }

  test("sharded temperature fill is row-identical to the window tier") {
    import spark.implicits._
    // includes null-STRATUM rows: both tiers fill targets through the same
    // stratum join, so null-stratum fates must be IDENTICAL (pinned here),
    // whatever the join's null semantics
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1001 to 1100).map(i => (i.toLong, "small")) ++
      (2001 to 2050).map(i => (i.toLong, null.asInstanceOf[String]))).toDF("doc_id", "s")
    val window = Sampling.temperatureMixFull(
      df, "doc_id", "s", budget = 200L, tau = 0.7, seed = 9)
    val sharded = Sampling.temperatureMixSharded(
      df, "doc_id", "s", budget = 200L, n => pow(n.cast("double"), lit(0.7)),
      Sampling.shuffleKeyFull(col("doc_id"), seed = 9), shardBits = 10)
    val a = window.collect().map(_.toString).sorted
    val b = sharded.collect().map(_.toString).sorted
    assert(a.sameElements(b), s"window=${a.length} sharded=${b.length}")
    assert(b.nonEmpty)
  }

  test("shardedPrefix fails fast with a descriptive error past the offsets bound") {
    import spark.implicits._
    // 60 strata, one doc each: 60 occupied (shard, stratum) combos > the
    // test bound of 10 — the guard must raise BEFORE any broadcast, with a
    // message that steers the caller back to the window tier
    val docs = (0L until 60L).map(i => (i, s"s$i", 5L)).toDF("doc_id", "lang", "n_tokens")
    val e = intercept[Throwable] {
      Sampling.tokenBudgetCapShardedBy(
        docs, Seq("lang"), col("n_tokens"), budget = 100L,
        Sampling.shuffleKeyFull(col("doc_id"), seed = 1), col("doc_id"),
        shardBits = 10, maxOffsetRows = 10L).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("offsets relation"), s"unexpected error: $msgs")
    // same guard on the temperature tier
    val e2 = intercept[Throwable] {
      Sampling.temperatureMixSharded(
        docs, "doc_id", "lang", budget = 100L,
        n => sqrt(n.cast("double")),
        Sampling.shuffleKeyFull(col("doc_id"), seed = 1),
        shardBits = 10, maxOffsetRows = 10L).collect()
    }
    val msgs2 = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs2.contains("offsets relation"), s"unexpected error: $msgs2")
    // under the bound the same shape still runs
    assert(Sampling.tokenBudgetCapShardedBy(
      docs, Seq("lang"), col("n_tokens"), budget = 100L,
      Sampling.shuffleKeyFull(col("doc_id"), seed = 1), col("doc_id"),
      shardBits = 10, maxOffsetRows = 100L).count() > 0)
  }

  test("temperature mixing flattens toward rare strata; τ=1 is proportional") {
    import spark.implicits._
    // 900 "big" docs vs 100 "small": proportional shares 90/10,
    // √-weights 30/10 → shares 75/25
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (1001 to 1100).map(i => (i.toLong, "small"))).toDF("doc_id", "s")
    val sqrtKept = Sampling.temperatureMixSqrt(df, "doc_id", "s", budget = 100L, seed = 3)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sqrtKept == Map("big" -> 75L, "small" -> 25L), sqrtKept.toString)
    val propKept = Sampling.temperatureMix(df, "doc_id", "s", budget = 100L, tau = 1.0, seed = 3)
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(propKept == Map("big" -> 90L, "small" -> 10L), propKept.toString)
    // determinism: same seed → same kept set
    val a = Sampling.temperatureMixSqrt(df, "doc_id", "s", 100L, seed = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureMixSqrt(df, "doc_id", "s", 100L, seed = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("temperatureMixFull decouples the 100k residue classes in the stratum fill") {
    import spark.implicits._
    // one stratum of id pairs exactly 100 000 apart: the oracle-tier key
    // is identical within each pair (id tiebreak sorts them adjacently),
    // so a 50%-budget fill keeps or drops pairs almost together; the
    // full-key fill must give them independent fates
    val pairs = (0L until 400L).map(i => (i, i + 100000L))
    val df = pairs.flatMap(p => Seq(p._1, p._2)).map((_, "en")).toDF("doc_id", "s")
    val keptOracle = Sampling.temperatureMix(df, "doc_id", "s", budget = 400L, tau = 0.7, seed = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val coupledOracle = pairs.count(p => keptOracle(p._1) == keptOracle(p._2))
    assert(coupledOracle >= pairs.size - 1,
      s"oracle tier should couple residue-class pairs: $coupledOracle")
    val keptFull = Sampling.temperatureMixFull(df, "doc_id", "s", budget = 400L, tau = 0.7, seed = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val coupledFull = pairs.count(p => keptFull(p._1) == keptFull(p._2))
    assert(coupledFull < pairs.size * 3 / 4, s"coupledFull=$coupledFull")
    // same stratum targets as the oracle-tier fill (the weights are shared)
    assert(keptFull.size == keptOracle.size)
  }

  test("stratum rank filter plans with a map-side WindowGroupLimit") {
    import spark.implicits._
    val df = (0L until 5000L).map(i => (i, s"lang${i % 4}")).toDF("doc_id", "lang")
    val out = graft.operators.Sampling
      .temperatureMixSqrt(df, "doc_id", "lang", budget = 100L, seed = 3)
    val p = out.queryExecution.executedPlan.toString
    // the literal budget conjunct must trigger InferWindowGroupLimit so
    // each input partition forwards at most `budget` rows per stratum —
    // without it, a corpus-scale stratum lands in ONE window task
    assert(p.contains("WindowGroupLimit"),
      "rank filter lost its literal bound — stratum windows are unbounded:\n" + p.take(1200))
    assert(out.count() <= 100)
    // the token-budget cap's rank pre-filter must get the same map-side
    // group limit before its running-sum window
    val cap = graft.operators.Sampling.tokenBudgetCapFull(
      df.withColumn("n_tok", lit(7L)), "doc_id", Seq("lang"), col("n_tok"),
      budget = 500L, seed = 1)
    val cp = cap.queryExecution.executedPlan.toString
    assert(cp.contains("WindowGroupLimit"),
      "token cap's rank pre-filter lost the group limit:\n" + cp.take(1200))
  }

  test("curriculumStride: sharded ranks match the window twin; strata interleave uniformly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed strata (720 / 240 / 40) under a FULL-RANGE xxhash64 key —
    // the regime where the shard split is real, not degenerate
    val df = ((0 until 720).map(i => (i.toLong, "web")) ++
      (1000 until 1240).map(i => (i.toLong, "books")) ++
      (2000 until 2040).map(i => (i.toLong, "code"))).toDF("doc_id", "s")
    val key = xxhash64(col("doc_id"), lit(13))
    val sharded = Sampling.curriculumStride(df, "doc_id", "s", key)
      .select("doc_id", "rank_in_stratum", "vt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val w = Window.partitionBy("s").orderBy(key, col("doc_id"))
    val cnt = df.groupBy("s").agg(count(lit(1)).as("ns"))
    val window = df.withColumn("rn", row_number().over(w))
      .join(broadcast(cnt), "s")
      .select(col("doc_id"), col("rn").cast("long"),
        (col("rn").cast("double") * lit(1000L) / col("ns")).as("vt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(sharded.sameElements(window))
    // uniform-interleave property: in vt order, consecutive docs of the
    // SAME stratum are never more than ~2 strides apart globally
    val order = Sampling.curriculumStride(df, "doc_id", "s", key)
      .orderBy("vt", "doc_id").select("s").collect().map(_.getString(0))
    for ((stratum, ns) <- Seq(("web", 720), ("books", 240), ("code", 40))) {
      val pos = order.zipWithIndex.filter(_._1 == stratum).map(_._2)
      val stride = 1000.0 / ns
      val maxGap = pos.sliding(2).map(p => p(1) - p(0)).max
      assert(maxGap <= 2 * stride + 1, s"$stratum clumps: maxGap=$maxGap stride=$stride")
    }
  }

  test("domainCap: salted tournament equals the direct per-domain top-k") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed domains: d0 holds 80% of rows, scores collide heavily so the
    // id tiebreak is what keeps the order total
    val df = (0L until 4000L)
      .map(i => (i, if (i % 5 != 0) "d0" else s"d${1 + (i % 3)}", (i % 17).toDouble))
      .toDF("doc_id", "domain", "score")
    val got = graft.operators.Sampling
      .domainCap(df, "doc_id", "domain", Seq(col("score").desc, col("doc_id")), k = 10)
      .select("doc_id", "domain", "rank_in_domain")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val direct = df.withColumn("rank_in_domain", row_number().over(
      Window.partitionBy("domain").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank_in_domain") <= 10)
      .select("doc_id", "domain", "rank_in_domain")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == direct)
    assert(got.groupBy(_._2).forall(_._2.size == 10))
  }

  test("domainCap plans both tournament stages with WindowGroupLimit") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, s"d${i % 3}", i.toDouble)).toDF("doc_id", "domain", "score")
    val p = graft.operators.Sampling
      .domainCap(df, "doc_id", "domain", Seq(col("score").desc, col("doc_id")), k = 5)
      .queryExecution.executedPlan.toString
    // the literal rank bound must reach BOTH windows so each input
    // partition forwards at most k rows per (domain[, salt]) group —
    // without it a head domain funnels whole into one window task
    assert(p.sliding("WindowGroupLimit".length).count(_ == "WindowGroupLimit") >= 2,
      "a tournament stage lost its map-side group limit:\n" + p.take(1500))
  }
}
