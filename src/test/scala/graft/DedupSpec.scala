package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def corpus() = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
      (3L, "completely different words about spark catalyst tungsten shuffle partitions"),
      (4L, "another unrelated document mentioning columnar storage and parquet files"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized texts") {
    val g = Dedup.exactGroups(corpus(), "doc_id", TextFunctions.fingerprint(col("text")))
    val dups = g.filter(col("n_dups") > 1).collect()
    assert(dups.length == 1)
    assert(dups.head.getAs[Long]("keep_id") == 1L)
    assert(dups.head.getAs[Long]("n_dups") == 2L)
  }

  test("jaccard pairs find the planted near-dup and not the unrelated docs") {
    val pairs = Dedup.jaccardPairs(corpus(), "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).nonEmpty })
  }

  test("prefix-filtered jaccard returns exactly the brute-force pairs") {
    val brute = Dedup.jaccardPairs(corpus(), "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pref = Dedup.prefixJaccardPairs(corpus(), "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pref == brute)
    assert(brute.nonEmpty)
  }

  test("jaccardPairs guard trips on a hot shingle over the bound, passes under it") {
    // all 5 docs share the "the quick brown" family shingles only in the
    // three near/exact dups; with the bound forced below that
    // multiplicity the in-plan guard must fail the job with the
    // degrade message, and with the default bound results are unchanged
    val e = intercept[Exception] {
      Dedup.jaccardPairs(corpus(), "doc_id", "text", k = 3,
        threshold = 0.5, maxDocsPerShingle = 2L).collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(e).contains("brute-safe bound"), messages(e))
    val ok = Dedup.jaccardPairs(corpus(), "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok == Set((1L, 2L), (1L, 5L), (2L, 5L)), ok.toString)
  }

  test("nearDupPairs guard trips over maxBruteRows, passes under it") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.99, 0.14)),
      (3L, Array(0.0, 1.0)), (4L, Array(1.0, 0.01))).toDF("id", "vec")
    val e = intercept[Exception] {
      Similarity.nearDupPairs(vecs, "id", "vec", 0.95, maxBruteRows = 3L).collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(e).contains("brute-safe bound"), messages(e))
    val ok = Similarity.nearDupPairs(vecs, "id", "vec", 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok.contains((1L, 4L)) && !ok.contains((1L, 3L)), ok.toString)
  }

  test("minhash LSH pairs are a subset of low-threshold exact jaccard and catch strong dups") {
    val mh = Dedup.minHashPairs(corpus(), "doc_id", "text", 3, bands = 8, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(corpus(), "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact))
    assert(mh.contains((1L, 5L))) // jaccard 1.0 pair can never be missed
  }

  test("portable minhash ⊆ exact jaccard and never misses identical docs") {
    val mh = Dedup.minHashPairsPortable(
      corpus(), "doc_id", "text", 3, bands = 8, rowsPerBand = 4,
      threshold = 0.5, seed = 99L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(corpus(), "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact))
    assert(mh.contains((1L, 5L)))
  }

  test("simhash: exact duplicates collide at hamming 0") {
    val pairs = Dedup.simHashPairs(corpus(), "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue())).toSet
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 5L && h == 0 })
  }

  test("portable simhash: exact duplicates collide at hamming 0") {
    val pairs = Dedup.simHashPairsPortable(corpus(), "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 5L && h == 0 })
  }

  test("shingleArray on short text is empty, not descending-sequence garbage") {
    import spark.implicits._
    val one = Seq((1L, "single")).toDF("doc_id", "text")
      .select(Dedup.shingleArray(col("text"), 3).as("sh"))
      .collect().head.getSeq[String](0)
    assert(one.isEmpty)
  }

  test("cosine similarity: identical vectors score 1, orthogonal score 0") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.scoreAgainst(df, "vec_id", "embedding", 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L) - 1.0) < 1e-12)
    assert(math.abs(got(2L)) < 1e-12)
  }

  test("LSH near-dup pairs ⊆ brute force and catch the planted near-identical pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val rows = Seq((0L, base), (1L, near)) ++
      (2L to 40L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val brute = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(df, "vec_id", "embedding", 16, 8, 8, 0.9, 42L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.contains((0L, 1L)))
  }

  test("cluster-scoped (SemDeDup) pairs ⊆ brute force and catch the planted pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val rows = Seq((0L, base), (1L, near)) ++
      (2L to 40L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val ivf = graft.operators.Ivf.train(df, "vec_id", "embedding", k = 4, iters = 2, seed = 1L)
    val brute = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clustered = Similarity.clusterNearDupPairs(df, "vec_id", "embedding", ivf, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clustered.subsetOf(brute))
    // near-identical vectors must land in the same cell of ANY reasonable
    // quantizer — the pair the method exists to find
    assert(clustered.contains((0L, 1L)))
  }

  test("auto-sized SemDeDup: k tracks the corpus, pairs ⊆ brute force, planted pair found") {
    import spark.implicits._
    // the quantizer-sizing rule itself: cells ≈ targetCellSize at any n
    assert(Similarity.autoK(0L, 512) == 1)
    assert(Similarity.autoK(512L, 512) == 1)
    assert(Similarity.autoK(513L, 512) == 2)
    assert(Similarity.autoK(1L << 20, 512) == 2048)
    assert(Similarity.autoK(4L << 20, 512) == 4 * 2048) // 4× corpus ⇒ 4× cells
    val rnd = new scala.util.Random(3)
    val base = Array.fill(16)(rnd.nextGaussian().toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val rows = Seq((0L, base), (1L, near)) ++
      (2L to 80L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val brute = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // targetCellSize 16 on 81 rows ⇒ k = 6: genuinely multi-cell
    val auto = Similarity.clusterNearDupPairsAuto(
      df, "vec_id", "embedding", threshold = 0.9, targetCellSize = 16, iters = 2, seed = 1L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(brute))
    assert(auto.contains((0L, 1L)))
  }

  test("dedupLines keeps first occurrence of long lines, all short lines, order intact") {
    import spark.implicits._
    val longA = "this is a sufficiently long repeated boilerplate line"
    val df = Seq(
      (1L, s"intro\n$longA\nend"),
      (2L, s"$longA\nunique middle content that is long enough\nok"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(df, "doc_id", "text", minLen = 30)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == s"intro\n$longA\nend") // first occurrence survives
    assert(got(2L) == "unique middle content that is long enough\nok")
  }

  test("dedupLines: corpus-hot lines (short separators AND long boilerplate) stay skew-safe") {
    import spark.implicits._
    // 100k docs all sharing the same hot short separator ("--") and the
    // same hot long boilerplate line. Pre-fix, each hot value formed ONE
    // window partition holding a corpus-wide sorted group; now the short
    // line never enters the dedup shuffle and the long line collapses
    // map-side via partial min-aggregation. The assertion is semantic —
    // identical output to the windowed definition — with the planted
    // volume making a single-task sort visibly pathological if ever
    // reintroduced.
    val boiler = "subscribe to our newsletter for updates and offers today"
    val n = 100000L
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit(s"--\n$boiler\n--\nunique line of doc number "), col("id"),
        lit(" padded to pass the minimum length bar")).as("text"))
    val got = Dedup.dedupLines(docs, "doc_id", "text", minLen = 30)
    assert(got.count() == n)
    val doc0 = got.filter(col("doc_id") === 0L).collect()(0).getString(1)
    assert(doc0 ==
      s"--\n$boiler\n--\nunique line of doc number 0 padded to pass the minimum length bar")
    // every other doc loses the boilerplate but keeps both separators + its unique line
    val doc7 = got.filter(col("doc_id") === 7L).collect()(0).getString(1)
    assert(doc7 == "--\n--\nunique line of doc number 7 padded to pass the minimum length bar")
    // plan check: the line-dedup stage must be an Aggregate, not a Window —
    // windows sort whole partitions and cannot partially aggregate
    val plan = got.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"line dedup regressed to a window sort:\n$plan")
  }

  test("redactPii replaces emails and phone-shaped runs, leaves prose alone") {
    import spark.implicits._
    val got = Seq(
      (1L, "mail a.b+c@sub.example.org now"),
      (2L, "call +49 (0)30 1234 5678 today"),
      (3L, "version 2.5 costs 12 dollars"), // short digit runs untouched
      (4L, "two: x@y.io and 555 123 4567!"))
      .toDF("id", "t")
      .select(col("id"), TextFunctions.redactPii(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "call <PHONE> today")
    assert(got(3L) == "version 2.5 costs 12 dollars")
    assert(got(4L) == "two: <EMAIL> and <PHONE>!")
  }

  test("incrementalFlags: exact, near, and fresh incoming docs flag correctly") {
    import spark.implicits._
    val existing = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "Alpha  beta GAMMA delta epsilon zeta eta theta"), // exact (normalized)
      (2L, "one two three four five six seven eight nine updated"), // near
      (3L, "entirely novel content with no overlap whatsoever today")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.incrementalFlags(
      incoming, existing, "doc_id", "text",
      TextFunctions.fingerprint, k = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    // exact tier normalizes case/whitespace; the shingle tier is
    // case-sensitive (jaccardPairs semantics), so doc 1 is exact-only
    assert(got(1L) == ((true, false, false)))
    assert(got(2L) == ((false, true, false)))
    assert(got(3L) == ((false, false, true)))
  }

  test("chunkDocs: stride/overlap windows cover the doc, short docs = one chunk") {
    import spark.implicits._
    val long = (1 to 100).map(_.toString).mkString(" ")
    val df = Seq((1L, long), (2L, "a b c")).toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .chunkDocs(df, "doc_id", "text", maxTokens = 40, overlap = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    // starts 0, 32, 64, 96 → 4 chunks; last is the clamped tail
    assert(got.keys.count(_._1 == 1L) == 4)
    assert(got((1L, 0L))._1.split(" ").head == "1" && got((1L, 0L))._2 == 40L)
    assert(got((1L, 1L))._1.split(" ").head == "33") // 8-token overlap
    assert(got((1L, 3L))._1 == "97 98 99 100" && got((1L, 3L))._2 == 4L)
    // consecutive chunks share exactly the overlap region
    assert(got((1L, 0L))._1.split(" ").takeRight(8).toSeq ==
      got((1L, 1L))._1.split(" ").take(8).toSeq)
    assert(got((2L, 0L)) == (("a b c", 3L)) && got.keys.count(_._1 == 2L) == 1)
  }

  test("langId: stopword argmax with alphabetical tiebreak; CJK → zh") {
    import spark.implicits._
    val df = Seq(
      (1L, "der hund und die katze mit nicht"),
      (2L, "the cat and the dog of the house is"),
      (3L, "中文文本"),
      (4L, "xyzzy plugh")). // no hits anywhere → tie → 'de' (alphabetical)
      toDF("id", "text")
    val got = df.select(col("id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "de", 2L -> "en", 3L -> "zh", 4L -> "de"))
  }

  private def spanRows(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toSet

  test("duplicateSpans finds the planted maximal shared run and nothing else") {
    import spark.implicits._
    // docs 1 and 2 share "cdefghijklmnop" (14 chars) embedded at
    // different offsets; doc 3 is disjoint. w=6 → one maximal island of
    // 14-6+1 = 9 consecutive window matches on one diagonal.
    val df = Seq(
      (1L, "xxcdefghijklmnopqq"), // span starts at 3
      (2L, "abcdefghijklmnopzz"), // span starts at 3 as well
      (3L, "no shared content!")).toDF("doc_id", "text")
    val got = spanRows(Dedup.duplicateSpans(df, "doc_id", "text", w = 6))
    assert(got == Set((1L, 2L, 3, 3, 14)), got.toString)
  }

  test("duplicateSpans reports two islands for two disjoint shared spans") {
    import spark.implicits._
    // two shared 8-char runs separated by divergent middles: must come
    // back as TWO maximal spans, not one merged one (different diagonals
    // AND a gap).
    val df = Seq(
      (1L, "AAAABBBB....CCCCDDDD"),
      (2L, "AAAABBBBxxxxxxCCCCDDDD")).toDF("doc_id", "text")
    val got = spanRows(Dedup.duplicateSpans(df, "doc_id", "text", w = 7))
    assert(got == Set((1L, 2L, 1, 1, 8), (1L, 2L, 13, 15, 8)), got.toString)
  }

  test("removeSpans cuts later copies, merges overlapping intervals, keeps the earliest") {
    import spark.implicits._
    // doc 1 keeps everything (always id_a); doc 2 loses the 10-char run
    // shared with doc 1; doc 3 IS the run — pairs (1,3) and (2,3) both
    // cut the same [1, 11) interval, which must merge to ONE island and
    // empty the doc, not double-count the removal
    val df = Seq(
      (1L, "AAAAABBBBBCCCCC"),
      (2L, "XXAAAAABBBBBZZZ"),
      (3L, "AAAAABBBBB")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text", w = 5)
    val got = Dedup.removeSpans(df, spans, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == Set(2L, 3L), got.toString) // doc 1 never cut
    assert(got(2L) == ((1L, 10L, "XXZZZ")), got(2L).toString)
    assert(got(3L) == ((1L, 10L, "")), got(3L).toString)
  }

  test("duplicateSpansAgainst finds corpus-vs-benchmark leaks only, both directions of offset") {
    import spark.implicits._
    // corpus doc 10 leaks benchmark doc 1's span; corpus docs 11/12 are
    // clean; corpus docs 10 and 11 share a span WITH EACH OTHER which
    // must NOT appear (cross form never pairs corpus with corpus)
    val bench = Seq((1L, "benchmark answer: cdefghijklmnop end")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "xxcdefghijklmnopqq shared-corpus-run-123"),
      (11L, "unrelated text here shared-corpus-run-123"),
      (12L, "totally disjoint content with no overlap")).toDF("doc_id", "text")
    val got = spanRows(Dedup.duplicateSpansAgainst(corpus, bench, "doc_id", "text", w = 6))
    // bench span 'cdefghijklmnop' at 19..32 in doc 1; at 3..16 in doc 10
    assert(got == Set((10L, 1L, 3, 19, 14)), got.toString)
  }

  test("duplicateSpans portable (string-keyed) tier equals the xxhash64 production tier") {
    val d = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val prod = spanRows(Dedup.duplicateSpans(d, "doc_id", "text", w = 40))
    val port = spanRows(Dedup.duplicateSpans(d, "doc_id", "text", w = 40, portable = true))
    assert(prod == port)
    assert(prod.nonEmpty) // the corpus has planted near-dups sharing >40-char runs
  }

  test("hardNegatives: different-label top-k, tournament == direct window, guard trips") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 40 corpus vectors on a ring, labels alternate in blocks of 10; two
    // queries. Salted tournament (saltBuckets larger than the corpus so
    // most partitions are singletons — the adversarial split) must equal
    // the direct single-window top-k.
    val rows = (0 until 40).map { i =>
      val a = i * 2 * math.Pi / 40
      (i.toLong, Array(math.cos(a), math.sin(a)), i / 10)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val queries = df.filter(col("vec_id") < 2)
    val got = Similarity.hardNegatives(df, queries, "vec_id", "embedding", "label", k = 5,
      saltBuckets = 64)
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // direct reference: score all, filter label, one window
    val q = queries.select(col("vec_id").as("query_id"), col("label").as("ql"),
      col("embedding").as("qv"))
    val direct = df.crossJoin(q).filter(col("label") =!= col("ql"))
      .withColumn("cos", round(
        graft.operators.Similarity.cosine(col("embedding"), col("qv")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= 5)
      .select("query_id", "vec_id", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotSet == direct, s"$gotSet vs $direct")
    // negatives only: no returned vec shares its query's label
    val labels = rows.map(r => r._1 -> r._3).toMap
    assert(gotSet.forall { case (qid, vid, _) => labels(qid.toInt) != labels(vid.toInt) })
    assert(gotSet.groupBy(_._1).forall(_._2.size == 5))
    val e = intercept[Exception] {
      Similarity.hardNegatives(df, queries, "vec_id", "embedding", "label", k = 5,
        maxQueries = 1L).collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(e).contains("broadcast-safe bound"), messages(e))
  }

  test("resolveKeep flags exactly one best-score keeper per cluster, id tiebreak") {
    import spark.implicits._
    val labeled = Seq(
      (1L, 1L, 0.9), (2L, 1L, 0.7), (5L, 1L, 0.9), // cluster 1: tie 1 vs 5 → 1 wins
      (3L, 3L, 0.2), // singleton
      (4L, 4L, 0.5), (6L, 4L, 0.8) // cluster 4: 6 wins on score
    ).toDF("doc_id", "component", "quality")
    val got = Dedup.resolveKeep(labeled, "doc_id", "component", col("quality"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(got == Map(1L -> true, 2L -> false, 5L -> false,
      3L -> true, 4L -> false, 6L -> true), got.toString)
  }

  test("duplicateSpans ignores docs shorter than the window and trips the hot-window guard") {
    import spark.implicits._
    val short = Seq((1L, "tiny"), (2L, "also"), (3L, "small")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(short, "doc_id", "text", w = 6).count() == 0L)
    val hot = Seq(
      (1L, "boilerplateboilerplate"),
      (2L, "boilerplateboilerplate"),
      (3L, "boilerplateboilerplate")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.duplicateSpans(hot, "doc_id", "text", w = 6, maxDocsPerShingle = 2L).collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(e).contains("brute-safe bound"), messages(e))
  }

  test("editDistancePairs: length banding is lossless at the boundary, each pair emitted once") {
    import spark.implicits._
    // (1,2) sits exactly AT the |Δlen| = maxDist boundary with
    // distance = maxDist — the case a sloppy band (|Δlen| < k) drops
    val df = Seq((1L, "abcd"), (2L, "ab"), (3L, "abx"), (4L, "zzzz"))
      .toDF("id", "t")
    def pairs(k: Int) = graft.operators.Dedup
      .editDistancePairs(df, "id", "t", maxDist = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSeq
    val got2 = pairs(2)
    assert(got2.toSet == Set((1L, 2L, 2), (1L, 3L, 2), (2L, 3L, 1)), got2.toString)
    assert(got2.length == got2.toSet.size, "a pair was emitted twice")
    assert(pairs(1).toSet == Set((2L, 3L, 1)), pairs(1).toString)
  }

  test("editDistancePairsByDeletion ≡ brute force on every edit shape, each pair once") {
    import spark.implicits._
    // the uniform-length tier (r14): substitution pairs, insert/delete
    // pairs (shifted tails), doubled letters (duplicate variant routes),
    // a transposition (= 2 ops), an empty string, and far strings
    val rows = Seq(
      (1L, "supplier#001"), (2L, "supplier#002"), (3L, "supplier#012"),
      (4L, "suplier#001"), (5L, "supplierx#001"), (6L, "aabbcc"),
      (7L, "ababcc"), (8L, "abbacc"), (9L, ""), (10L, "zz"),
      (11L, "totally-unrelated"))
    val df = rows.toDF("id", "t")
    for (k <- Seq(1, 2)) {
      val got = graft.operators.Dedup
        .editDistancePairsByDeletion(df, "id", "t", maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSeq
      val brute = for {
        (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
        d = levenshteinRef(ta, tb) if d <= k
      } yield (ia, ib, d)
      assert(got.toSet == brute.toSet, s"k=$k got=${got.toSet} brute=${brute.toSet}")
      assert(got.length == got.toSet.size, s"k=$k: a pair was emitted twice")
    }
  }

  test("editDistancePairsByDeletion: the maxLen guard refuses long keys with routing guidance") {
    import spark.implicits._
    val df = Seq((1L, "x" * 80), (2L, "y" * 80)).toDF("id", "t")
    val e = intercept[Exception] {
      graft.operators.Dedup
        .editDistancePairsByDeletion(df, "id", "t", maxDist = 2, maxLen = 48)
        .collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(e).contains("banded tier"), messages(e))
  }

  /** Reference Levenshtein for the brute comparison (classic DP). */
  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(
        math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
