package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build the PAIR-COUNT-HONEST sf1 corpus (r13 verdict item 1): 10× the
  * sf0.1 tables with the content-shifted discipline everywhere a clone
  * would inflate true-duplicate work quadratically, and consistent key
  * shifts everywhere a join must stay valid.
  *
  *  - `lineitem`/`orders`/`customer`/`supplier`/`part`: keys shift by
  *    copy·10⁸ consistently across fact↔dim so every join resolves
  *    inside its own copy — join fan-outs and group counts grow ×10,
  *    per-group depth stays the sf0.1 shape (the real scale-up mode);
  *    TPC-H scales exactly these five tables linearly.
  *  - `supplier.s_name` gets a per-copy 3-char repeated tag ("aaa",
  *    "bbb", …): within-copy edit distances are untouched (every name
  *    shifts equally) while cross-copy same-position names sit at
  *    distance 3 > the fuzzy-join's k = 2 — so `j_fuzzy_keys`' TRUE
  *    pair count grows exactly ×10 (a bare clone would add ~45
  *    distance-0 cross-pairs per name: quadratic, the wave-48 artifact).
  *  - `documents`: [[scaledDocs]] — fixed-width per-token
  *    copy suffix keeps every copy's shingle/char-window space disjoint,
  *    TRUE dup pairs exactly ×10.
  *  - `events`: [[scaledEvents]] — user/event ids shift, so
  *    windows get 10× partitions at constant depth.
  *  - `embeddings`: [[scaledEmbSign]] — per-copy Rademacher
  *    sign flip preserves within-copy cosines exactly and collapses
  *    cross-copy cosines toward zero: near-dup pair counts stay linear.
  *  - `nation`/`region`: fixed dims, copied as-is (TPC-H scales them
  *    sub-linearly: not at all).
  *
  * Run: sbt "runMain graft.tools.MakeSf1 [outDir]"  (default
  * /tmp/graft_sf1; source from SPARK_GRAFT_SF_DIR, default sf0.1).
  */
object MakeSf1 {

  val Copies = 10
  private val Shift = 100000000L

  /** Scale documents by replication with a per-copy suffix on every
    * TOKEN — copy i's shingle set is disjoint from every other copy's
    * (a plain replica would be a 100% dup of its source, multiplying pair
    * output instead of testing candidate scaling) while token/shingle
    * counts and frequency shape match the original, and planted dups
    * WITHIN a copy remain dups.
    */
  def scaledDocs(docs: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      // FIXED-WIDTH suffix: "c1" is a string PREFIX of "c10", so past
      // 10 copies a bare index makes cross-copy CHAR windows collide
      // (dup_spans' x16 run showed 62x match volume from exactly
      // this) — zero-padding keeps every copy's suffix the same
      // length and prefix-free, so shingles AND char windows stay
      // disjoint across copies (up to 100 copies)
      val newText = regexp_replace(col("text"), "(\\S+)", f"$$1c$i%02d")
      // EVERY other column rides through unchanged (the r15 sf1 drive
      // found 20 queries erroring on a corpus that silently dropped
      // `source`/`n_chars` — and several of those reference literal
      // source values, so the domain must not be copy-suffixed either).
      // `n_chars` is the one derived column: the testdata invariant is
      // n_chars = length(text), and the suffixing changes the text, so
      // it is recomputed to keep the invariant true in the scaled corpus.
      // single select — every expression binds to the INPUT row, so
      // n_chars measures the suffixed text exactly once
      docs.select(docs.columns.map {
        case "doc_id" => (col("doc_id") + lit(i * Shift)).as("doc_id")
        case "text" => newText.as("text")
        case "n_chars" => length(newText).cast("long").as("n_chars")
        case c => col(c)
      }: _*)
    }.reduce(_ unionAll _)

  /** Scale the embeddings keeping TRUE near-dup density LINEAR: copy i's
    * vectors all go through the same per-copy Rademacher sign flip (a
    * diagonal ±1 orthogonal transform keyed on (copy, dim)), which
    * preserves every within-copy cosine — planted near-dups included —
    * EXACTLY, while cross-copy cosines collapse toward zero (sign flips
    * destroy the shared per-dimension mean that makes unrelated vectors
    * of this table correlate; a mere dimension rotation would not).
    * Jittered replicas of one base vector would be genuine near-dups of
    * EACH OTHER, so the true pair count itself would grow quadratically
    * in copies; under the sign flip output growth is an algorithmic
    * signal (measured truth: 4137/8274/16548 pairs at 1×/2×/4×, 0
    * cross-copy).
    */
  def scaledEmbSign(emb: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      // non-geometry columns (`label`) ride through UNCHANGED: queries
      // reference literal label values (`label = 0`), and the sign flip
      // preserves within-copy geometry, so per-copy labels stay
      // consistent with their copy's vectors
      emb.select(emb.columns.map {
        case "vec_id" => (col("vec_id") + lit(i * Shift)).as("vec_id")
        case "embedding" =>
          transform(col("embedding"), (x, j) =>
            when(pmod(xxhash64(lit(i), j), lit(2)) === 0, x).otherwise(-x)).as("embedding")
        case c => col(c)
      }: _*)
    }.reduce(_ unionAll _)

  /** Scale events by replication with shifted user/event ids: the
    * sessionize window gets `copies`× more partitions at CONSTANT
    * per-user depth — the growth mode a bigger corpus actually has.
    */
  def scaledEvents(ev: DataFrame, copies: Int): DataFrame =
    (0 until copies).map { i =>
      ev.select(
        (col("event_id") + lit(i * Shift)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i * Shift)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val spark = graft.GraftSession.local()
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[sf1] $t rows=${spark.read.parquet(s"$out/$t.parquet").count()}")
    }

    def copies(df: DataFrame)(one: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until Copies).map(i => one(df, i)).reduce(_ unionAll _)

    write(copies(read("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * Shift))
        .withColumn("l_partkey", col("l_partkey") + lit(i * Shift))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * Shift))
    }, "lineitem")

    write(copies(read("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * Shift))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Shift))
    }, "orders")

    write(copies(read("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * Shift))
    }, "customer")

    write(copies(read("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * Shift))
        // distance-3 tag: cross-copy name pairs leave the k=2 fuzzy band
        .withColumn("s_name",
          concat(col("s_name"), lit(('a' + i).toChar.toString * 3)))
    }, "supplier")

    write(copies(read("part")) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * Shift))
    }, "part")

    write(read("nation"), "nation")
    write(read("region"), "region")

    write(scaledEvents(read("events"), Copies), "events")
    write(scaledDocs(read("documents"), Copies), "documents")
    write(scaledEmbSign(read("embeddings"), Copies), "embeddings")

    spark.stop()
  }
}
