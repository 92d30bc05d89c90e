package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All deterministic (seeded xxhash64 —
  * no RNG), all expressed as DataFrame plans.
  *
  * Performance shape (the part that matters at 100 TB):
  *  - token/shingle arrays are STAGED through a projection so the regex
  *    split runs once per document — inlining it into per-element lambdas
  *    makes evaluation O(tokens²) per doc (CollapseProject keeps the
  *    boundary because the staged attribute is referenced many times and
  *    split is not cheap);
  *  - signature computation (minhash minima, simhash bit weights) runs as
  *    CODEGEN'D hash aggregates over exploded (doc, hash) rows — one
  *    shuffle keyed by doc id — instead of interpreted higher-order
  *    lambdas;
  *  - candidate generation is banded (LSH buckets), so only plausible
  *    pairs ever meet: O(docs × bands) vs O(docs²).
  */
object Dedup {

  /** Largest per-shingle document multiplicity [[jaccardPairs]]'s exact
    * self-join will accept (≈2.5e7 join rows from one shingle at the
    * bound). Hotter shingles belong on the pruned/banded tiers.
    */
  val MaxDocsPerShingle: Long = 5000L

  /** Distinct k-token shingle array from a token-array expression.
    *
    * The token array is bound as a LAMBDA VARIABLE (`transform(array(t0),
    * t -> …)` + flatten) — a project-level "staging" column gets collapsed
    * back by the optimizer and an expression referenced inside a
    * higher-order lambda is then re-evaluated PER ELEMENT, turning one
    * regex split per document into O(tokens · k) splits (measured 25×
    * slower). A lambda binding is evaluated exactly once per row and
    * cannot be re-inlined.
    *
    * Also guarded: Spark's `sequence(1, 0)` DESCENDS ([1, 0]) rather than
    * yielding empty, so short texts short-circuit to [].
    */
  def shingleFromTokens(toks: Column, k: Int): Column =
    flatten(transform(array(toks), t =>
      when(
        size(t) >= k,
        array_distinct(
          transform(
            sequence(lit(1), size(t) - lit(k - 1)),
            i => concat_ws(" ", (0 until k).map(j => element_at(t, i + lit(j))): _*))))
        .otherwise(array().cast("array<string>"))))

  /** Convenience single-column form. */
  def shingleArray(text: Column, k: Int): Column =
    shingleFromTokens(TextFunctions.tokens(text), k)

  /** (id, sh: array<string>), one split per document. */
  def docShingleSets(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    df.select(col(id), shingleArray(col(text), k).as("sh"))

  /** Distinct k-token shingles per document, long form: (id, shingle). */
  def shingles(df: DataFrame, id: String, text: String, k: Int): DataFrame =
    docShingleSets(df, id, text, k)
      .select(col(id), explode(col("sh")).as("shingle"))

  /** Split documents into overlapping token-window chunks — the
    * pre-tokenization step of a pretraining pipeline (long docs become
    * max-length training sequences with `overlap` tokens of context
    * carry-over). Pure plan-side arithmetic: one token split per doc
    * (lambda-bound, see [[shingleFromTokens]]), chunk starts via
    * `sequence` stride, slices clamp at the document end. Output:
    * (id, chunk_idx, chunk_text, n_chunk_tokens), embarrassingly
    * parallel at any scale.
    */
  def chunkDocs(
      df: DataFrame,
      id: String,
      text: String,
      maxTokens: Int,
      overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens, "need 0 <= overlap < maxTokens")
    val stride = maxTokens - overlap
    df.select(col(id), TextFunctions.tokens(col(text)).as("__toks"))
      .select(
        col(id),
        col("__toks"),
        posexplode(sequence(lit(0), size(col("__toks")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "__start")))
      .select(
        col(id),
        col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(maxTokens)))
          .as("chunk_text"),
        size(slice(col("__toks"), col("__start") + 1, lit(maxTokens))).cast("long")
          .as("n_chunk_tokens"))
  }

  /** Exact dedup: group documents by a normalized key, keep the smallest
    * id as the canonical survivor (reference has no dedup — this is the
    * driver-mandated extension surface, SURVEY §7.2 #8).
    */
  def exactGroups(df: DataFrame, id: String, key: Column): DataFrame =
    df.select(col(id), key.as("dedup_key"))
      .groupBy("dedup_key")
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Incremental dedup — the daily-ingest shape: flag each INCOMING
    * document against the EXISTING corpus on two tiers, exact
    * (normalized-content fingerprint membership) and near (any existing
    * doc with k-gram Jaccard ≥ threshold). Returns one row per incoming
    * doc: (id, exact_dup, near_dup, kept).
    *
    * At 100 TB the existing side is a precomputed fingerprint/shingle
    * store read from parquet, not recomputed — both tiers here consume
    * only (key) / (id, shingle-hash) projections, exactly the columns
    * such a store persists. The near tier shuffles by shingle hash, so
    * cost tracks shared-shingle volume, never |incoming| × |existing|.
    */
  def incrementalFlags(
      incoming: DataFrame,
      existing: DataFrame,
      id: String,
      text: String,
      fingerprint: Column => Column,
      k: Int,
      threshold: Double): DataFrame = {
    val exKeys = existing.select(fingerprint(col(text)).as("__key")).distinct()
    val exact = incoming
      .select(col(id), fingerprint(col(text)).as("__key"))
      .join(exKeys.withColumn("__hit", lit(true)), Seq("__key"), "left")
      .select(col(id), coalesce(col("__hit"), lit(false)).as("exact_dup"))
    // set sizes ride the exploded relations map-side (r16, the
    // commonShingleCounts fold): the former per-side size aggregates
    // were a second pass + exchange over each exploded relation, plus
    // two joins back onto the common counts
    val inSh = shinglesWithSize(incoming, id, text, k)
      .select(col(id).as("__in"), col("n_sh").as("na"), col("shingle").as("h"))
    val exSh = shinglesWithSize(existing, id, text, k)
      .select(col(id).as("__ex"), col("n_sh").as("nb"), col("shingle").as("h"))
    val near = inSh.join(exSh, "h")
      .groupBy("__in", "__ex", "na", "nb").agg(count(lit(1)).as("common"))
      .filter(
        col("common").cast("double") / (col("na") + col("nb") - col("common"))
          >= lit(threshold))
      .select(col("__in").as(id))
      .distinct()
      .withColumn("near_dup", lit(true))
    exact
      .join(near, Seq(id), "left")
      .na.fill(false, Seq("near_dup"))
      .withColumn("kept", !col("exact_dup") && !col("near_dup"))
  }

  /** Exact n-gram Jaccard near-dup pairs: shingle self-join → common
    * counts → |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold. Quadratic in docs
    * sharing a shingle — use [[minHashPairs]] when that bound is unsafe,
    * and the self-join is GUARDED on exactly that axis: a per-shingle
    * multiplicity window COMPUTED FROM THE JOIN'S OWN SHUFFLE (the
    * window partitions by the equi-join key, so its exchange satisfies
    * the join's distribution requirement — no extra pass over the
    * exploded shingle relation, unlike the r9 aggregate+broadcast form)
    * fails the job with a descriptive error before the join can emit
    * `maxDocsPerShingle`² rows from a hot shingle.
    * [[prefixJaccardPairs]] (PPJoin) and [[minHashPairs]] are the scale
    * paths.
    */
  def jaccardPairs(
      df: DataFrame,
      id: String,
      text: String,
      k: Int,
      threshold: Double,
      maxDocsPerShingle: Long = MaxDocsPerShingle): DataFrame =
    commonShingleCounts(df, id, text, k, maxDocsPerShingle)
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")

  /** Shingle CONTAINMENT near-dup pairs — the asymmetric complement of
    * [[jaccardPairs]]: C(A,B) = |A∩B| / |A| (and the mirror for B), the
    * sub-document-duplication detector (a short doc embedded verbatim
    * in a long one has near-zero Jaccard but containment ≈ 1 — the
    * union denominator drowns the overlap; Broder's resemblance-vs-
    * containment distinction). Same guarded shingle join and
    * common-count kernel as the Jaccard tier (one code path, one
    * guard); pairs survive when EITHER direction's containment clears
    * the threshold. Same brute/oracle-tier contract: quadratic in docs
    * sharing a shingle, guarded in-plan; the banded tiers are the scale
    * paths.
    */
  def containmentPairs(
      df: DataFrame,
      id: String,
      text: String,
      k: Int,
      threshold: Double,
      maxDocsPerShingle: Long = MaxDocsPerShingle): DataFrame =
    commonShingleCounts(df, id, text, k, maxDocsPerShingle)
      .withColumn("cont_a", col("common").cast("double") / col("na"))
      .withColumn("cont_b", col("common").cast("double") / col("nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("id_a", "id_b", "common", "cont_a", "cont_b")

  /** The shared kernel of [[jaccardPairs]] and [[containmentPairs]]:
    * guarded shingle self-join → per-pair common counts joined to both
    * sides' set sizes — (id_a, id_b, common, na, nb).
    */
  private def commonShingleCounts(
      df: DataFrame,
      id: String,
      text: String,
      k: Int,
      maxDocsPerShingle: Long): DataFrame = {
    // join on the 64-bit shingle hash: smaller shuffle + long compares
    // (collision probability ~n²/2⁶⁵ — immaterial). Deliberately NOT
    // cached: the exploded shingle relation is LARGER than the corpus, so
    // at scale re-running the linear shingle pass per consumer beats
    // pinning it in executor memory — and the operator owns no persisted
    // state after return.
    //
    // Per-doc set sizes ride the EXPLODED relation itself (r16): the
    // size is the length of the very array the explode consumes, so one
    // extra long column through the shuffle replaces the former separate
    // sizes relation — which cost a SECOND full tokenize+shingle scan of
    // the corpus plus two post-aggregation equi-joins (each re-shuffling
    // the pair relation AND the corpus-cardinality sizes side). Docs
    // with zero shingles vanish in the explode exactly as their 0-size
    // rows formerly joined away.
    val sh = shinglesWithSize(df, id, text, k)
    // HOT-SHINGLE GUARD riding the join's own shuffle (r10: the r9 form
    // was a separate groupBy-shingle aggregate + broadcast barrier — one
    // full extra pass over the exploded shingle relation per call). A
    // count(*) window partitioned by the JOIN KEY produces exactly the
    // hash partitioning the equi-join requires, so EnsureRequirements
    // inserts no second exchange and the multiplicity check is computed
    // from the same shuffle the join consumes. Each partition asserts
    // before its own shingle groups are expanded — a hot shingle fails
    // its task loudly before bound² rows can be emitted from it.
    // BOTH self-join sides read the SAME guarded windowed relation
    // (r15): the sides then differ only by the id alias, so the
    // exploded-shingle exchange is planned once and REUSED — the r14
    // form built the b side from the raw shingle relation and re-ran
    // the whole shingle pass for it.
    val wSh = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val guarded = sh
      .withColumn("__m", count(lit(1)).over(wSh))
      .filter(assert_true(
        col("__m") <= lit(maxDocsPerShingle),
        format_string(
          "jaccardPairs is the exact-quadratic brute/oracle tier: a " +
            "shingle is shared by %d docs, over the brute-safe bound %d (one such " +
            "shingle alone emits bound² join rows). Use prefixJaccardPairs (PPJoin) " +
            "or minHashPairs for corpora with hot shingles.",
          col("__m"), lit(maxDocsPerShingle))).isNull)
      .drop("__m")
    // sizes are constant per doc, so grouping by them adds no groups —
    // the pair aggregate emits (id_a, id_b, common, na, nb) directly
    guarded
      .select(col(id).as("id_a"), col("n_sh").as("na"), col("shingle"))
      .join(
        guarded.select(col(id).as("id_b"), col("n_sh").as("nb"), col("shingle")),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("common"))
      .select("id_a", "id_b", "common", "na", "nb")
  }

  /** Exploded shingle relation with the doc's set size attached
    * map-side: `(id, n_sh, shingle-hash)` — the explode and the size
    * read the same staged array, so no second corpus pass exists.
    */
  private def shinglesWithSize(df: DataFrame, id: String, text: String,
      k: Int): DataFrame =
    docShingleSets(df, id, text, k)
      .select(col(id), size(col("sh")).cast("long").as("n_sh"),
        explode(col("sh")).as("shingle"))
      .select(col(id), col("n_sh"), xxhash64(col("shingle")).as("shingle"))

  /** Cross-corpus line dedup (C4-style cleanup): every line of length ≥
    * `minLen` keeps only its FIRST occurrence corpus-wide (first = lowest
    * (doc, position)); short lines always survive. Documents are then
    * reassembled in original line order.
    *
    * Skew design: short lines bypass the dedup stage entirely — they are
    * kept unconditionally AND they are exactly the corpus-hottest values
    * ("", "---", separators), so shuffling them by line text would hand
    * one task a corpus-wide group. For the eligible lines, "first
    * occurrence" is computed as `min(struct(id, pos))` per line — a HASH
    * AGGREGATE, not a `row_number` window: partial (map-side) aggregation
    * collapses every duplicate of a hot long line to one row per input
    * partition before the shuffle, so even a boilerplate line repeated
    * across the whole corpus moves O(partitions) rows, never O(copies).
    * One skew-proof shuffle on line text, one on doc id for reassembly.
    */
  def dedupLines(df: DataFrame, id: String, text: String, minLen: Int): DataFrame = {
    val lines = df.select(
      col(id),
      posexplode(split(col(text), "\n", -1)).as(Seq("pos", "line")))
    val first = lines
      .filter(length(col("line")) >= minLen)
      .groupBy(col("line"))
      .agg(min(struct(col(id), col("pos"))).as("__first"))
      .select(
        col("__first").getField(id).as(id),
        col("__first").getField("pos").as("pos"),
        col("line"))
    val kept = first.unionByName(
      lines.filter(length(col("line")) < minLen).select(col(id), col("pos"), col("line")))
    kept.groupBy(col(id))
      .agg(concat_ws(
        "\n",
        transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line"))).as(text))
  }

  /** Prefix-filtered exact Jaccard (PPJoin-style, Chaudhuri/Xiao prefix
    * filtering — public literature): with shingles globally ordered
    * rarest-first, any pair with J ≥ t must share a shingle within each
    * doc's first (n − ⌈t·n⌉ + 1) shingles — so only PREFIX shingles are
    * self-joined, then a length-ratio filter (t·|A| ≤ |B| ≤ |A|/t) prunes
    * further, then candidates are string-exact verified. Output is
    * IDENTICAL to [[jaccardPairs]] (pruning is lossless), which is what
    * its oracle row proves; the join input shrinks from every shingle to
    * the rare prefix — the exact-Jaccard tier that survives when shared
    * hot shingles make [[jaccardPairs]]'s bucket bound unsafe.
    */
  /** Asymmetric Jaccard pairs: every pair with AT LEAST ONE side in
    * `batch`, given the DISJOINT `existing` corpus side — the
    * incremental-maintenance shape: candidate volume is
    * |batch shingles| × matches, never corpus × corpus (the full
    * [[jaccardPairs]] self-join). Output matches [[jaccardPairs]]:
    * (id_a < id_b, common, jaccard).
    *
    * SPLIT candidate derivation (r16): batch×existing pairs come from
    * one disjoint-sides join (each shared shingle emits exactly one
    * row — per-doc shingle sets are distinct by construction), and
    * batch-internal pairs from one `id_x < id_y` self-join (ditto) —
    * so the per-pair commonality aggregates the union DIRECTLY. The
    * former single batch×all join emitted every batch-internal pair
    * from both orientations and needed a distinct() over the full
    * (pair, shingle) candidate relation to collapse them: at scale
    * that was TWO exchanges of the largest intermediate (distinct on
    * 5 columns, then re-shuffle for the 4-column aggregate); the split
    * form crosses the wire once, and the batch-side shingle exchange
    * is planned once and reused by both joins.
    */
  def jaccardPairsAgainst(
      batch: DataFrame,
      existing: DataFrame,
      id: String,
      text: String,
      k: Int,
      threshold: Double): DataFrame = {
    // set sizes ride both exploded relations map-side (r16, see
    // commonShingleCounts): a batch doc's size from its own array is
    // identical to the corpus-relation value (same doc, same text, same
    // distinct-shingle set), so the former corpus-wide sizes scan and
    // its two post-aggregation joins are gone
    val shB = shinglesWithSize(batch, id, text, k)
      .select(col(id).as("id_x"), col("n_sh").as("n_x"), col("shingle"))
    val cross = shB.join(
        shinglesWithSize(existing, id, text, k)
          .select(col(id).as("id_y"), col("n_sh").as("n_y"), col("shingle")),
        Seq("shingle"))
      .select(
        least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        when(col("id_x") < col("id_y"), col("n_x")).otherwise(col("n_y")).as("na"),
        when(col("id_x") < col("id_y"), col("n_y")).otherwise(col("n_x")).as("nb"))
    // both self-join sides read the SAME relation so the exploded
    // batch-shingle exchange is planned once and reused (the
    // commonShingleCounts discipline)
    val inner = shB.join(
        shB.select(col("id_x").as("id_y"), col("n_x").as("n_y"), col("shingle")),
        Seq("shingle"))
      .filter(col("id_x") < col("id_y"))
      .select(
        col("id_x").as("id_a"), col("id_y").as("id_b"),
        col("n_x").as("na"), col("n_y").as("nb"))
    cross.unionByName(inner)
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("common"))
      .withColumn(
        "jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")
  }

  def prefixJaccardPairs(
      df: DataFrame,
      id: String,
      text: String,
      k: Int,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(df, id, text, k)
      .select(col(id), xxhash64(col("shingle")).as("h"))
    // document frequency as a HASH AGGREGATE + join, NOT a
    // `partitionBy(h)` window: a corpus-hot shingle ("the", separators)
    // would put every one of its rows into a single window task, and
    // window partitions — unlike skewed join partitions — cannot be split
    // by AQE. The aggregate collapses hot shingles map-side; the join
    // back on h is skew-splittable. Price: the shingle pass runs twice
    // (freq + join side) — linear, and consistent with the
    // no-persisted-state contract. The two DOC-partitioned windows are
    // bounded by document length and share one shuffle+sort.
    val freq = sh.groupBy("h").agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy(col(id)).orderBy(col("__df"), col("h"))
    val wDocAll = Window.partitionBy(col(id))
    val pref = sh
      .join(freq, "h")
      .withColumn("__rn", row_number().over(wDoc))
      .withColumn("__n", count(lit(1)).over(wDocAll))
      .filter(col("__rn") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col(id), col("h"), col("__n"), col("__rn"))
    // POSITIONAL filter (PPJoin): a true pair needs overlap ≥
    // α = ⌈t/(1+t)·(|A|+|B|)⌉, and a shared prefix shingle at positions
    // (pa, pb) bounds the remaining overlap by 1 + min(na−pa, nb−pb).
    // Filtering per shared-shingle row is lossless: a true pair's FIRST
    // shared prefix shingle always satisfies the bound, so the pair
    // survives the dropDuplicates. This prunes the candidate set BEFORE
    // the verify joins — the stage that otherwise dominates (at t=0.5 the
    // prefix is half of every doc, so raw candidates are ~10³× the
    // true-pair count).
    val alpha = ceil(lit(threshold) / (lit(1.0) + threshold) * (col("na") + col("nb")))
    val cand = pref
      .select(col(id).as("id_a"), col("h"), col("__n").as("na"), col("__rn").as("pa"))
      .join(
        pref.select(col(id).as("id_b"), col("h"), col("__n").as("nb"), col("__rn").as("pb")),
        Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("na") * lit(threshold) <= col("nb")
        && col("nb") * lit(threshold) <= col("na"))
      .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >= alpha)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // exact verify on the candidate pairs only — on HASHED shingle sets
    // (array<bigint>), so the two verify joins shuffle 8-byte longs
    // instead of k-gram strings (collision odds ~n²/2⁶⁵, immaterial; the
    // candidate join above already keys on the same hashes). A semi-join
    // pruning the corpus to candidate ids before re-shingling would
    // re-evaluate the whole uncached candidate chain per verify side —
    // two linear corpus re-shingles are the cheaper honest cost.
    val docSh = docShingleSets(df, id, text, k)
      .filter(size(col("sh")) > 0)
      .select(col(id), transform(col("sh"), s => xxhash64(s)).as("sh"))
    cand
      .join(docSh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docSh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn(
        "jaccard",
        col("common").cast("double")
          / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "common", "jaccard")
  }

  /** MinHash+LSH near-dup pairs:
    *
    * shingle → explode → `numHashes` codegen'd `min(xxhash64(h, i))`
    * aggregates per doc (ONE shuffle on id) → band keys → bucket
    * self-join → exact Jaccard verify on candidates only.
    *
    * bands × rowsPerBand = signature length; the (b, r) choice sets the
    * S-curve: P(candidate) = 1 − (1 − s^r)^b for true similarity s.
    */
  def minHashPairs(
      df: DataFrame,
      id: String,
      text: String,
      k: Int,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val numHashes = bands * rowsPerBand
    // NOT cached (corpus-sized): the signature pass reads it once; the two
    // verify joins re-derive it, and each touches only candidate ids —
    // linear recompute beats pinning token arrays in memory at 100 TB, and
    // no persisted RDDs outlive the call.
    val docSh = docShingleSets(df, id, text, k).filter(size(col("sh")) > 0)
    // (id, shingle-hash) rows; all minhash minima in one codegen'd aggregate
    val exploded = docSh
      .select(col(id), explode(col("sh")).as("s"))
      .select(col(id), xxhash64(col("s")).as("h"))
    val minAggs = (0 until numHashes).map(i => min(xxhash64(col("h"), lit(i))).as(s"__mh$i"))
    val sigs = exploded.groupBy(col(id)).agg(minAggs.head, minAggs.tail: _*)
    // band key = hash of the band's slice of the signature
    val banded = sigs.select(
      col(id),
      explode(array((0 until bands).map { b =>
        val slice = (0 until rowsPerBand).map(r => col(s"__mh${b * rowsPerBand + r}"))
        struct(lit(b).as("band"), xxhash64(slice: _*).as("bkey"))
      }: _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val l = banded.select(col(id).as("id_a"), col("band"), col("bkey"))
    val r = banded.select(col(id).as("id_b"), col("band"), col("bkey"))
    val candidates = l.join(r, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // exact verify on the candidate pairs only
    candidates
      .join(docSh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docSh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn(
        "jaccard",
        col("common").cast("double")
          / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** PORTABLE MinHash+LSH: identical structure to [[minHashPairs]], but
    * every hash is ANSI-expressible arithmetic — shingles hash through
    * md5 (15 hex digits → BIGINT, identical in any engine), the signature
    * permutations are seeded universal hashes (a·x + b mod P, P = 2³¹−1,
    * products bounded in 62 bits), and band keys fold minima with a
    * polynomial accumulator. The DuckDB oracle is GENERATED from the same
    * constants ([[Sql.minHashOracle]]), so the whole
    * signature → band → candidate → verify pipeline is hash-exact — the
    * evidence tier xxhash64 can't provide. Keep [[minHashPairs]] for
    * production (xxhash64 is far cheaper than md5).
    */
  val MinHashP = 2147483647L // 2^31 − 1, prime

  def portablePerms(n: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)((1L + rnd.nextInt((MinHashP - 1).toInt).toLong,
      rnd.nextInt(MinHashP.toInt).toLong))
  }

  def minHashPairsPortable(
      df: DataFrame,
      id: String,
      text: String,
      k: Int,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double,
      seed: Long): DataFrame = {
    val numHashes = bands * rowsPerBand
    val perms = portablePerms(numHashes, seed)
    val docSh = docShingleSets(df, id, text, k).filter(size(col("sh")) > 0)
    val exploded = docSh
      .select(col(id), explode(col("sh")).as("s"))
      .select(col(id),
        (conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") % MinHashP).as("h"))
    val minAggs = perms.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % MinHashP).as(s"__mh$i")
    }
    val sigs = exploded.groupBy(col(id)).agg(minAggs.head, minAggs.tail: _*)
    val banded = sigs.select(
      col(id),
      explode(array((0 until bands).map { bnd =>
        val key = (0 until rowsPerBand)
          .map(r => col(s"__mh${bnd * rowsPerBand + r}"))
          .foldLeft(lit(0L): Column)((acc, m) => (acc * 1000003L + m) % MinHashP)
        struct(lit(bnd).as("band"), key.as("bkey"))
      }: _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val candidates = banded.select(col(id).as("id_a"), col("band"), col("bkey"))
      .join(banded.select(col(id).as("id_b"), col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(docSh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docSh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn(
        "jaccard",
        col("common").cast("double")
          / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** PORTABLE SimHash: 60-bit fingerprints from md5 token hashes (15 hex
    * digits → BIGINT — 16 would overflow the signed cast), 4 × 15-bit
    * chunk banding (pigeonhole: hamming ≤ 3 ⟹ one chunk matches), XOR
    * popcount verify. Every step is ANSI arithmetic, so the whole
    * pipeline is oracle-checkable — the evidence tier; keep
    * [[simHashPairs]] (xxhash64, 64-bit) for production.
    */
  def simHashPairsPortable(
      df: DataFrame, id: String, text: String, maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "4-chunk banding guarantees recall only for hamming < 4")
    val bits = 60
    val tok = df
      .select(col(id), TextFunctions.tokens(col(text)).as("__toks"))
      .select(col(id), explode(col("__toks")).as("t"))
      .select(col(id), conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
    val weightAggs = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"__w$b")
    }
    val weights = tok.groupBy(col(id)).agg(weightAggs.head, weightAggs.tail: _*)
    val simhash = (0 until bits)
      .map(b => when(col(s"__w$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    val hashed = weights.select(col(id), simhash.as("simhash"))
    val chunked = hashed.select(
      col(id), col("simhash"),
      explode(array((0 until 4).map { c =>
        struct(
          lit(c).as("chunk"),
          shiftrightunsigned(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL)).as("ckey"))
      }: _*)).as("ck"))
      .select(col(id), col("simhash"), col("ck.chunk").as("chunk"), col("ck.ckey").as("ckey"))
    val l = chunked.select(col(id).as("id_a"), col("simhash").as("h_a"), col("chunk"), col("ckey"))
    val r = chunked.select(col(id).as("id_b"), col("simhash").as("h_b"), col("chunk"), col("ckey"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("h_a"), col("h_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("CAST(bit_count(h_a ^ h_b) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** 64-bit SimHash per doc: bit b set iff Σ_tokens (bit b of
    * xxhash64(token) ? +1 : −1) > 0. Computed as 64 codegen'd sums over
    * exploded (id, token-hash) rows — one shuffle, no interpreted lambdas.
    */
  def simHash64(df: DataFrame, id: String, text: String): DataFrame = {
    val tok = df
      .select(col(id), TextFunctions.tokens(col(text)).as("__toks"))
      .select(col(id), explode(col("__toks")).as("t"))
      .select(col(id), xxhash64(col("t")).as("h"))
    val weightAggs = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"__w$b")
    }
    val weights = tok.groupBy(col(id)).agg(weightAggs.head, weightAggs.tail: _*)
    val simhash = (0 until 64)
      .map(b => when(col(s"__w$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    weights.select(col(id), simhash.as("simhash"))
  }

  /** SimHash near-dup pairs: band on the 4 16-bit chunks (two 64-bit
    * hashes within Hamming distance < 4 share at least one exact chunk by
    * pigeonhole), verify with popcount of XOR.
    */
  def simHashPairs(df: DataFrame, id: String, text: String, maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "4-chunk banding guarantees recall only for hamming < 4")
    val hashed = simHash64(df, id, text)
    val chunked = hashed
      .select(
        col(id),
        col("simhash"),
        explode(array((0 until 4).map { c =>
          struct(
            lit(c).as("chunk"),
            shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("ckey"))
        }: _*)).as("ck"))
      .select(col(id), col("simhash"), col("ck.chunk").as("chunk"), col("ck.ckey").as("ckey"))
    val l = chunked.select(col(id).as("id_a"), col("simhash").as("h_a"), col("chunk"), col("ckey"))
    val r = chunked.select(col(id).as("id_b"), col("simhash").as("h_b"), col("chunk"), col("ckey"))
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("h_a"), col("h_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Cross-document duplicate SUBSTRING spans — the exact-substring dedup
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499), re-expressed as a Spark plan
    * instead of a single-node suffix array: every MAXIMAL character span
    * of length ≥ `w` shared verbatim by two documents, reported as
    * `(id_a, id_b, start_a, start_b, span_len)` with `id_a < id_b` and
    * 1-based starts.
    *
    * Construction: one row per character offset `(id, p, key(p))` where
    * `key(p)` is the `w`-char window at `p`; equal keys across two docs
    * are a match at positions `(pa, pb)`; consecutive matches on the same
    * DIAGONAL `pa − pb` (pa and pb both advancing by 1) belong to one
    * shared span of length `(max pa − min pa) + w` — the classic
    * gaps-and-islands merge, here per (pair, diagonal). A run of exactly
    * the matching `w`-windows is equivalent to the suffix-array span: a
    * shared span of length L ≥ w produces exactly the L − w + 1
    * consecutive window matches the island reassembles.
    *
    * Scale shape: the position relation is O(total_chars) rows but only
    * (id, p, hash64) — 24 bytes/char through the shuffle on the
    * production tier (`portable = false` hashes each window to 64 bits
    * with xxhash64, so window text never leaves the scan stage); the
    * self-join is keyed by that hash; and the island windows partition by
    * (id_a, id_b, diagonal) — bounded by one document's length, never by
    * the corpus. The same hot-shingle guard as [[jaccardPairs]] caps
    * boilerplate blowup: a window shared by m docs emits O(m²) match
    * rows per position, so per-key multiplicity over the bound fails
    * early with a descriptive error. A 64-bit collision could fabricate
    * one match row (probability ~positions²/2⁶⁵ per key — immaterial);
    * `portable = true` joins on the window text itself, the
    * oracle-replayable evidence tier (DedupSpec pins both tiers equal).
    */
  def duplicateSpans(
      df: DataFrame,
      id: String,
      text: String,
      w: Int,
      portable: Boolean = false,
      maxDocsPerShingle: Long = MaxDocsPerShingle): DataFrame = {
    val pos = spanPositions(df, id, text, w, portable)
    val a = pos.select(col(id).as("id_a"), col("p").as("pa"), col("__k"))
    val b = pos.select(col(id).as("id_b"), col("p").as("pb"), col("__k"))
    // guard applied to the JOIN OUTPUT, not a join input: both sides stay
    // canonically identical, so SMJ reuses ONE exchange for both (which a
    // guard-polluted left input would forbid). The self-join is HINTED to
    // sort-merge: both sides are the corpus-sized position relation
    // (rows = Σ(len−w+1) — data-proportional by construction), but it
    // descends from an explode whose size Catalyst cannot estimate, so
    // the planner kept choosing BuildRight broadcast — fine in a 64 GiB
    // bench heap, a guaranteed driver OOM at production scale (the r15
    // 4–6 GiB spill probe died exactly there at sf1). SMJ spills; a
    // hashed-relation broadcast cannot. Failure semantics of the guard
    // are unchanged: the broadcast max-multiplicity aggregate is
    // materialized before the first join row streams, and every output
    // row passes through the assert, so a hot-window corpus still dies
    // on the first emitted match — before bound² rows can materialize
    // anywhere.
    val matches = spanGuarded(
      a.hint("merge").join(b, Seq("__k")).filter(col("id_a") < col("id_b")),
      pos, w, maxDocsPerShingle)
    mergeDiagonalRuns(matches.select(col("id_a"), col("id_b"), col("pa"), col("pb")), w)
  }

  /** APPLY side of [[duplicateSpans]] — Lee et al. 2022's actual dedup
    * step: CUT each duplicate span from the LATER document (id_b; the
    * id_a copy survives, and because the keep rule follows the total id
    * order, a span shared by a chain of documents survives exactly once,
    * in the smallest id). Returns one row per AFFECTED document:
    * `(id, n_spans_cut, n_chars_removed, text_clean)`.
    *
    * Overlapping/adjacent cut intervals merge first (gaps-and-islands
    * over a running max — a document hit by many pairs must not cut the
    * same characters twice); the cleaned text is the ordered concat of
    * the inter-interval segments plus the tail. Every window partitions
    * by DOCUMENT — interval counts are pair-bounded, never
    * corpus-bounded — and the only join is intervals⋈docs on the id.
    */
  def removeSpans(df: DataFrame, spans: DataFrame, id: String,
      text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ivl = spans.select(
      col("id_b").as(id), col("start_b").as("s"),
      (col("start_b") + col("span_len")).as("e"))
    val wOrd = Window.partitionBy(col(id)).orderBy(col("s"), col("e"))
    val prevMax = max(col("e"))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val merged = ivl
      .withColumn("ni", when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
      .withColumn("island",
        sum(col("ni")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(id), col("island"))
      .agg(min("s").as("s"), max("e").as("e"))
    val w2 = Window.partitionBy(col(id)).orderBy(col("s"))
    val segs = merged
      .join(df.select(col(id), col(text).as("__t")), Seq(id))
      .withColumn("seg_start", coalesce(lag(col("e"), 1).over(w2), lit(1)))
      .withColumn("seg", expr("substring(__t, seg_start, s - seg_start)"))
    segs.groupBy(col(id))
      .agg(
        count(lit(1)).as("n_spans_cut"),
        sum(col("e") - col("s")).as("n_chars_removed"),
        // ordered concat: collect_list order is nondeterministic, so the
        // segments sort by their interval start INSIDE the aggregate
        expr("array_join(transform(array_sort(collect_list(struct(s, seg))), " +
          "x -> x.seg), '')").as("__head"),
        max(col("e")).as("__maxe"),
        max(col("__t")).as("__t"))
      .select(
        col(id),
        col("n_spans_cut"),
        col("n_chars_removed"),
        concat(col("__head"), expr("substring(__t, __maxe)")).as("text_clean"))
  }

  /** Cross-corpus form of [[duplicateSpans]] — span-level benchmark
    * DECONTAMINATION (the other use Lee et al. 2022 put the substring
    * machinery to): every maximal span of length ≥ `w` a corpus document
    * shares verbatim with any benchmark document, as
    * `(id_a = corpus doc, id_b = benchmark doc, start_a, start_b,
    * span_len)`. Where [[Decontam.overlap]] scores per-DOCUMENT shingle
    * overlap, this reports the exact leaked RUNS — which benchmark item,
    * where in the document, and how long — so the cleanup can excise the
    * span instead of dropping the whole doc. The multiplicity guard sits
    * on the BENCHMARK side (the join's fan-out factor per corpus
    * position); benchmarks are small next to a corpus, so their position
    * relation broadcast-joins and the corpus side stays shuffle-free.
    */
  def duplicateSpansAgainst(
      corpus: DataFrame,
      benchmark: DataFrame,
      id: String,
      text: String,
      w: Int,
      portable: Boolean = false,
      maxDocsPerShingle: Long = MaxDocsPerShingle): DataFrame = {
    val cp = spanPositions(corpus, id, text, w, portable)
      .select(col(id).as("id_a"), col("p").as("pa"), col("__k"))
    val bpos = spanPositions(benchmark, id, text, w, portable)
    val bp = spanGuarded(bpos, bpos, w, maxDocsPerShingle)
      .select(col(id).as("id_b"), col("p").as("pb"), col("__k"))
    mergeDiagonalRuns(
      cp.join(broadcast(bp), Seq("__k"))
        .select(col("id_a"), col("id_b"), col("pa"), col("pb")),
      w)
  }

  /** One row per character offset: `(id, p, __k)` where `__k` is the
    * `w`-char window at `p` — xxhash64'd on the production tier so window
    * text never enters a shuffle. `sequence(1, len−w+1)` is DESCENDING
    * when len < w (Spark defaults the step to −1 for start > stop), so
    * short docs are filtered out first: the relation is exactly the full
    * windows.
    */
  private def spanPositions(
      df: DataFrame,
      id: String,
      text: String,
      w: Int,
      portable: Boolean): DataFrame = {
    require(w >= 2, s"span window must be at least 2 chars, got $w")
    val win = col(text).substr(col("p"), lit(w))
    df.filter(length(col(text)) >= w)
      .select(col(id), col(text))
      .select(col(id), explode(sequence(lit(1), length(col(text)) - (w - 1))).as("p"), col(text))
      .select(col(id), col("p"), (if (portable) win else xxhash64(win)).as("__k"))
  }

  /** The hot-window guard: the span join emits (multiplicity)² — or
    * corpus-side-count × multiplicity — rows per repeated window, so a
    * position relation whose hottest key exceeds the bound fails early
    * with a descriptive error (in-plan `assert_true` over a broadcast
    * 1-row max aggregate — one extra linear pass, the jaccardPairs
    * pattern).
    */
  private def spanGuarded(
      df: DataFrame,
      pos: DataFrame,
      w: Int,
      maxDocsPerShingle: Long): DataFrame = {
    val hottest = pos.groupBy("__k").agg(count(lit(1)).as("__m"))
      .agg(coalesce(max("__m"), lit(0L)).as("__hot"))
    df
      .crossJoin(broadcast(hottest))
      .filter(assert_true(
        col("__hot") <= lit(maxDocsPerShingle),
        format_string(
          "the duplicate-span window join is quadratic per hot window: the " +
            "hottest %d-char window occurs %d times, over the brute-safe bound %d. " +
            "Raise w past the boilerplate length, strip boilerplate first, or use " +
            "the banded tiers (minHashPairs/prefixJaccardPairs) for similarity-" +
            "level dedup.",
          lit(w), col("__hot"), lit(maxDocsPerShingle))).isNull)
      .drop("__hot")
  }

  /** Diagonal gaps-and-islands merge: within (id_a, id_b, pa−pb),
    * consecutive pa values are one maximal run — pa − row_number is
    * constant exactly on a run. Window partitions are per (pair,
    * diagonal): bounded by one document's length, never the corpus.
    */
  private def mergeDiagonalRuns(matches: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDiag = Window
      .partitionBy(col("id_a"), col("id_b"), (col("pa") - col("pb")).as("__diag"))
      .orderBy(col("pa"))
    matches
      .withColumn("__isl", col("pa") - row_number().over(byDiag))
      .groupBy(col("id_a"), col("id_b"), (col("pa") - col("pb")).as("__diag"), col("__isl"))
      .agg(
        min("pa").as("start_a"),
        min("pb").as("start_b"),
        (max("pa") - min("pa") + w).as("span_len"))
      .select("id_a", "id_b", "start_a", "start_b", "span_len")
  }

  /** Duplicate-cluster RESOLUTION — the step that actually drops rows:
    * given component-labeled docs (from [[graft.operators.Components]])
    * and a per-doc score, flag the single best doc per cluster as the
    * keeper (`keep = true`), score descending with an id tiebreak, so a
    * downstream `filter(keep)` materializes the deduplicated corpus
    * while the full verdict table stays auditable (which doc won each
    * cluster and what it beat).
    *
    * The ranking window partitions by COMPONENT — bounded by one
    * duplicate cluster's size (singletons are 1-row partitions), never
    * the corpus — the same bounded-window discipline as the top-k
    * retrieval cuts.
    */
  def resolveKeep(
      labeled: DataFrame,
      id: String,
      component: String,
      score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCluster = Window.partitionBy(col(component)).orderBy(score.desc, col(id))
    labeled.withColumn("keep", row_number().over(byCluster) === 1)
  }

  /** EDIT-DISTANCE near-dup pairs — the character-level tier the
    * set-similarity family cannot see: "cold plate" vs "old plate" is
    * one deletion (distance 1) but shares almost no word shingles, so
    * [[jaccardPairs]]/[[minHashPairs]] miss it by construction; the
    * converse (reordered words) is where THEY win — the tiers are
    * complements, not alternatives. Intended for SHORT-STRING domains
    * (names, titles, queries — the classic record-linkage surface);
    * document bodies belong to the shingle tiers.
    *
    * Scale structure: candidates are generated by LENGTH BANDING —
    * pair (a, b) only joins when |len(a) − len(b)| ≤ maxDist, which is
    * ADMISSIBLE (each edit changes the length by at most one, so a
    * larger gap proves distance > maxDist) — i.e. the pruning is
    * provably LOSSLESS, and the oracle's brute-force all-pairs form is
    * the proof (the prefixJaccardPairs discipline). The band join is an
    * equi join on the length BUCKET (each string enters the ≤
    * 2·maxDist+1 buckets it could match into), so at scale each
    * length-band co-partition joins independently — never an all-pairs
    * cross. The DP distance itself is Spark's codegen'd `levenshtein`,
    * bit-identical to DuckDB's (both the classic integer DP).
    */
  def editDistancePairs(
      df: DataFrame,
      id: String,
      text: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8, s"maxDist $maxDist out of [1, 8]")
    val base = df.select(col(id).as("id"), col(text).as("t"))
      .filter(col("t").isNotNull)
      .withColumn("len", length(col("t")))
    // each LEFT row fans out to every length bucket within maxDist; the
    // RIGHT side sits in its own bucket — the equi join on the bucket
    // then sees exactly the admissible band
    val lhs = base
      .withColumn("band", explode(sequence(
        col("len") - maxDist, col("len") + maxDist)))
      .select(col("id").as("id_a"), col("t").as("t_a"), col("band"))
    val rhs = base.select(
      col("id").as("id_b"), col("t").as("t_b"), col("len").as("band"))
    lhs.join(rhs, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      // threshold-bounded DP: early-exits past maxDist (returns -1),
      // O(k·n) per candidate instead of O(n²); surviving pairs carry
      // the identical distance, so brute unbounded oracles still match
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "t_a", "t_b", "dist")
  }

  /** EDIT-DISTANCE near-dup pairs via the DELETION NEIGHBORHOOD — the
    * UNIFORM-LENGTH complement of [[editDistancePairs]] (the FastSS
    * family of candidate generators; public k-deletion-variant
    * indexing). Length banding is admissible but prunes NOTHING when
    * every key has the same length (fixed-format ids, padded codes, the
    * supplier-name shape): its candidate set degenerates to all-pairs —
    * the r14 sf1 drive measured exactly that knee. Here every string
    * emits its ≤maxDist DELETION VARIANTS (the string with any ≤k
    * positions removed); `ed(a, b) ≤ k` implies a SHARED variant (walk
    * one optimal alignment: a substitution deletes that position from
    * both sides, an insertion deletes from one side — ≤k deletions per
    * side, equal results), so the equi join on the variant is provably
    * LOSSLESS and the brute all-pairs oracle is the proof. Bucket sizes
    * track the LOCAL NEAR-DUP DENSITY — two strings share a variant
    * only when they already agree outside ≤2k positions — so candidates
    * are output-proportional, independent of the length distribution.
    *
    * Cost: 1 + L + C(L, 2) variants per string at k = 2 — quadratic in
    * the string LENGTH, which is why this tier is for SHORT KEYS: an
    * in-plan guard refuses relations whose longest string exceeds
    * `maxLen` (variants are pure codegen'd substring arithmetic, no
    * UDF). Long or variable-length domains belong to the banded tier;
    * document bodies to the shingle tiers.
    */
  def editDistancePairsByDeletion(
      df: DataFrame,
      id: String,
      text: String,
      maxDist: Int,
      maxLen: Int = 48): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2, s"maxDist $maxDist out of [1, 2]")
    val base = df.select(col(id).as("id"), col(text).as("t"))
      .filter(col("t").isNotNull)
    val longest = base.agg(coalesce(max(length(col("t"))), lit(0)).as("__maxlen"))
    val guarded = base
      .crossJoin(broadcast(longest))
      .filter(assert_true(
        col("__maxlen") <= maxLen,
        format_string(
          "editDistancePairsByDeletion generates 1 + L + L(L-1)/2 variants per " +
            "string: the longest key here is %d chars, over the bound %d. Short " +
            "keys only — route long or variable-length domains to the banded " +
            "tier (editDistancePairs) or the shingle tiers.",
          col("__maxlen"), lit(maxLen))).isNull)
      .drop("__maxlen")
    val t = col("t")
    val ln = length(t)
    // delete 1-based position p
    def del1(s: Column, p: Column, l: Column): Column =
      concat(s.substr(lit(1), p - 1), s.substr(p + 1, l))
    // delete 1-based positions p < q
    def del2(p: Column, q: Column): Column =
      concat(t.substr(lit(1), p - 1), t.substr(p + 1, q - p - 1), t.substr(q + 1, ln))
    // empty-string keys would make sequence(1, 0, 1) throw — they have
    // no deletion variants, only themselves
    val v1 = when(ln >= 1,
      transform(sequence(lit(1), ln, lit(1)), p => del1(t, p, ln)))
      .otherwise(expr("CAST(ARRAY() AS ARRAY<STRING>)"))
    val variants =
      if (maxDist == 1) concat(array(t), v1)
      else concat(
        array(t), v1,
        // q runs 2..L so the inner sequence 1..q-1 is never empty-with-
        // negative-step (sequence(1, 0) would COUNT DOWN, not be empty)
        when(ln >= 2,
          flatten(transform(sequence(lit(2), ln, lit(1)), q =>
            transform(sequence(lit(1), q - 1, lit(1)), p => del2(p, q)))))
          .otherwise(expr("CAST(ARRAY() AS ARRAY<STRING>)")))
    // dedupe variants PER STRING (deleting either copy of a doubled
    // letter yields the same variant) so a pair is not candidate-joined
    // once per duplicate route before the pair-level dropDuplicates
    val vz = guarded
      .select(col("id"), col("t"), explode(array_distinct(variants)).as("__var"))
    val l = vz.select(col("id").as("id_a"), col("t").as("t_a"), col("__var"))
    val r = vz.select(col("id").as("id_b"), col("t").as("t_b"), col("__var"))
    l.join(r, Seq("__var"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "t_a", "t_b")
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "t_a", "t_b", "dist")
  }
}
