package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: tokenization,
  * token counting, quality ratios, language ID, fingerprinting. All are
  * pure `org.apache.spark.sql.functions` compositions (codegen'd or
  * higher-order functions) — no UDFs, so they stay inside whole-stage
  * codegen and scale linearly.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. `trim` first: Java split keeps
    * trailing empties and a leading "" for leading whitespace — trimming
    * gives both engines (Spark / DuckDB `string_split_regex`) identical
    * lists.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word runs + single punctuation marks —
    * `\w+|[^\w\s]` — the standard pre-tokenizer regex shape.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Sentence count: runs of ASCII terminators `[.!?]+` (a trailing
    * "..." or "?!" is one boundary), floored at 1 so scripts with no
    * ASCII terminators (e.g. CJK `。`) still divide safely.
    */
  def sentenceCount(text: Column): Column =
    greatest(
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))

  /** Syllable proxy: vowel-group runs `[aeiouy]+` of the lowercased
    * text — the standard Flesch approximation (exact syllabification
    * needs a dictionary; vowel groups are within ~10 % on English prose
    * and deterministic everywhere).
    */
  def syllableCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0))).cast("long")

  /** Flesch reading ease `206.835 − 1.015·(w/s) − 84.6·(syl/w)` as ONE
    * fixed IEEE tree over exact integer counts — bit-portable unrounded.
    */
  def flesch(words: Column, sentences: Column, syllables: Column): Column =
    lit(206.835) - lit(1.015) * (words.cast("double") / sentences) -
      lit(84.6) * (syllables.cast("double") / words)

  /** Canonical text cleanup (ftfy-lite): Unicode NFC composition
    * ([[graft.plans.ScalarExpressions.nfc]], a native codegen'd
    * expression), control characters stripped (C0 except newline, plus
    * DEL — the mojibake bytes crawls leak), space runs collapsed, ends
    * trimmed. Run BEFORE fingerprinting/shingling so byte-level encoding
    * accidents can't split a dedup class. Both regexes are RE2-safe
    * (plain classes and escapes), so DuckDB replays them verbatim.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        graft.plans.ScalarExpressions.nfc(text),
        "[\\x00-\\x09\\x0B-\\x1F\\x7F]", ""),
      "  +", " "))

  /** Number of tokens of `text` that appear in `words`. */
  def wordHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), x => x.isInCollection(words)))

  /** Per-language stopword profiles for the heuristic language ID. CJK is
    * detected by codepoint class rather than stopwords.
    */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "mit", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "les", "et", "une", "est"))

  /** Heuristic language ID: stopword-hit count per language, CJK-character
    * count for zh; argmax with alphabetical tiebreak (matching the mirrored
    * SQL CASE chain — scores equal ⇒ first language in order wins).
    */
  def langId(text: Column): Column = {
    val scores: Seq[(String, Column)] =
      LangStopwords.map { case (l, ws) => l -> wordHits(text, ws) } :+
        ("zh" -> size(regexp_extract_all(text, lit("[\\u4e00-\\u9fff]"), lit(0))))
    // argmax via left-to-right CASE: lang_i wins if >= all later scores
    val named = scores.map { case (l, c) => (l, c) }
    named.init.zipWithIndex.foldRight(lit(named.last._1): Column) {
      case (((l, s), i), els) =>
        val rest = named.drop(i + 1).map(_._2)
        when(rest.map(s >= _).reduce(_ && _), lit(l)).otherwise(els)
    }
  }

  /** PII redaction for training text: emails then long digit runs
    * (phone-shaped) are replaced with typed placeholder tags. Patterns
    * avoid backreferences/lookarounds so the SAME regex text runs under
    * Java regex (Spark) and RE2 (DuckDB `regexp_replace(..., 'g')`).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?\\d[\\d() -]{7,}\\d"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Normalized text: lowercase, trimmed, whitespace collapsed — the key
    * for exact dedup and fingerprinting.
    */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Document fingerprint: md5 of the normalized text (portable across
    * engines). For shift-robust fingerprints see
    * [[graft.operators.Dedup.shingles]] + minhash.
    */
  def fingerprint(text: Column): Column = md5(normalized(text).cast("binary"))

  /** Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): hash every token `k`-gram, slide a window of
    * `w` consecutive hashes, keep each window's minimum; the distinct
    * mins are the document's signature. Winnowing guarantees any shared
    * run of ≥ `w + k − 1` tokens between two documents yields at least
    * one shared fingerprint — the positional-coverage property plain
    * min-hash doesn't give — while storing only ~2/(w+1) of the grams.
    *
    * The per-window minimum is the LEXICOGRAPHIC min of md5 hex digests:
    * binary-comparable in both engines, so the selection — not just the
    * hashes — is portable. Pure higher-order-function arithmetic, work
    * per doc bounded by doc length, no shuffle.
    *
    * Returns the array of distinct fingerprint digests (empty when the
    * text has fewer than `k` tokens; a single min when there are fewer
    * than `w` grams — the whole gram list is one short window).
    */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column = {
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be positive")
    val toks = tokens(text)
    val hs = when(size(toks) >= k,
      transform(
        sequence(lit(1), size(toks) - lit(k - 1)),
        i => md5(concat_ws(" ", slice(toks, i, lit(k))).cast("binary"))))
      .otherwise(array().cast("array<string>"))
    val nw = when(size(hs) >= w, size(hs) - lit(w - 1))
      .when(size(hs) >= 1, lit(1)).otherwise(lit(0))
    when(nw >= 1,
      array_distinct(transform(
        sequence(lit(1), nw),
        j => array_min(slice(hs, j, lit(w))))))
      .otherwise(array().cast("array<string>"))
  }

  /** The SCALE tier of [[winnowFingerprints]]: the same fingerprints
    * computed over an exploded positions RELATION instead of per-row
    * array lambdas — grams assemble from `lead()` and window minima from
    * a sliding frame, both over per-document windows (partition size =
    * doc length, never the corpus), all vectorized. The array form's
    * `slice`-in-`transform` copies O(len·k) cells per doc inside an
    * interpreted HOF — measured ~37 ms per 300-token doc; this relation
    * form is the linear path and is WinnowSpec-pinned fingerprint-set-
    * identical. Output: (`id`, `fp`), distinct.
    */
  def winnowFingerprintsRel(
      df: org.apache.spark.sql.DataFrame,
      id: String,
      text: String,
      k: Int = 5,
      w: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be positive")
    val pos = df.select(
      col(id),
      posexplode(tokens(col(text))).as(Seq("__p", "__t")))
    val wDoc = Window.partitionBy(id).orderBy("__p")
    // gram at position p exists iff all k members exist (lead null past end)
    val members = (0 until k).map(o =>
      if (o == 0) col("__t") else lead(col("__t"), o).over(wDoc))
    val gram = when(members.last.isNotNull,
      md5(concat_ws(" ", members: _*).cast("binary")))
    val hs = pos.withColumn("__h", gram).filter(col("__h").isNotNull)
    // window minimum over the NEXT w gram hashes; the final w−1 positions
    // carry shorter windows — exactly the array form's clamped slice —
    // but only the first (nw) of them may EMIT (same nw rule), except
    // when there are fewer than w grams in total (single short window)
    val wMin = Window.partitionBy(id).orderBy("__p").rowsBetween(0, w - 1)
    val wCnt = Window.partitionBy(id)
    val wRank = Window.partitionBy(id).orderBy("__p")
    hs
      .withColumn("__fp", min("__h").over(wMin))
      .withColumn("__g", count(lit(1)).over(wCnt))
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") <= greatest(col("__g") - lit(w - 1), lit(1)))
      .select(col(id), col("__fp").as("fp"))
      .distinct()
  }
}
