package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (north-star extension per SURVEY.md §0/§7: language-ID, quality
  * scoring, token counting, document fingerprinting).
  *
  * Scale posture: every operator here is a per-row native Catalyst
  * expression (split / higher-order array lambdas / regexp) — no UDFs, no
  * shuffles, fully codegen'd and embarrassingly parallel, so throughput is
  * bounded by scan speed at 100 TB. Aggregation happens only in the
  * queries that consume these columns.
  */
object TextAnalysis {

  /** Whitespace tokenizer (documents.text is single-space separated). */
  def tokens(c: Column): Column = split(c, " ")

  def wsTokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish word-piece pattern: letter runs, digit runs, single other
    * non-space symbols — a cheap proxy for subword token counting. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def bpeTokenCount(c: Column): Column = regexp_count(c, lit(BpePattern))

  /** Tiny per-language stopword profiles (public common-word lists) used
    * by the stopword language-ID heuristic and quality scoring. */
  val LangOrder: Seq[String] = Seq("en", "es", "de", "fr", "zh")
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "los", "y", "que", "un", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "les", "une", "et", "du", "est", "dans", "pour"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Count of tokens contained in `words`. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))

  /** Stopword ratio against one language profile. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val toks = tokens(text)
    stopwordHits(toks, Stopwords(lang)).cast("double") /
      greatest(size(toks), lit(1))
  }

  /** Fraction of characters that are neither [a-z0-9] nor space. */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[^a-z0-9 ]", "")))
      .cast("double") / greatest(length(c), lit(1))

  /** Composite quality score in [0,1], UNROUNDED: enough tokens, little
    * punctuation noise, natural-language stopword presence. The raw
    * double is bit-identical across engines (same ratio/product/sum
    * chain); use it where the value feeds further arithmetic — engines'
    * round(x, 4) half-up implementations disagree on half-boundary
    * doubles (measured: one doc in 500 flips its 4th decimal), so
    * re-scaling a ROUNDED score is not portable. */
  def qualityScoreRaw(text: Column): Column = {
    val lenScore = least(wsTokenCount(text).cast("double") / 80.0, lit(1.0))
    val punct = punctRatio(text)
    val stop = least(stopwordRatio(text, "en") * 5.0, lit(1.0))
    lenScore * 0.4 + (lit(1.0) - punct) * 0.3 + stop * 0.3
  }

  /** Language-ID heuristic: argmax of per-language stopword hit counts,
    * ties broken by [[LangOrder]] preference (deterministic). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    // argmax via array_max over (score, -preferenceIdx, lang) structs:
    // identical winner to the preference-ordered when-chain it replaced
    // (highest score; ties -> earliest in LangOrder), but each
    // language's stopwordHits is evaluated exactly ONCE. The chain
    // referenced every score in up to 2*(langs-1) comparison sites, and
    // each reference re-ran the tokenize+scan HOF pipeline per row —
    // HOFs stay interpreted (no codegen/CSE rescue), the same
    // Catalyst-inlining trap fingerprintsFromHashes documents below.
    val entries = LangOrder.zipWithIndex.map { case (l, i) =>
      struct(stopwordHits(toks, Stopwords(l)).as("s"),
        lit(-i).as("p"), lit(l).as("lang"))
    }
    // NULL text pinned to NULL (null-in/null-out): ANSI size(null)=null
    // nulls every score, so the argmax would pick 'en' where the old
    // chain fell to 'zh' — the 'identical winner' claim is non-null-only.
    when(text.isNotNull, array_max(array(entries: _*)).getField("lang"))
  }

  /** Hashes of `n`-token shingles (order-sensitive), engine-portable via
    * [[Hashing.md5Long]]. Empty array when the doc has < n tokens. */
  def shingleHashes(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => Hashing.md5Long(concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Winnowing fingerprint from an ALREADY-MATERIALIZED hash-array
    * column (minima of sliding windows of `w` consecutive shingle
    * hashes, deduplicated — Schleimer et al., SIGMOD'03).
    *
    * One-pass native kernel ([[graft.functions.WinnowFingerprints]]) —
    * bit-identical (spec-asserted in TextAnalysisSpec) to the
    * `array_distinct(transform(sequence, i -> array_min(slice(h,i,w))))`
    * composition it replaced, which re-sliced the hash array per window
    * position as an interpreted higher-order chain.
    *
    * `h` MUST be a column reference, not a nested expression: Catalyst
    * inlines expressions into every lambda reference, so passing
    * `shingleHashes(...)` directly would recompute the whole hash array
    * once per window (O(n²) md5 calls per row — measured 50× slower).
    * Project the hashes with `withColumn` first. */
  def fingerprintsFromHashes(h: Column, w: Int = 4): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.WinnowFingerprints(
        org.apache.spark.sql.GraftColumnBridge.expression(h), w))
}
