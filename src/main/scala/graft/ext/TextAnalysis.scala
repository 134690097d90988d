package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Text-analysis operators for training-data pipelines (SURVEY.md §7.5):
  * token counting, quality scoring, language ID, fingerprinting.
  * Everything is per-row, codegen-friendly column expressions — no UDFs, no
  * shuffles, scales linearly with the corpus.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped: the native
    * [[graft.functions.WsTokens]] byte scan, case kept ([[Dedup.tokens]]
    * is the lowercased form). */
  def tokens(text: Column): Column = call_function("ws_tokens", text)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish proxy token count: letter/digit runs plus individual
    * punctuation marks (lookaround-free so the same RE2-compatible pattern
    * runs in other engines), ≈ subword token count for budget estimation. */
  val BPEISH_PATTERN = """[\p{L}\p{N}]+|[^\p{L}\p{N}\s]"""
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BPEISH_PATTERN), lit(0)))

  /** Quality features: char/token counts, mean token length, punctuation &
    * whitespace ratios, stopword ratio. All exact integer/ratio arithmetic
    * (int casts to double only at the final division → cross-engine stable).
    * A ratio over zero chars or zero tokens is NULL in both ANSI modes
    * (`try_divide`; a plain divide raises DIVIDE_BY_ZERO under ANSI).
    */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nChars = length(t)
    val nToks = size(toks)
    val punct = nChars - length(regexp_replace(t, """[\p{Punct}]""", ""))
    val stop = size(filter(toks, w => w.isin(EN_STOPWORDS: _*)))
    df.select(
      col(idCol),
      nChars.alias("n_chars"),
      nToks.alias("n_tokens"),
      try_divide(nChars.cast(DoubleType), nToks.cast(DoubleType)).alias("chars_per_token"),
      try_divide(punct.cast(DoubleType), nChars.cast(DoubleType)).alias("punct_ratio"),
      try_divide(stop.cast(DoubleType), nToks.cast(DoubleType)).alias("stopword_ratio"))
  }

  /** Quality score in [0,1]: penalize too-short/too-long docs, high
    * punctuation, vanishing stopword ratio (heuristic, deterministic). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nToks = size(toks).cast(DoubleType)
    val lenScore = when(nToks < 5, nToks / 5.0)
      .when(nToks > 10000, lit(0.5)).otherwise(lit(1.0))
    // an empty text has no punctuation ratio: NULL in both ANSI modes
    val punct = try_divide(
      (length(text) - length(regexp_replace(text, """[\p{Punct}]""", ""))).cast(DoubleType),
      length(text).cast(DoubleType))
    val punctScore = when(punct > 0.3, lit(0.3)).otherwise(lit(1.0))
    lenScore * punctScore
  }

  // Function-word profiles for the n-gram/stopword language heuristic.
  // Tiny on purpose: they travel as plan literals to every executor.
  val EN_STOPWORDS: Seq[String] = Seq("the", "a", "and", "of", "to", "in",
    "is", "it", "that", "for", "on", "with", "as", "at", "this", "be")
  private val PROFILES: Seq[(String, Seq[String])] = Seq(
    "en" -> EN_STOPWORDS,
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "des", "du",
      "est", "dans", "que", "pour", "sur", "avec", "au"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "un", "una", "es",
      "en", "que", "por", "con", "para", "del", "se"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "in",
      "von", "zu", "den", "mit", "auf", "für", "des", "im"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "他",
      "中", "大", "来", "上", "国", "个"))

  /** token → bitmask of profile languages containing it (a stopword can
    * belong to several languages — 'la' is fr+es — so a mask, not an id). */
  private val LANG_MASK: Map[String, Int] = PROFILES.zipWithIndex
    .flatMap { case ((_, words), i) => words.map(_ -> (1 << i)) }
    .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).reduce(_ | _) }

  /** Language ID via stopword-hit ratio per profile; argmax with
    * deterministic tie-break on ratio then language code. Returns struct
    * (lang, confidence).
    *
    * One map lookup + nLangs bit tests per token (the naive formulation is
    * |profiles|×|words| `isin` comparisons per token — 16× more work in
    * the scan's inner loop at corpus scale). Hit counts are identical:
    * membership per language counts once either way. */
  def languageId(text: Column): Column = {
    val toks = tokens(lower(text))
    val n = greatest(size(toks), lit(1)).cast(DoubleType)
    val nLangs = PROFILES.length
    val hitCounts = aggregate(
      toks,
      array_repeat(lit(0), nLangs),
      (acc, t) => {
        val mask = coalesce(element_at(typedlit(LANG_MASK), t), lit(0))
        zip_with(acc,
          transform(sequence(lit(0), lit(nLangs - 1)),
            i => call_function("shiftright", mask, i).bitwiseAND(lit(1))),
          (a, b) => a + b)
      })
    val scored = array(PROFILES.zipWithIndex.map { case ((langCode, _), i) =>
      struct(
        (element_at(hitCounts, i + 1).cast(DoubleType) / n).alias("confidence"),
        lit(langCode).alias("lang"))
    }: _*)
    val best = array_max(scored)
    when(best.getField("confidence") === 0,
      struct(lit("und").alias("lang"), lit(0.0).alias("confidence")))
      .otherwise(struct(best.getField("lang").alias("lang"),
        best.getField("confidence").alias("confidence")))
  }

  // RE2-compatible (no lookaround) so the same patterns run in the oracle
  val EMAIL_PATTERN = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val URL_PATTERN = """https?://[^\s]+"""

  /** PII-ish scrubbing for training corpora: mask emails and URLs. */
  def scrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
      URL_PATTERN, "<URL>")

  /** Max single-token frequency ratio (Gopher-style repetition filter):
    * docs dominated by one repeated token are boilerplate/spam.
    *
    * O(n log n) per document: sort the token array once, then a single
    * aggregate pass takes the longest equal-run (= max frequency). The
    * distinct×filter formulation is O(distinct × n) — a 100k-token
    * adversarial doc would do 10⁹ comparisons in the scan's inner loop. */
  def repetitionRatio(text: Column): Column = {
    val toks = tokens(text)
    val runState = aggregate(
      array_sort(toks),
      struct(lit(0).alias("best"), lit(0).alias("run"),
        lit(null).cast("string").alias("prev")),
      (acc, t) => {
        val run = when(acc.getField("prev") === t, acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(greatest(acc.getField("best"), run).alias("best"),
          run.alias("run"), t.alias("prev"))
      })
    // empty docs → NULL ratio (array_max over an empty array in the old
    // formulation), not 0 — keep that contract
    val maxFreq = when(size(toks) === 0, lit(null).cast("int"))
      .otherwise(runState.getField("best"))
    maxFreq.cast(DoubleType) / greatest(size(toks), lit(1)).cast(DoubleType)
  }

  /** Winnowing bands over a MATERIALIZED shingle-hash column: min hash of
    * each `window`-sized band. (Materialize first — referencing a raw hash
    * expression here would re-hash all shingles once per band.) */
  def fingerprintBands(hashCol: Column, window: Int): Column = {
    // Column `/` is double division — keep band arithmetic integral
    val nBands = greatest(
      floor((size(hashCol) + window - 1) / lit(window)).cast("int"), lit(1))
    array_distinct(transform(sequence(lit(0), nBands - 1),
      b => array_min(slice(hashCol, b * window + 1, lit(window)))))
  }

  /** Per-document rolling-hash fingerprints over word shingles — winnowing
    * style. DataFrame-level so the hash pass is materialized once. */
  def fingerprintsDf(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, window: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
        Dedup.shingleHashes(col(textCol), shingleSize).alias("_hs"))
      .select(col(idCol), fingerprintBands(col("_hs"), window).alias("fps"))
  }

  /** Column-API convenience for one-off use (see [[fingerprintsDf]] for the
    * pipeline-grade path). Requires GraftFunctions.register on the session. */
  def fingerprints(text: Column, shingleSize: Int = 5, window: Int = 4): Column =
    fingerprintBands(Dedup.shingleHashes(text, shingleSize), window)
}
