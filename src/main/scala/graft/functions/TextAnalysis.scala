package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions.native

/** Text-analysis primitives for training-data pipelines (SURVEY.md §2c X4):
  * tokenization, token counting, quality scoring, language ID, document
  * fingerprinting. Pure Column expressions (codegen'd, no UDFs, no shuffle) —
  * at 100 TB these run as a map-only pass over the corpus.
  */
object TextAnalysis {

  /** Whitespace tokenizer (empty tokens dropped). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-piece runs + digits + punctuation singles —
    * the regex analog of a byte-pair tokenizer's pre-tokenization (a cheap,
    * deterministic proxy for "LLM token count"). */
  def bpeishTokenCount(text: Column): Column =
    size(filter(
      split(text, "(?=[^\\p{L}\\p{N}])|(?<=[^\\p{L}\\p{N}])"),
      // \S, not trim(): Spark's trim strips only U+0020, so tab/newline
      // pieces would otherwise count as tokens
      t => t.rlike("\\S")))

  /** Unicode NFC canonical composition (native `graft_nfc`): run before
    * hashing/shingling so decomposed and precomposed forms dedup as one
    * document. */
  def nfcNormalize(text: Column): Column =
    native("graft_nfc", text)

  /** DEFLATE compression ratio (compressed bytes / raw bytes, native
    * `graft_deflate_len`): the Gopher/RefinedWeb quality signal —
    * boilerplate and repetition compress far harder than natural prose.
    * NULL for empty text. */
  def compressionRatio(text: Column, level: Int = 6): Column =
    native("graft_deflate_len", text, lit(level)).cast("double") /
      nullif(octet_length(text), lit(0)).cast("double")

  /** Ratio of non-alphanumeric-non-space chars to total chars. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", ""))).cast("double") /
      nullif(length(text), lit(0)).cast("double")

  /** Mean token length in characters. */
  def meanTokenLength(text: Column): Column =
    aggregate(tokens(text), lit(0.0), (acc, t) => acc + length(t)) /
      nullif(tokenCount(text), lit(0)).cast("double")

  private val EnglishStopwords = Seq(
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are")

  /** Fraction of tokens that are common English stopwords — a standard
    * fluency / natural-language-ness signal (cf. C4/Gopher quality rules). */
  def stopwordRatio(text: Column): Column = {
    val sw = array(EnglishStopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, lower(t)))).cast("double") /
      nullif(tokenCount(text), lit(0)).cast("double")
  }

  /** Composite quality score in [0,1]: long enough, low punctuation noise,
    * sane token lengths, some stopword mass. Weights are heuristic — the
    * VALUE is the deterministic, shuffle-free plumbing. */
  def qualityScore(text: Column): Column =
    qualityFormula(tokenCount(text), punctRatio(text), meanTokenLength(text),
      stopwordRatio(text))

  /** Same score computed from a `graft_text_stats` struct — one native scan
    * instead of four HOF passes over the tokens; bit-identical result
    * (NativeTextSpec pins both equivalences). */
  def qualityFromStats(st: Column): Column =
    qualityFormula(st.getField("n_tokens"), st.getField("punct_ratio"),
      st.getField("mean_tok_len"), st.getField("stopword_ratio"))

  private def qualityFormula(nTokens: Column, punct: Column, meanTok: Column,
                             sw: Column): Column = {
    val lenOk = least(nTokens.cast("double") / 20.0, lit(1.0))
    val punctOk = lit(1.0) - least(punct * 4.0, lit(1.0))
    val tokLenOk = when(meanTok.between(2.0, 12.0), 1.0).otherwise(0.3)
    val swOk = least(sw * 5.0, lit(1.0))
    least(greatest(lenOk * 0.3 + punctOk * 0.3 + tokLenOk * 0.2 + swOk * 0.2,
      lit(0.0)), lit(1.0))
  }

  /** Character-class profile per language family + stopword evidence.
    * N-gram-heuristic language ID: CJK/Cyrillic/Arabic/Devanagari by script;
    * Latin-script languages by stopword hits (en/es/de/fr). Returns a
    * language code or "und". */
  def langId(text: Column): Column = {
    def frac(pattern: String): Column =
      (length(text) - length(regexp_replace(text, pattern, ""))).cast("double") /
        nullif(length(text), lit(0)).cast("double")
    def swHits(words: Seq[String]): Column = {
      val sw = array(words.map(lit): _*)
      size(filter(tokens(text), t => array_contains(sw, lower(t))))
    }
    val es = swHits(Seq("el", "la", "de", "que", "y", "en", "los", "del", "se", "las", "por", "un", "una", "con", "para"))
    val de = swHits(Seq("der", "die", "das", "und", "ist", "von", "den", "im", "mit", "für", "auf", "ein", "eine", "nicht"))
    val fr = swHits(Seq("le", "la", "les", "de", "des", "et", "est", "un", "une", "du", "dans", "que", "pour", "sur"))
    val en = swHits(EnglishStopwords)
    when(frac("[\\p{IsHan}]") > 0.05, "zh")
      .when(frac("[\\p{IsHiragana}\\p{IsKatakana}]") > 0.05, "ja")
      .when(frac("[\\p{IsHangul}]") > 0.05, "ko")
      .when(frac("[\\p{IsCyrillic}]") > 0.2, "ru")
      .when(frac("[\\p{IsArabic}]") > 0.2, "ar")
      .when(frac("[\\p{IsDevanagari}]") > 0.2, "hi")
      .when(es > en && es >= de && es >= fr, "es")
      .when(de > en && de >= es && de >= fr, "de")
      .when(fr > en && fr >= es && fr >= de, "fr")
      .when(en > 0, "en")
      .otherwise("und")
  }

  /** 64-bit document fingerprint: xxhash64 of whitespace-normalized,
    * lowercased text — exact content identity after normalization. For
    * PARTIAL-overlap detection use [[winnowFingerprints]]. */
  def fingerprint(text: Column): Column =
    xxhash64(normalize(text))

  /** Canonical text form for dedup/fingerprinting: trimmed, whitespace runs
    * collapsed to single spaces, case-folded. (The same normalization
    * [[fingerprint]] hashes — exposed so dedup can key on the STRING when
    * the collapsed groups themselves are wanted.) */
  def normalize(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): rolling-hash
    * k-grams, window-min selection — any shared substring of length
    * ≥ k + w − 1 yields a common fingerprint, so two documents sharing a
    * passage intersect here even when their full-document hashes differ.
    * Native expression. */
  def winnowFingerprints(text: Column, k: Int = 12, w: Int = 8): Column =
    native("graft_winnow", text, lit(k), lit(w))
}
