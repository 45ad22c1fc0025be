package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is a composition of codegen'd built-in expressions
  * (no Scala UDFs), so the whole pipeline stays inside WholeStageCodegen
  * and scales linearly with input: at 100 TB these run as a single narrow
  * pass over the documents table with zero shuffles.
  */
object TextFunctions {

  /** Whitespace-normalized, lowercased view of a text column — the
    * canonical form used by dedup and fingerprinting. r19: the
    * single-pass byte kernel ([[TextKernels.normWs]]); semantics are
    * `lower(trim(regexp_replace(text, "\\s+", " ")))`, pinned
    * bit-for-bit in TextKernelsSpec. */
  def normalizeText(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      WsNormalize(org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Whitespace tokenization (the baseline tokenizer). r19: single-pass
    * byte kernel ([[TextKernels.wsTokens]]), pinned ≡ the declarative
    * `split(trim(text), "\\s+")` in TextKernelsSpec. */
  def tokens(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      WsTokens(org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: word-pieces + digits + punctuation as separate
    * tokens (regex approximation of a GPT-2-style pre-tokenizer). */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Ratio of alphabetic characters to total characters. */
  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(
        length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
          length(text).cast("double"))

  private val stopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Fraction of tokens that are (English) stopwords — a cheap fluency
    * signal; near-zero for non-linguistic or boilerplate content. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    val stops = filter(toks, tk => tk.isin(stopwords.map(lit): _*))
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(stops).cast("double") / size(toks).cast("double"))
  }

  /** Mean token length (characters per token). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(
        aggregate(toks, lit(0L), (acc, tk) => acc + length(tk).cast("long"))
          .cast("double") / size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: blends length, stopword presence and
    * alphabetic density. Deterministic and shuffle-free. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(1000.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val alphaScore = alphaRatio(text)
    round((lenScore + stopScore + alphaScore) / 3.0, 4)
  }

  /** n-gram language identification over a tiny per-language profile of
    * frequent words. Returns the language whose profile matches the most
    * tokens; 'und' when nothing matches. Pure expressions: the per-language
    * hit counts are computed with higher-order array functions.
    */
  def languageId(text: Column): Column = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "with"),
      "de" -> Seq("der", "die", "das", "und", "ist", "mit"),
      "fr" -> Seq("le", "la", "les", "et", "est", "avec"),
      "es" -> Seq("el", "la", "los", "que", "es", "con"),
      "zh" -> Seq("的", "是", "和", "了", "在", "不"))
    val toks = tokens(lower(text))
    val scored = profiles.map { case (lang, words) =>
      struct(
        size(filter(toks, tk => tk.isin(words.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Rolling document fingerprint: md5 hex digest of each w-token window,
    * keep the k lexicographically smallest (a winnowing-style sketch).
    * Deterministic and engine-portable — the q50 oracle recomputes the
    * identical digests in DuckDB, which a numeric xxhash64 would not allow. */
  def fingerprint(text: Column, window: Int = 3, k: Int = 8): Column = {
    val toks = tokens(normalizeText(text))
    val n = size(toks)
    // md5 hex digests (not xxhash64): lexicographic min/sort over hex
    // strings is engine-portable, so the DuckDB oracle recomputes the
    // identical fingerprint
    val grams = transform(
      sequence(lit(0), greatest(n - window, lit(0))),
      i => md5(concat_ws(" ",
        slice(toks, i + 1, lit(window)))))
    slice(array_sort(grams), 1, k)
  }
}
