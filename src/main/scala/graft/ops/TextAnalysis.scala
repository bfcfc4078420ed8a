package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-corpus analysis for training-data pipelines: token counting,
  * quality scoring, language identification, fingerprinting.
  *
  * Everything here is a scalar Column built from codegen'd built-ins —
  * per-row, no shuffle, fully pipelined inside WholeStageCodegen with the
  * parquet scan. That is the shape you want when the corpus is 100 TB:
  * one pass, no state.
  *
  * Regex patterns stick to explicit ASCII classes so semantics agree
  * between Spark (java.util.regex) and ANSI-SQL engines (RE2 etc.) —
  * `\w`/`\s` differ subtly across engines under unicode.
  */
object TextAnalysis {

  /** Whitespace token count: number of single-space-separated tokens. */
  def tokenCountWs(text: Column): Column =
    when(length(text) === 0, lit(0)).otherwise(size(split(text, " ")))

  /** BPE-ish token count: runs of word chars, or single non-word
    * non-space chars ("sub-word-ish" split a byte-pair tokenizer would
    * refine). Deliberately ASCII-explicit.
    */
  val BpeishPattern = "[A-Za-z0-9_]+|[^A-Za-z0-9_ ]"

  def tokenCountBpeish(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** ASCII-punctuation character count and ratio. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,;:!?'\"()\\[\\]-]", ""))

  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(punctCount(text).cast("double") / length(text).cast("double"))

  /** English function words used for both stopword-ratio quality scoring
    * and the language heuristic.
    */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be")

  def stopwordCount(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val set = array(stopwords.map(lit): _*)
    size(filter(split(text, " "), t => array_contains(set, t)))
  }

  def stopwordRatio(text: Column): Column = {
    val n = tokenCountWs(text)
    when(n === 0, lit(0.0)).otherwise(stopwordCount(text).cast("double") / n.cast("double"))
  }

  def meanTokenLen(text: Column): Column = {
    val n = tokenCountWs(text)
    when(n === 0, lit(0.0))
      .otherwise((length(text) - (n - 1)).cast("double") / n.cast("double"))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, presence
    * of function words, sane mean token length; penalizes punctuation
    * soup. Weights are heuristic (C4/Gopher-rule flavored), the point is
    * a deterministic, single-pass, codegen'd scoring column.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCountWs(text).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0))
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    val mtl = meanTokenLen(text)
    val mtlScore = when(mtl >= 3.0 && mtl <= 10.0, 1.0).otherwise(0.0)
    val punctPenalty = least(punctRatio(text) * 5.0, lit(1.0))
    val q = lenScore * 0.4 + stopScore * 0.3 + mtlScore * 0.3 - punctPenalty * 0.2
    // explicit half-up quantization instead of round(): engines implement
    // round() differently (exact-decimal vs scaled-double), but floor on
    // the same IEEE ops is bit-identical everywhere
    floor(q * 10000.0 + 0.5).cast("long") / 10000.0
  }

  /** Tiny per-language function-word sets for the n-gram-free language
    * heuristic. Real deployments would swap in larger tables (broadcast
    * dim) — the plan shape is identical.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "et"))

  /** Argmax over marker-hit counts; 'und' when nothing matches. Ties are
    * broken by the fixed order of `LangMarkers`, so the result is fully
    * deterministic.
    */
  def langIdHeuristic(text: Column): Column = {
    val toks = split(text, " ")
    val hits: Seq[(String, Column)] = LangMarkers.map { case (lang, words) =>
      val set = array(words.map(lit): _*)
      lang -> size(filter(toks, t => array_contains(set, t)))
    }
    val maxHits = greatest(hits.map(_._2): _*)
    val chain = hits.foldRight(lit("und")) { case ((lang, h), other) =>
      when(h === maxHits && maxHits > 0, lit(lang)).otherwise(other)
    }
    // foldRight builds when(en)...otherwise(when(es)...), so earlier
    // entries win ties — matching the documented tie order.
    chain
  }

  /** Content fingerprint: md5 hex of the text. Stable across engines,
    * usable as an exact-dedup key when the raw text is too wide to
    * shuffle (hash first, group by hash — 32 bytes instead of the doc).
    */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** 64-bit rolling polynomial (Karp-Rabin) fingerprint, the kernel
    * [[graft.functions.HashKernels.rollingHash]].
    */
  def fingerprintRolling(text: Column): Column =
    graft.functions.exprs.rolling_hash(text)

  /** All metrics in one projection — one pass over the corpus. */
  def withTextMetrics(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens_ws", tokenCountWs(t))
      .withColumn("n_tokens_bpeish", tokenCountBpeish(t))
      .withColumn("n_punct", punctCount(t))
      .withColumn("stopword_hits", stopwordCount(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_id", langIdHeuristic(t))
      .withColumn("fp_md5", fingerprintMd5(t))
  }
}
