package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the
  * `documents` table (driver north-star: language-ID, quality scoring,
  * token counting, fingerprinting). All pure Column expressions —
  * codegen'd, no UDFs, scale linearly with a single scan. */
object TextOps {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword proxy: count of letter-runs, digit-runs, and single
    * punctuation marks — a cheap deterministic stand-in for a real
    * tokenizer's piece count. */
  def bpeishCount(text: Column): Column =
    size(filter(split(text,
      "(?<=[^\\p{L}\\p{N}])|(?=[^\\p{L}\\p{N}])|(?<=\\p{L})(?=\\p{N})|(?<=\\p{N})(?=\\p{L})"),
      t => length(trim(t)) > 0))

  /** Punctuation character count / ratio over total chars. */
  def punctCount(text: Column): Column = {
    val stripped = regexp_replace(text, "[\\p{Punct}]", "")
    length(text) - length(stripped)
  }

  /** Composite quality score in [0,1]: length band + punctuation sanity +
    * stopword presence (the reference-style heuristics, engine-defined). */
  def qualityScore(text: Column): Column = {
    val n = length(text)
    val toks = tokenCount(text)
    val punctRatio = when(n === 0, 0.0).otherwise(punctCount(text).cast("double") / n)
    val lenScore = when(n >= 100 && n <= 5000, 1.0)
      .when(n >= 20, 0.5).otherwise(0.0)
    val punctScore = when(punctRatio <= 0.1, 1.0)
      .when(punctRatio <= 0.25, 0.5).otherwise(0.0)
    val tokScore = when(toks >= 10, 1.0).when(toks >= 3, 0.5).otherwise(0.0)
    (lenScore + punctScore + tokScore) / 3.0
  }

  /** Stopword sets per language for the n-gram/stopword language-ID
    * heuristic. Literal-char patterns so the same bytes work in Spark's
    * Java regex and the oracle's RE2. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "(^| )(the|and|of|to|in|is|that|for)( |$)",
    "es" -> "(^| )(el|la|de|que|los|las|una|por)( |$)",
    "fr" -> "(^| )(le|les|des|et|un|une|dans|est)( |$)",
    "de" -> "(^| )(der|die|das|und|ist|ein|eine|nicht)( |$)",
  )

  /** Language-ID decision given already-projected marker scores, in
    * LangMarkers priority order (ties go to the earlier language). */
  private def langIdFromScores(cjk: Column, scores: Seq[(String, Column)]): Column = {
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("score"), lit(scores.head._1).as("lang"))) {
      case (acc, (lang, score)) =>
        when(score > acc.getField("score"),
          struct(score.as("score"), lit(lang).as("lang"))).otherwise(acc)
    }
    when(cjk > 0, "zh")
      .when(best.getField("score") === 0, "und")
      .otherwise(best.getField("lang"))
  }

  /** Language-ID over a frame: CJK-script presence wins outright;
    * otherwise the language with the most stopword-marker hits (ties
    * broken by marker order).
    *
    * Two explicit projections: the regex scores land in real columns
    * first, then the decision tree reads the attributes. Folding the
    * decision over inline regexp_count expressions duplicates each
    * regex ~2^langs times per row (the CaseWhen accumulator appears in
    * both the condition and the else branch, and codegen's
    * subexpression elimination skips conditional branches) — measured
    * ~3× slower on the documents scan. CollapseProject keeps the
    * boundary because the scores are non-cheap and multiply-referenced. */
  def withLangId(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val scored = df.withColumns(Map(
      "__cjk" -> regexp_count(col(textCol), lit("[一-鿿]"))) ++
      LangMarkers.map { case (lang, pat) =>
        s"__s_$lang" -> regexp_count(lower(col(textCol)), lit(pat))
      })
    scored
      .withColumn(outCol, langIdFromScores(col("__cjk"),
        LangMarkers.map { case (lang, _) => lang -> col(s"__s_$lang") }))
      .drop("__cjk" +: LangMarkers.map { case (lang, _) => s"__s_$lang" }: _*)
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text — the canonical exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))
}
