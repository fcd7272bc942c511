package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-hygiene signals for training-data pipelines: repetition
  * measures (the Gopher/C4 family of quality filters) and PII redaction.
  *
  * Scale shape: repetition is one explode + one (doc, bigram) keyed
  * aggregation + one doc-keyed roll-up — no global state, no window over
  * the whole corpus; PII redaction is a pure per-row projection
  * (codegen'd regexp), so both scan-parallelize arbitrarily.
  */
object QualitySignals {

  /** The one corpus word normalization (dedup.Dedup and the text
    * queries use it too): lowercase, trim, whitespace → single space,
    * split on space. [[TextOps.fingerprint]] is md5 of the same text
    * before the split. */
  def words(text: Column): Column =
    split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")

  /** Per-doc repetition signals over (idCol, textCol):
    *  - n_words, dup_word_ratio = 1 − distinct/total words
    *  - top_bigram_ratio = occurrences of the most frequent word bigram /
    *    total bigram occurrences (multiplicity counted, unlike shingles)
    *  - repetitive = either ratio past its threshold.
    * Docs with < 2 words get 0.0 ratios (nothing to repeat). */
  def repetition(df: DataFrame, idCol: String, textCol: String,
                 dupWordMax: Double = 0.3, topBigramMax: Double = 0.2): DataFrame = {
    // Materialize the split as a real column FIRST (same trap as
    // Dedup.shingles): anything referenced inside the transform lambda
    // must be an attribute, or it re-evaluates per array element — and a
    // multiply-referenced inline split also balloons the generated code
    // (measured ~16 s of first-run Janino/JIT on 5k docs).
    val base = df
      .withColumn("__ws", words(col(textCol)))
      .select(col(idCol), col("__ws").as("ws"),
        // empty text normalizes to [""] — count it as 0 words
        when(size(col("__ws")) === 1 && element_at(col("__ws"), 1) === "", lit(0))
          .otherwise(size(col("__ws"))).as("nw"))
    val wordStats = base.select(col(idCol),
      col("nw").cast("long").as("n_words"),
      when(col("nw") > 0,
        round(lit(1.0) - size(array_distinct(col("ws"))).cast("double") / col("nw"), 6))
        .otherwise(lit(0.0)).as("dup_word_ratio"))
    val idxs = when(col("nw") >= 2, sequence(lit(1), col("nw") - 1))
      .otherwise(array().cast("array<int>"))
    val bigrams = base.select(col(idCol),
        explode(transform(idxs, i =>
          concat(element_at(col("ws"), i), lit(" "), element_at(col("ws"), i + 1))))
          .as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_bigram_ratio"))
    wordStats.join(bigrams, Seq(idCol), "left")
      .withColumn("top_bigram_ratio", coalesce(col("top_bigram_ratio"), lit(0.0)))
      .withColumn("repetitive",
        col("dup_word_ratio") > dupWordMax || col("top_bigram_ratio") > topBigramMax)
  }

  /** Conservative PII patterns (email, international-prefix phone). Both
    * are RE2/Java-regex-compatible so oracles replay them verbatim. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]+"

  /** Count + redact PII: adds n_emails, n_phones, and textCol redacted to
    * `<EMAIL>` / `<PHONE>` as `redacted`. */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailPattern)).cast("long"))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhonePattern)).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"))
}
