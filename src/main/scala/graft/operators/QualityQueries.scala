package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.sketch.Sketches
import graft.text.QualitySignals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-hygiene + sketch queries for the training-data pipeline:
  * repetition-based quality filtering (the Gopher/C4 signal family), PII
  * redaction, TF-IDF term scoring, and the KMV distinct sketch.
  *
  * The documents table carries no PII, so t12 injects deterministic
  * emails/phones for doc_id % 7 = 0 (same corpus-building pattern as
  * TextQueries' dedup corpora) and the oracle builds the identical corpus
  * in SQL. */
object QualityQueries {

  /** T11: per-doc repetition signals (dup-word ratio, top-bigram mass). */
  val t11Repetition: Q = (s, dir) =>
    QualitySignals.repetition(
        Graft.table(s, dir, "documents").select("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "n_words", "dup_word_ratio", "top_bigram_ratio", "repetitive")
      .orderBy("doc_id")

  val t11RepetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents),
      |base AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ws) = 1 AND ws[1] = '' THEN CAST([] AS VARCHAR[]) ELSE ws END AS ws
      |  FROM w),
      |stats AS (
      |  SELECT doc_id, len(ws) AS n_words,
      |    CASE WHEN len(ws) > 0
      |         THEN ROUND(1 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
      |         ELSE CAST(0 AS DOUBLE) END AS dup_word_ratio
      |  FROM base),
      |bg AS (
      |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
      |  FROM base, UNNEST(range(1, len(ws))) AS t(i)
      |  WHERE len(ws) >= 2),
      |cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      |tbr AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS tbr
      |        FROM cnt GROUP BY 1)
      |SELECT s.doc_id, s.n_words, s.dup_word_ratio,
      |  COALESCE(t.tbr, CAST(0 AS DOUBLE)) AS top_bigram_ratio,
      |  (s.dup_word_ratio > 0.3 OR COALESCE(t.tbr, CAST(0 AS DOUBLE)) > 0.2) AS repetitive
      |FROM stats s LEFT JOIN tbr t USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** The PII-injected corpus shared by the Spark query and the oracle. */
  private def piiCorpus(s: SparkSession, dir: String): DataFrame =
    Graft.table(s, dir, "documents").select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" Contact: user"), col("doc_id").cast("string"),
            lit("@example.com or call +1-555-"), col("doc_id").cast("string"), lit(".")))
          .otherwise(col("text")))

  private val piiCorpusCte =
    """WITH pii AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |         THEN text || ' Contact: user' || CAST(doc_id AS VARCHAR) ||
      |              '@example.com or call +1-555-' || CAST(doc_id AS VARCHAR) || '.'
      |         ELSE text END AS text
      |  FROM documents)""".stripMargin

  /** T12: PII counting + redaction (emails, phones) over the corpus. */
  val t12PiiRedact: Q = (s, dir) =>
    QualitySignals.redactPii(piiCorpus(s, dir), "text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("redacted")).as("red_fp"))
      .orderBy("doc_id")

  val t12PiiRedactSql: String = piiCorpusCte +
    s"""
      |SELECT doc_id,
      |  len(regexp_extract_all(text, '${QualitySignals.EmailPattern}')) AS n_emails,
      |  len(regexp_extract_all(text, '${QualitySignals.PhonePattern}')) AS n_phones,
      |  md5(regexp_replace(regexp_replace(text, '${QualitySignals.EmailPattern}', '<EMAIL>', 'g'),
      |      '${QualitySignals.PhonePattern}', '<PHONE>', 'g')) AS red_fp
      |FROM pii ORDER BY doc_id""".stripMargin

  /** T34: per-source distinct-document estimation through the KMV typed
    * Aggregator ([[Sketches.KmvDistinct]] via `functions.udaf`) vs the
    * exact distinct — the grouped form of t13: map-side partial
    * aggregation moves at most k longs per source group, where
    * COUNT(DISTINCT) exchanges the whole key set. The oracle replays
    * the bottom-k per group with a row_number window. */
  val t34KmvBySource: Q = (s, dir) => {
    val kmv = udaf(new Sketches.KmvDistinct(32))
    Graft.table(s, dir, "documents")
      .select(col("source"), Sketches.hash60(col("text")).as("h"))
      .groupBy("source")
      .agg(kmv(col("h")).as("est_raw"), countDistinct(col("h")).as("n_exact"))
      .select(col("source"), col("n_exact"),
        round(col("est_raw"), 6).as("est"),
        round(abs(round(col("est_raw"), 6) - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
      .orderBy("source")
  }

  val t34KmvBySourceSql: String =
    """WITH h AS (
      |  SELECT DISTINCT source,
      |    CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
      |  FROM documents),
      |r AS (SELECT source, h,
      |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |      FROM h),
      |k AS (SELECT source, COUNT(*) AS kk, MAX(h) AS hk
      |      FROM r WHERE rn <= 32 GROUP BY source),
      |ex AS (SELECT source, COUNT(DISTINCT h) AS n_exact FROM h GROUP BY source),
      |est AS (
      |  SELECT source,
      |    ROUND(CASE WHEN kk < 32 THEN CAST(kk AS DOUBLE)
      |          ELSE CAST(31 AS DOUBLE) /
      |               (hk / CAST(1152921504606846976 AS DOUBLE)) END, 6) AS est
      |  FROM k)
      |SELECT source, n_exact, est,
      |  ROUND(ABS(est - n_exact) / n_exact, 6) AS rel_err
      |FROM est JOIN ex USING (source)
      |ORDER BY source""".stripMargin

  /** T13: KMV distinct sketch over lineitem part keys vs the exact count. */
  val t13KmvDistinct: Q = (s, dir) => {
    val li = Graft.table(s, dir, "lineitem").select("l_partkey")
    Sketches.kmvEstimate(li, col("l_partkey"), 64)
      .crossJoin(li.agg(countDistinct(col("l_partkey")).as("n_exact")))
      .select(col("k"), col("n_exact"), col("est"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 6).as("rel_err"))
  }

  val t13KmvDistinctSql: String =
    """WITH h AS (
      |  SELECT DISTINCT
      |    CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem),
      |kmin AS (SELECT h FROM h ORDER BY h LIMIT 64),
      |agg AS (SELECT COUNT(*) AS kk, MAX(h) AS hk FROM kmin),
      |ex AS (SELECT COUNT(DISTINCT l_partkey) AS n_exact FROM lineitem),
      |est AS (
      |  SELECT CAST(64 AS BIGINT) AS k, n_exact,
      |    ROUND(CASE WHEN kk < 64 THEN CAST(kk AS DOUBLE)
      |          ELSE CAST(kk - 1 AS DOUBLE) /
      |               (hk / CAST(1152921504606846976 AS DOUBLE)) END, 6) AS est
      |  FROM agg CROSS JOIN ex)
      |SELECT k, n_exact, est, ROUND(ABS(est - n_exact) / n_exact, 6) AS rel_err
      |FROM est""".stripMargin

  /** T14: TF-IDF — top-3 terms per document, ranked on the ROUNDED score
    * (cross-engine float policy) with a word tiebreak. */
  val t14Tfidf: Q = (s, dir) => {
    val docs = Graft.table(s, dir, "documents").select("doc_id", "text")
    val n = broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs")))
    val tf = docs
      .select(col("doc_id"), explode(QualitySignals.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    tf.join(dfreq, "word").crossJoin(n)
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("word"), col("score"), col("rk").cast("long").as("rk"))
      .orderBy("doc_id", "rk")
  }

  val t14TfidfSql: String =
    """WITH wd AS (
      |  SELECT doc_id, UNNEST(
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf
      |       FROM wd WHERE length(word) > 0 GROUP BY 1, 2),
      |dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
      |sc AS (
      |  SELECT doc_id, word, ROUND(tf * ln(n_docs / df), 6) AS score
      |  FROM tf JOIN dfq USING (word) CROSS JOIN n),
      |rk AS (
      |  SELECT doc_id, word, score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk
      |  FROM sc)
      |SELECT doc_id, word, score, rk FROM rk
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** T21: Count-Min heavy hitters — the corpus's top-20 words with
    * their exact counts AND the CMS point estimates (depth 4 × width
    * 1024), demonstrating the sketch's ≥-exact guarantee. The sketch
    * build never shuffles the key set (≤ depth·width cells cross the
    * wire — see sketch.Sketches.countMinCells); the exact side exists
    * only as the probe set and accuracy reference for this query. */
  val t21CmsHeavyHitters: Q = (s, dir) => {
    // The exploded word frame is a pure scan+explode (codegen'd, no
    // shuffle): recomputing it once per consumer is cheaper at scale
    // than checkpointing hundreds of millions of short strings into
    // heap blocks — the materialized form drove GC-spiked 4–59 s walls
    // at sf10 (full-GC pauses on the block store), flat ~3 s without
    // it. What IS worth materializing is the 20-row post-limit probe
    // frame, which two consumers read.
    val words = Graft.table(s, dir, "documents")
      .select(explode(QualitySignals.words(col("text"))).as("key"))
      .filter(length(col("key")) > 0)
    val cells = Sketches.countMinCells(words, col("key"), 4, 1024)
    val exact = Graft.materialize(
      words.groupBy("key").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("key")).limit(20))
    Sketches.countMinEstimate(cells, exact.select("key"), 4, 1024)
      .join(exact, "key")
      .select(col("key").as("word"), col("exact_n"), col("cms_est"))
      .orderBy(col("exact_n").desc, col("word"))
  }

  val t21CmsHeavyHittersSql: String =
    """WITH wd AS (
      |  SELECT UNNEST(
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS key
      |  FROM documents),
      |w2 AS (SELECT key FROM wd WHERE length(key) > 0),
      |h AS (SELECT key,
      |        CAST(('0x' || substring(md5(key), 1, 15)) AS BIGINT) AS h1,
      |        CAST(('0x' || substring(md5(key), 17, 14)) AS BIGINT) AS h2
      |      FROM w2),
      |cells AS (
      |  SELECT i AS row, (h1 + i * h2) % 1024 AS col, COUNT(*) AS n
      |  FROM h CROSS JOIN range(4) r(i) GROUP BY 1, 2),
      |exact AS (
      |  SELECT key, COUNT(*) AS exact_n FROM w2 GROUP BY 1
      |  ORDER BY exact_n DESC, key LIMIT 20),
      |est AS (
      |  SELECT e.key, MIN(c.n) AS cms_est
      |  FROM exact e CROSS JOIN range(4) r(i)
      |  JOIN cells c ON c.row = r.i
      |    AND c.col = (CAST(('0x' || substring(md5(e.key), 1, 15)) AS BIGINT)
      |      + r.i * CAST(('0x' || substring(md5(e.key), 17, 14)) AS BIGINT)) % 1024
      |  GROUP BY e.key)
      |SELECT e.key AS word, e.exact_n, est.cms_est
      |FROM exact e JOIN est USING (key)
      |ORDER BY exact_n DESC, word""".stripMargin

  /** T24: HyperLogLog distinct estimate over lineitem part keys, next to
    * the exact count and the same column t13's KMV sketches — the
    * register-based counter for the streaming/mergeable regime (256
    * registers = 1.3 KB state at ANY cardinality, vs KMV's k values).
    * Engine-neutral: registers derive from md5 hex text, so the oracle
    * replays them exactly (see sketch.Sketches.hllRegisters). */
  val t24HllDistinct: Q = (s, dir) => {
    val li = Graft.table(s, dir, "lineitem").select("l_partkey")
    Sketches.hllEstimate(li, col("l_partkey"), 8)
      .crossJoin(li.agg(countDistinct(col("l_partkey")).as("n_exact")))
      .select(col("m"), col("zeros"), col("n_exact"), col("est"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 6).as("rel_err"))
  }

  val t24HllDistinctSql: String =
    """WITH h AS (
      |  SELECT md5(CAST(l_partkey AS VARCHAR)) AS hx FROM lineitem),
      |parts AS (
      |  SELECT CAST(('0x' || substring(hx, 1, 2)) AS BIGINT) AS bucket,
      |         substring(hx, 3, 15) AS h15
      |  FROM h),
      |rho AS (
      |  SELECT bucket,
      |    CASE WHEN z = 15 THEN 61
      |         ELSE z * 4 +
      |           CASE WHEN nib >= 8 THEN 0 WHEN nib >= 4 THEN 1
      |                WHEN nib >= 2 THEN 2 ELSE 3 END + 1 END AS rho
      |  FROM (SELECT bucket, z,
      |          CAST(('0x' || CASE WHEN z = 15 THEN '0'
      |                             ELSE substring(h15, z + 1, 1) END) AS INT) AS nib
      |        FROM (SELECT bucket, h15,
      |                length(regexp_extract(h15, '^(0*)', 1)) AS z
      |              FROM parts))),
      |regs AS (SELECT bucket, MAX(rho) AS m_j FROM rho GROUP BY bucket),
      |agg AS (
      |  SELECT COUNT(*) AS nb,
      |         SUM(CAST(POWER(2.0, 60 - m_j) AS DECIMAL(38,0))) AS s_ne
      |  FROM regs),
      |est0 AS (
      |  SELECT CAST(256 AS BIGINT) AS m, 256 - nb AS zeros,
      |    CAST(256 - nb AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)
      |      + CAST(s_ne AS HUGEINT) AS s
      |  FROM agg),
      |est AS (
      |  SELECT m, zeros,
      |    CASE WHEN zeros > 0 AND raw <= 2.5 * 256 THEN
      |           256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
      |         ELSE raw END AS e
      |  FROM (SELECT m, zeros,
      |          0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
      |            1152921504606846976.0 / CAST(s AS DOUBLE) AS raw
      |        FROM est0)),
      |ex AS (SELECT COUNT(DISTINCT l_partkey) AS n_exact FROM lineitem)
      |SELECT m, zeros, n_exact, ROUND(e, 6) AS est,
      |       ROUND(ABS(ROUND(e, 6) - n_exact) / n_exact, 6) AS rel_err
      |FROM est CROSS JOIN ex""".stripMargin

  /** T27: per-source distinct-document estimates — one HLL sketch per
    * source next to the exact per-source distinct (the per-tenant /
    * per-crawl cardinality dashboard every corpus pipeline keeps). The
    * grouped-sketch scale shape: (source, bucket) keyed aggregation,
    * ≤ sources·256 rows moved, and each group's registers stay
    * independently mergeable across partitions. */
  val t27HllBySource: Q = (s, dir) => {
    val docs = Graft.table(s, dir, "documents")
      .select(col("source"), graft.text.TextOps.fingerprint(col("text")).as("fp"))
    val exact = docs.groupBy("source").agg(countDistinct(col("fp")).as("n_exact"))
    Sketches.hllEstimateBy(docs, col("fp"), 8, Seq("source"))
      .join(exact, "source")
      .select(col("source"), col("m"), col("zeros"), col("n_exact"), col("est"),
        round(abs(col("est") - col("n_exact")) / col("n_exact"), 6).as("rel_err"))
      .orderBy("source")
  }

  val t27HllBySourceSql: String =
    """WITH f AS (
      |  SELECT source,
      |    md5(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS hx,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |parts AS (
      |  SELECT source, fp,
      |         CAST(('0x' || substring(hx, 1, 2)) AS BIGINT) AS bucket,
      |         substring(hx, 3, 15) AS h15
      |  FROM f),
      |rho AS (
      |  SELECT source, bucket,
      |    CASE WHEN z = 15 THEN 61
      |         ELSE z * 4 +
      |           CASE WHEN nib >= 8 THEN 0 WHEN nib >= 4 THEN 1
      |                WHEN nib >= 2 THEN 2 ELSE 3 END + 1 END AS rho
      |  FROM (SELECT source, bucket, z,
      |          CAST(('0x' || CASE WHEN z = 15 THEN '0'
      |                             ELSE substring(h15, z + 1, 1) END) AS INT) AS nib
      |        FROM (SELECT source, bucket, h15,
      |                length(regexp_extract(h15, '^(0*)', 1)) AS z
      |              FROM parts))),
      |regs AS (SELECT source, bucket, MAX(rho) AS m_j FROM rho GROUP BY 1, 2),
      |agg AS (
      |  SELECT source, COUNT(*) AS nb,
      |         SUM(CAST(POWER(2.0, 60 - m_j) AS DECIMAL(38,0))) AS s_ne
      |  FROM regs GROUP BY source),
      |est0 AS (
      |  SELECT source, CAST(256 AS BIGINT) AS m, 256 - nb AS zeros,
      |    CAST(256 - nb AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)
      |      + CAST(s_ne AS HUGEINT) AS s
      |  FROM agg),
      |est AS (
      |  SELECT source, m, zeros,
      |    CASE WHEN zeros > 0 AND raw <= 2.5 * 256 THEN
      |           256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
      |         ELSE raw END AS e
      |  FROM (SELECT source, m, zeros,
      |          0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
      |            1152921504606846976.0 / CAST(s AS DOUBLE) AS raw
      |        FROM est0)),
      |ex AS (SELECT source, COUNT(DISTINCT fp) AS n_exact FROM f GROUP BY source)
      |SELECT est.source, m, zeros, n_exact, ROUND(e, 6) AS est,
      |       ROUND(ABS(ROUND(e, 6) - n_exact) / n_exact, 6) AS rel_err
      |FROM est JOIN ex ON ex.source = est.source
      |ORDER BY est.source""".stripMargin

  /** The fixed stopword set shared by the Spark query and the oracle. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** T28: stopword-ratio quality signal — the share of stopword
    * occurrences among a doc's words (C4/Gopher-style: natural prose
    * sits in a band; ~0 means keyword soup, ~1 means filler). Pure
    * per-row higher-order-function math on the words array, no
    * explode/shuffle at all until the final sort. */
  val t28StopwordRatio: Q = (s, dir) => {
    val ws = QualitySignals.words(col("text"))
    val clean = filter(ws, w => length(w) > 0)
    val nStop = size(filter(clean, w => w.isInCollection(Stopwords)))
    Graft.table(s, dir, "documents")
      .select(col("doc_id"),
        size(clean).cast("long").as("n_words"),
        nStop.cast("long").as("n_stop"),
        round(when(size(clean) > 0,
          nStop.cast("double") / size(clean)).otherwise(0.0), 6).as("stop_ratio"))
      .orderBy("doc_id")
  }

  val t28StopwordRatioSql: String = {
    val set = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    len(list_filter(ws, x -> length(x) > 0)) AS n_words,
       |    len(list_filter(ws, x -> x IN ($set))) AS n_stop
       |  FROM w)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_stop AS BIGINT) AS n_stop,
       |  ROUND(CASE WHEN n_words > 0
       |             THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END, 6) AS stop_ratio
       |FROM c ORDER BY doc_id""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "t28_stopword_ratio" -> t28StopwordRatio,
    "t27_hll_by_source" -> t27HllBySource,
    "t11_repetition" -> t11Repetition,
    "t12_pii_redact" -> t12PiiRedact,
    "t13_kmv_distinct" -> t13KmvDistinct,
    "t34_kmv_by_source" -> t34KmvBySource,
    "t14_tfidf" -> t14Tfidf,
    "t21_cms_heavy_hitters" -> t21CmsHeavyHitters,
    "t24_hll_distinct" -> t24HllDistinct,
  )

  def oracle: Map[String, String] = Map(
    "t28_stopword_ratio" -> t28StopwordRatioSql,
    "t27_hll_by_source" -> t27HllBySourceSql,
    "t11_repetition" -> t11RepetitionSql,
    "t12_pii_redact" -> t12PiiRedactSql,
    "t13_kmv_distinct" -> t13KmvDistinctSql,
    "t34_kmv_by_source" -> t34KmvBySourceSql,
    "t14_tfidf" -> t14TfidfSql,
    "t21_cms_heavy_hitters" -> t21CmsHeavyHittersSql,
    "t24_hll_distinct" -> t24HllDistinctSql,
  )
}
