package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.dedup.Dedup
import graft.operators.CoreQueries.q6
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication queries over `documents` (driver
  * north-star operators). The testdata has no duplicate texts, so the
  * dedup corpora append deterministic copies: exact dups (trailing
  * whitespace, normalized away by the fingerprint) and near-dups (last
  * word dropped) for every doc_id % 5 = 0 — the oracle builds the same
  * corpus in SQL. */
object TextQueries {

  /** documents ∪ exact dups (+100000) ∪ near dups (+200000). The fixed
    * offsets are guarded at runtime (collision with real ids fails
    * loudly — see [[Graft.assertDisjointIds]]). */
  def corpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Graft.table(s, dir, "documents").select("doc_id", "text")
    val fifth = docs.filter(col("doc_id") % 5 === 0)
    Graft.assertDisjointIds(docs,
      fifth.select((col("doc_id") + 100000).as("doc_id"))
        .unionByName(fifth.select((col("doc_id") + 200000).as("doc_id"))),
      dir, "TextQueries.corpus")
    docs
      .unionByName(fifth.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit("  ")).as("text")))
      .unionByName(fifth.select((col("doc_id") + 200000).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+\\s*$", "").as("text")))
  }

  private val corpusCte =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text || '  ' AS text
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id,
      |         regexp_replace(text, '\s+\S+\s*$', '') AS text
      |  FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  /** The near-dup eval corpus: every document, plus a stripped-suffix
    * twin (id + 200000) of every fifth document. Emitted from ONE scan
    * via a generator rather than a union of two scans of the same
    * table: the union form read the parquet twice AND scheduled both
    * branches' tasks into one stage with ~5× different per-task work
    * (the full-corpus branch explodes ~5× the rows of the fifth-slice
    * branch over the same file splits) — read by the r13 scale probe
    * as a structural 5-15× max/median task-time "straggler" on every
    * shingle consumer's scan stage at F=1000. One generator pass makes
    * per-task work uniform and halves the scan I/O; the row set is
    * identical (nearCorpusCte mirrors it as the equivalent UNION ALL,
    * which DuckDB happily runs twice over its own scan). */
  private def nearCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Graft.table(s, dir, "documents").select("doc_id", "text")
    Graft.assertDisjointIds(docs,
      docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 200000).as("doc_id")),
      dir, "TextQueries.nearCorpus")
    val self = struct(col("doc_id"), col("text"))
    val twin = struct((col("doc_id") + 200000).as("doc_id"),
      regexp_replace(col("text"), "\\s+\\S+\\s*$", "").as("text"))
    docs.select(explode(when(col("doc_id") % 5 === 0, array(self, twin))
        .otherwise(array(self))).as("__r"))
      .select(col("__r.doc_id").as("doc_id"), col("__r.text").as("text"))
  }

  private val nearCorpusCte =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id,
      |         regexp_replace(text, '\s+\S+\s*$', '') AS text
      |  FROM documents WHERE doc_id % 5 = 0)""".stripMargin

  /** T1: whitespace token counting. */
  val t1TokenCount: Q = (s, dir) =>
    Graft.table(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  val t1TokenCountSql: String =
    """SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** T2: quality scoring (length band, punctuation sanity, token count). */
  val t2Quality: Q = (s, dir) =>
    Graft.table(s, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(TextOps.punctCount(col("text")).cast("double") /
          greatest(length(col("text")), lit(1)), 6).as("punct_ratio"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
      .orderBy("doc_id")

  val t2QualitySql: String =
    """WITH t AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
      |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct
      |  FROM documents)
      |SELECT doc_id, n AS n_chars, toks AS n_tokens,
      |  ROUND(CAST(punct AS DOUBLE) / GREATEST(n, 1), 6) AS punct_ratio,
      |  ROUND((
      |    (CASE WHEN n >= 100 AND n <= 5000 THEN 1.0 WHEN n >= 20 THEN 0.5 ELSE 0.0 END) +
      |    (CASE WHEN CAST(punct AS DOUBLE) / GREATEST(n, 1) <= 0.1 THEN 1.0
      |          WHEN CAST(punct AS DOUBLE) / GREATEST(n, 1) <= 0.25 THEN 0.5 ELSE 0.0 END) +
      |    (CASE WHEN toks >= 10 THEN 1.0 WHEN toks >= 3 THEN 0.5 ELSE 0.0 END)
      |  ) / 3.0, 6) AS quality
      |FROM t ORDER BY doc_id""".stripMargin

  /** T3: language-ID heuristic vs the labeled lang column. */
  val t3LangId: Q = (s, dir) =>
    TextOps.withLangId(Graft.table(s, dir, "documents"), "text", "lang_pred")
      .select(col("doc_id"), col("lang"), col("lang_pred"))
      .orderBy("doc_id")

  /** Unordered body of the language-ID prediction — shared verbatim by
    * [[t3LangIdSql]] (which appends the ORDER BY) and [[t20LangidEvalSql]]
    * (which nests it as a CTE), so a rewording can never silently break
    * the derived oracle. */
  private val langIdBodySql: String = {
    val scores = TextOps.LangMarkers.map { case (lang, pat) =>
      s"len(regexp_extract_all(lower(text), '$pat')) AS s_$lang"
    }.mkString(",\n      |    ")
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    len(regexp_extract_all(text, '[一-鿿]')) AS s_zh,
       |    $scores
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CASE WHEN s_zh > 0 THEN 'zh'
       |       WHEN GREATEST(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
       |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
       |       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
       |       WHEN s_fr >= s_de THEN 'fr'
       |       ELSE 'de' END AS lang_pred
       |FROM t""".stripMargin
  }

  val t3LangIdSql: String = langIdBodySql + "\nORDER BY doc_id"

  /** T20: language-ID evaluation — the confusion matrix of [[t3LangId]]'s
    * heuristic against the labeled lang column, plus per-true-language
    * accuracy. The model-evaluation shape every classifier pipeline
    * needs: one keyed aggregation over (truth, prediction) cells. */
  val t20LangidEval: Q = (s, dir) =>
    TextOps.withLangId(Graft.table(s, dir, "documents"), "text", "lang_pred")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .withColumn("share",
        q6(col("n").cast("double") / col("lang_total")))
      .select("lang", "lang_pred", "n", "share")
      .orderBy("lang", "lang_pred")

  val t20LangidEvalSql: String = {
    s"""WITH pred AS (
       |$langIdBodySql
       |),
       |cells AS (
       |  SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2)
       |SELECT lang, lang_pred, n,
       |  FLOOR(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang) * 1e6 + 0.5) / 1e6 AS share
       |FROM cells ORDER BY lang, lang_pred""".stripMargin
  }

  /** T4: normalized-text fingerprint. */
  val t4Fingerprint: Q = (s, dir) =>
    Graft.table(s, dir, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  val t4FingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** D1: exact dedup over the corpus — groups with >1 member. */
  val d1ExactDedup: Q = (s, dir) =>
    Dedup.exact(corpus(s, dir))
      .filter(col("n_dups") > 1)
      .select("fp", "keeper", "n_dups")
      .orderBy("keeper")

  val d1ExactDedupSql: String = corpusCte +
    """
      |SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |       MIN(doc_id) AS keeper, COUNT(*) AS n_dups
      |FROM corpus
      |GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY keeper""".stripMargin

  /** D10: word-level edit-distance ≤ 1 near-dup pairs over the
    * printable-ASCII corpus slice (so both engines count identical
    * characters in the Levenshtein), via
    * [[graft.dedup.Dedup.deletionNeighborPairs]] — the fourth near-dup
    * modality next to d2 (MinHash estimate), d3 (SimHash hamming), d4
    * (exact Jaccard): exact token-edit semantics with keyed-equi-join
    * candidates. Each pair carries the character-level Levenshtein
    * distance of the normalized texts, joined back by id so the
    * signature shuffle moves only (id, hash). */
  val d10EditNeighbors: Q = (s, dir) => {
    val docs = nearCorpus(s, dir).filter(col("text").rlike("^[ -~]*$"))
    val norm = docs.select(col("doc_id"),
      regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
    // Levenshtein is O(len²) per PAIR while the pair set under
    // duplication grows as dup², so the distance attaches at REP level
    // (members of a collapse group share the exact text, hence the
    // exact normalized text and distance) — once per distinct text
    // pair, with equal-text rep self-pairs short-circuiting to 0 —
    // and the expansion carries it. Same cells as a per-pair sweep.
    val (repPairs, mem) =
      graft.dedup.Dedup.deletionNeighborPairsCollapsed(docs)
    val scored = repPairs
      .join(norm.select(col("doc_id").as("doc_a"), col("norm").as("na")), "doc_a")
      .join(norm.select(col("doc_id").as("doc_b"), col("norm").as("nb")), "doc_b")
      .withColumn("char_lev", when(col("doc_a") === col("doc_b"), lit(0L))
        .otherwise(levenshtein(col("na"), col("nb")).cast("long")))
      .select(col("doc_a"), col("doc_b"), col("char_lev"))
    graft.dedup.ExactCollapse.expand(scored, mem, "doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  /** The oracle replays the identical O(len) windowed scheme: powers
    * via a linear recursive CTE, position weights, prefix/total window
    * sums, and the same D_i = B⁻¹·pre + (tot − pre − W_i) identity with
    * the same inverse constants. */
  val d10EditNeighborsSql: String =
    nearCorpusCte.replace("WITH ", "WITH RECURSIVE ") +
    """,
      |ascii_docs AS (
      |  SELECT doc_id, text FROM corpus WHERE regexp_matches(text, '^[ -~]*$')),
      |nw AS (SELECT doc_id,
      |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |       FROM ascii_docs),
      |wl AS (SELECT doc_id, norm, string_split(norm, ' ') AS l FROM nw
      |       WHERE len(string_split(norm, ' ')) <= 4096),
      |pows AS (
      |  SELECT 0 AS k, CAST(1 AS BIGINT) AS p31, CAST(1 AS BIGINT) AS p131
      |  UNION ALL
      |  SELECT k + 1, (p31 * 31) % 1000000007, (p131 * 131) % 1000000007
      |  FROM pows WHERE k < (SELECT COALESCE(MAX(len(l)), 0) FROM wl)),
      |wr AS (
      |  SELECT doc_id, len(l) AS n, j,
      |    CAST(('0x' || substring(md5(l[j]), 1, 15)) AS BIGINT) % 1000000007 AS wh
      |  FROM wl, UNNEST(range(1, len(l) + 1)) AS t(j)),
      |ww AS (
      |  SELECT r.doc_id, r.j,
      |    (r.wh * p.p31) % 1000000007 AS w1, (r.wh * p.p131) % 1000000007 AS w2
      |  FROM wr r JOIN pows p ON p.k = r.n - r.j),
      |sums AS (
      |  SELECT doc_id, j, w1, w2,
      |    COALESCE(SUM(w1) OVER pre, 0) AS pre1, SUM(w1) OVER tot AS tot1,
      |    COALESCE(SUM(w2) OVER pre, 0) AS pre2, SUM(w2) OVER tot AS tot2
      |  FROM ww
      |  WINDOW pre AS (PARTITION BY doc_id ORDER BY j
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |         tot AS (PARTITION BY doc_id)),
      |sig AS (
      |  SELECT doc_id,
      |    ((pre1 % 1000000007) * 129032259 % 1000000007
      |      + (((tot1 - pre1 - w1) % 1000000007) + 1000000007) % 1000000007)
      |      % 1000000007 AS s1,
      |    ((pre2 % 1000000007) * 190839696 % 1000000007
      |      + (((tot2 - pre2 - w2) % 1000000007) + 1000000007) % 1000000007)
      |      % 1000000007 AS s2
      |  FROM sums
      |  UNION ALL
      |  SELECT doc_id, tot1 % 1000000007, tot2 % 1000000007 FROM sums WHERE j = 1),
      |p AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sig a JOIN sig b ON a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |  CAST(levenshtein(wa.norm, wb.norm) AS BIGINT) AS char_lev
      |FROM p JOIN nw wa ON wa.doc_id = doc_a JOIN nw wb ON wb.doc_id = doc_b
      |ORDER BY doc_a, doc_b""".stripMargin

  /** D4: exact 3-gram Jaccard near-dup pairs (threshold 0.5), with the
    * hot-shingle document-frequency cap ACTIVE (maxDf=50): shingles in
    * more than 50 docs are dropped before the pair self-join — the skew
    * guard that keeps the join bounded on a stopword-heavy corpus (see
    * Dedup.ngramJaccard). The oracle applies the identical cap. */
  val d4NgramJaccard: Q = (s, dir) =>
    Dedup.ngramJaccard(nearCorpus(s, dir), 3, 0.5, maxDf = 50)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** D12: incremental-ingestion novelty — per document, the share of its
    * distinct 3-shingles whose FIRST corpus occurrence (min doc_id) is
    * this document: ~1.0 means genuinely new content, ~0.0 means the doc
    * is recombined from already-seen text. The pre-dedup signal a
    * training pipeline uses to triage an incoming batch before paying
    * for pairwise near-dup. Scale shape: aggregations ONLY, no
    * shingle-keyed join — n_novel(d) = |{shingles whose min doc_id is
    * d}| is a count over the min-aggregate's OUTPUT, so the whole
    * query is three partial-agg-bounded exchanges (doc-keyed size
    * count; shingle-keyed min, where a Zipf-hot shingle contributes
    * ≤ one partial row per map partition; doc-keyed novel count) plus
    * one per-doc equi-join of two doc-count frames. The previous
    * shape joined the raw shingle frame back to the min-aggregate on
    * the SHINGLE key — at probe F=1000 the hottest shingles sit in
    * ~every one of 7.2 M docs, and that exchange carried a 13.1×
    * straggler with 2.3 GB of spill; this form has no exchange a hot
    * shingle can concentrate. Identical rows: the old join only ever
    * fed COUNT(*) and COUNT(first_doc = doc_id) per doc. */
  val d12Novelty: Q = (s, dir) => {
    val sh = Dedup.shingles(nearCorpus(s, dir), 3)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val novel = sh.groupBy("shingle").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    sizes.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        q6(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_shingles"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  val d12NoveltySql: String = nearCorpusCte +
    """,
      |w AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |      FROM corpus),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
      |       WHERE len(ws) >= 3 AND length(ws[i] || ws[i+1] || ws[i+2]) > 0),
      |f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
      |SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  floor(CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*) * 1e6 + 0.5) / 1e6 AS novelty
      |FROM sh JOIN f USING (shingle)
      |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  val d4NgramJaccardSql: String = nearCorpusCte +
    """,
      |w AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |      FROM corpus),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
      |       WHERE len(ws) >= 3 AND length(ws[i] || ws[i+1] || ws[i+2]) > 0),
      |keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 50),
      |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** T40: sorted-neighborhood blocking quality — d13's SNM candidate
    * pairs scored against d4's exact Jaccard≥0.5 ground truth on the
    * SAME derived corpus: precision (how many candidates are real
    * near-dups) and recall (how many real near-dups the prefix
    * blocking surfaces). Completes the eval triplet (d9 scores LSH
    * banding, v10 scores IVF retrieval, t40 scores SNM) — the
    * measurements that justify each blocking strategy's thresholds at
    * scale. Pure set arithmetic on normalized (min,max) pairs; ratios
    * are single divisions of exact counts. */
  val t40SnmEval: Q = (s, dir) => {
    // Materialize the derived corpus ONCE: both the truth side (shingle
    // Jaccard) and the candidate side (SNM prefix blocking) consume it,
    // and each then materializes its own pair set — without this the
    // union+regex normalization ran twice end-to-end.
    val corpus = Graft.materialize(nearCorpus(s, dir))
    val truth = Graft.materialize(
      Dedup.ngramJaccard(corpus, 3, 0.5, maxDf = 50)
        .select(col("doc_a"), col("doc_b")))
    val cand = Graft.materialize(
      graft.operators.LedgerQueries.snmPairs(corpus)
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct())
    val tp = cand.join(truth, Seq("doc_a", "doc_b")).count()
    val nc = cand.count(); val nt = truth.count()
    val one = s.range(1).toDF("one")
    one.select(
      lit(nc).as("n_candidates"), lit(nt).as("n_truth"), lit(tp).as("n_hit"),
      q6(lit(tp).cast("double") / lit(nc)).as("precision"),
      q6(lit(tp).cast("double") / lit(nt)).as("recall"))
  }

  val t40SnmEvalSql: String = nearCorpusCte +
    """,
      |w AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |      FROM corpus),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
      |       WHERE len(ws) >= 3 AND length(ws[i] || ws[i+1] || ws[i+2]) > 0),
      |keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 50),
      |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
      |keyed AS (
      |  SELECT doc_id,
      |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 32) AS k
      |  FROM corpus),
      |n AS (
      |  SELECT doc_id, k,
      |    lead(doc_id, 1) OVER sw AS id1, lead(k, 1) OVER sw AS k1,
      |    lead(doc_id, 2) OVER sw AS id2, lead(k, 2) OVER sw AS k2
      |  FROM keyed WINDOW sw AS (ORDER BY k, doc_id)),
      |p AS (
      |  SELECT doc_id AS a, id1 AS b, k, k1 AS kb FROM n WHERE id1 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, id2, k, k2 FROM n WHERE id2 IS NOT NULL),
      |cand AS (
      |  SELECT DISTINCT LEAST(a, b) AS doc_a, GREATEST(a, b) AS doc_b
      |  FROM p WHERE substring(k, 1, 16) = substring(kb, 1, 16)),
      |m AS (
      |  SELECT
      |    (SELECT COUNT(*) FROM cand) AS nc,
      |    (SELECT COUNT(*) FROM truth) AS nt,
      |    (SELECT COUNT(*) FROM cand JOIN truth USING (doc_a, doc_b)) AS tp)
      |SELECT CAST(nc AS BIGINT) AS n_candidates, CAST(nt AS BIGINT) AS n_truth,
      |  CAST(tp AS BIGINT) AS n_hit,
      |  floor(CAST(tp AS DOUBLE) / nc * 1e6 + 0.5) / 1e6 AS precision,
      |  floor(CAST(tp AS DOUBLE) / nt * 1e6 + 0.5) / 1e6 AS recall
      |FROM m""".stripMargin

  /** D1b: apply the dedup — the surviving corpus (keepers only). */
  val d1DedupApply: Q = (s, dir) => {
    val c = corpus(s, dir)
    Dedup.exact(c)
      .select(col("keeper").as("doc_id"))
      .orderBy("doc_id")
  }

  val d1DedupApplySql: String = corpusCte +
    """
      |SELECT MIN(doc_id) AS doc_id
      |FROM corpus
      |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |ORDER BY doc_id""".stripMargin

  /** D2: MinHash (16 hashes) + LSH (4 bands × 4) candidate pairs with
    * estimated Jaccard ≥ 0.5. The query uses the md5-derived hash family
    * (engine-neutral) so the full pipeline is oracle-checkable; the
    * xxhash64 family stays the library default for scale. */
  /** Shared MinHash-LSH near-dup pair pipeline (md5 family, 16 hashes,
    * 4×4 bands, est-Jaccard ≥ 0.5) — the candidate generator for both
    * d2's pair listing and d6's cluster building. */
  /** Text-collapsed nearCorpus: (shingles of the REP docs, (__rep,
    * __member) membership). Every dedup-family query starts here so the
    * per-shingle work (explode, 16 md5 minhash lanes, set keys) scales
    * with unique text, not corpus size — the clone-heavy crawl shape. */
  private def nearCorpusCollapsed(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (reps, mem) = Dedup.textCollapse(nearCorpus(s, dir))
    (Graft.materialize(Dedup.shingles(reps, 3)), Graft.materialize(mem))
  }

  private def lshPairs(s: SparkSession, dir: String): DataFrame = {
    val (repSh, textMem) = nearCorpusCollapsed(s, dir)
    val (repPairs, mem) = lshPairsCollapsed(repSh, textMem)
    graft.dedup.ExactCollapse.expand(repPairs, mem, "doc_a", "doc_b")
  }

  /** Collapsed form of the MinHash-LSH pipeline over a text-collapsed
    * corpus ([[nearCorpusCollapsed]]): (rep-level pairs, membership
    * composed down to original doc ids). Consumers that only need the
    * pair LIST expand immediately ([[lshPairs]]); the cluster consumers
    * (d6/d11) run connected components on the REP graph first and
    * expand labels afterwards — identical clusters, because every
    * member's label is its rep's label and a cluster's min doc_id IS the
    * min over its reps (each rep is the min of its group). */
  private def lshPairsCollapsed(repSh: DataFrame, textMem: DataFrame): (DataFrame, DataFrame) = {
    // the signature frame feeds four join branches — materialize it once
    // (S7 cache operator) instead of recomputing the shingle groupBy 4×;
    // localCheckpoint so the blocks don't outlive the query.
    val sigsAll = Dedup.minhashMd5(repSh, 16)
    // Second exact-dup collapse (Dedup.ExactCollapse) keyed on the
    // SIGNATURE: band buckets and est-Jaccard are functions of
    // (h0..h15) alone, so signature-identical reps (different text,
    // same minhash lanes) run the candidate join once; self-pairs score
    // through the same signature join (estimate 16/16 = 1.0 exactly).
    val tagged = graft.dedup.ExactCollapse.tag(
      sigsAll, "doc_id", (0 until 16).map(i => col(s"h$i")))
    val sigs = Graft.materialize(graft.dedup.ExactCollapse.reps(tagged, "doc_id"))
    val mem = graft.dedup.ExactCollapse.members(tagged, "doc_id")
      .select(col("__rep"), col("__member").as("__mid"))
      .join(textMem.select(col("__rep").as("__mid"), col("__member")), "__mid")
      .select(col("__rep"), col("__member"))
    val cands = Dedup.minhashCandidates(sigs, 4, 4)
      .unionByName(graft.dedup.ExactCollapse.dupSelfPairs(mem, "doc_a", "doc_b"))
    val repPairs = Dedup.minhashJaccard(sigs, cands, 16)
      .filter(col("jaccard_est") >= 0.5)
    (repPairs, mem)
  }

  /** (node, label) duplicate-cluster assignment over the LSH pair graph,
    * one row per doc appearing in any pair — CC on the rep graph +
    * label expansion to members. */
  private def lshClusters(s: SparkSession, dir: String): DataFrame = {
    val (repSh, textMem) = nearCorpusCollapsed(s, dir)
    val (repPairs, mem) = lshPairsCollapsed(repSh, textMem)
    Dedup.connectedComponents(repPairs)
      .join(mem, col("node") === col("__rep"))
      .select(col("__member").as("node"), col("label"))
  }

  val d2MinhashLsh: Q = (s, dir) =>
    lshPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard_est"), 6).as("jaccard_est"))
      .orderBy("doc_a", "doc_b")

  /** Oracle for D2: same shingles as d4, 16 min-hashes from the
    * md5-derived 2-universal family (h1 + i·h2), band match = all 4
    * hashes of any band agree (bucket-hash equality in the engine ≡
    * tuple equality here), estimate = agreeing fraction. The O(n²)
    * signature pair join is fine at oracle scale; the engine side only
    * ever joins within buckets. */
  /** Shared oracle CTE chain for the MinHash-LSH pipeline: shingles →
    * md5-family signatures → banded candidates → `lshp(doc_a, doc_b,
    * est)` pairs with est-Jaccard ≥ 0.5 (mirrors [[lshPairs]]). */
  private val lshPairsCte: String = {
    val agree = (1 to 16).map(i => s"CASE WHEN ha[$i]=hb[$i] THEN 1 ELSE 0 END")
      .mkString(" + ")
    val bands = (0 until 4).map { b =>
      (1 to 4).map(j => s"ha[${4 * b + j}]=hb[${4 * b + j}]").mkString("(", " AND ", ")")
    }.mkString("\n      |     OR ")
    s""",
      |w AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      |      FROM corpus),
      |sh AS MATERIALIZED (
      |       SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
      |       WHERE len(ws) >= 3 AND length(ws[i] || ws[i+1] || ws[i+2]) > 0),
      |hb AS (SELECT doc_id,
      |         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |         CAST(('0x' || substring(md5(shingle), 17, 14)) AS BIGINT) AS h2
      |       FROM sh),
      |mh AS (SELECT doc_id, i, MIN(h1 + i * h2) AS h
      |       FROM hb CROSS JOIN range(16) AS r(i) GROUP BY doc_id, i),
      |sig AS MATERIALIZED (
      |  SELECT doc_id, list(h ORDER BY i) AS hs FROM mh GROUP BY doc_id),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hs AS ha, b.hs AS hb
      |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |  WHERE $bands),
      |lshp AS MATERIALIZED (
      |  SELECT doc_a, doc_b, ($agree) / 16.0 AS est
      |  FROM cand WHERE ($agree) / 16.0 >= 0.5)""".stripMargin
  }

  val d2MinhashLshSql: String = nearCorpusCte + lshPairsCte +
    """
      |SELECT doc_a, doc_b, ROUND(est, 6) AS jaccard_est
      |FROM lshp
      |ORDER BY doc_a, doc_b""".stripMargin

  /** D3: SimHash near-dup pairs (hamming ≤ 8) — md5-derived word hashes
    * (engine-neutral) so signatures, bands, and hamming distances are
    * oracle-checkable; the Murmur3 kernel stays the library default. */
  val d3Simhash: Q = (s, dir) =>
    Dedup.simhashPairs(Dedup.simhashMd5(nearCorpus(s, dir)), 8)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")

  /** Oracle for D3: per-word 64-bit md5 hash → ±1 bit votes → sign bits
    * → 4×16-bit band match → exact hamming filter. Docs with no words
    * get signature 0 via the corpus left join (the kernel does too). */
  val d3SimhashSql: String = {
    val bandMatch = (0 until 4).map(b =>
      s"((sa >> ${b * 16}) & 65535) = ((sb >> ${b * 16}) & 65535)")
      .mkString("\n      |     OR ")
    nearCorpusCte +
      s""",
        |wd AS (SELECT doc_id, UNNEST(
        |         regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
        |       FROM corpus),
        |h AS (SELECT doc_id, CAST(('0x' || substring(md5(word), 1, 16)) AS UBIGINT) AS hw
        |      FROM wd WHERE length(word) > 0),
        |bits AS (SELECT doc_id, b,
        |           SUM(CASE WHEN (hw >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |         FROM h CROSS JOIN range(64) AS r(b) GROUP BY doc_id, b),
        |sig0 AS (SELECT doc_id, bit_or(CAST(1 AS UBIGINT) << b) FILTER (WHERE c > 0) AS s
        |         FROM bits GROUP BY doc_id),
        |sig AS (SELECT c.doc_id, COALESCE(s0.s, CAST(0 AS UBIGINT)) AS s
        |        FROM corpus c LEFT JOIN sig0 s0 ON s0.doc_id = c.doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |  WHERE $bandMatch)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM pairs WHERE bit_count(xor(sa, sb)) <= 8
        |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** T6: deterministic per-group sampling — keep k docs per lang, chosen
    * by md5(doc_id) order (engine-independent "random"). The pipeline op
    * for building balanced training subsets at scale: one window per
    * group key, no global shuffle. */
  val t6GroupSample: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Graft.table(s, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("doc_id"), col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  val t6GroupSampleSql: String =
    """SELECT lang, doc_id, rk FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10
      |ORDER BY lang, rk""".stripMargin

  /** G1: triangle count over the near-dup similarity graph — how cliquey
    * the duplicate structure is (triangles = sets of three mutually
    * similar docs). Edges are d4's Jaccard pairs — including d4's
    * maxDf=50 hot-shingle cap, so the graph is exactly d4's pair set
    * and the pair-generating self-join stays skew-bounded; see
    * [[graft.dedup.Dedup.triangleCount]] for the join shape. */
  val g1TriangleCount: Q = (s, dir) =>
    Dedup.triangleCount(Dedup.ngramJaccard(nearCorpus(s, dir), 3, 0.5, maxDf = 50))

  val g1TriangleCountSql: String = nearCorpusCte +
    """,
      |w AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |      FROM corpus),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
      |       WHERE len(ws) >= 3 AND length(ws[i] || ws[i+1] || ws[i+2]) > 0),
      |keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 50),
      |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)
      |SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
      |       (SELECT COUNT(*)
      |        FROM pairs ab
      |        JOIN pairs bc ON ab.doc_b = bc.doc_a
      |        JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b) AS n_triangles""".stripMargin

  /** D6: near-dup pairs → duplicate clusters (connected components via
    * min-label propagation; the oracle replays the closure as a
    * recursive CTE). Every member maps to its cluster = the smallest
    * doc_id transitively reachable.
    *
    * Edges come from the MinHash-LSH candidate pipeline ([[lshPairs]] =
    * d2's pair set), NOT the exact shingle self-join: candidate
    * generation is the dominant cost at corpus scale, and the banded
    * signature join moves O(docs·bands) rows where the exact join moves
    * O(docs·shingles) — the same dedup decision both stages serve. */
  val d6DupClusters: Q = (s, dir) =>
    lshClusters(s, dir)
      .select(col("node").as("doc_id"), col("label").as("cluster"))
      .orderBy("doc_id")

  val d6DupClustersSql: String =
    nearCorpusCte.replace("WITH ", "WITH RECURSIVE ") + lshPairsCte +
    """,
      |sym AS (SELECT doc_a AS src, doc_b AS dst FROM lshp
      |        UNION ALL SELECT doc_b, doc_a FROM lshp),
      |reach AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN sym e ON e.src = r.dst
      |)
      |SELECT node AS doc_id, MIN(lbl) AS cluster FROM (
      |  SELECT src AS node, dst AS lbl FROM reach
      |  UNION ALL
      |  SELECT DISTINCT src AS node, src AS lbl FROM sym)
      |GROUP BY node
      |ORDER BY doc_id""".stripMargin

  /** D11: near-dup APPLY with quality-based keeper selection — the
    * production end of the dedup pipeline: MinHash-LSH pairs → d6's
    * clusters → keep the HIGHEST-QUALITY member of each cluster (t2's
    * quality score, min doc_id tiebreak); unclustered docs survive as
    * their own keeper. Contrast d1b, which applies EXACT dedup with a
    * min-id keeper — at corpus scale the near-dup keeper must be
    * quality-ranked or dedup silently prefers whichever near-copy has
    * the smallest id. One row_number window over the cluster key. */
  val d11KeeperApply: Q = (s, dir) => {
    val docs = nearCorpus(s, dir)
    val q = docs.select(col("doc_id"),
      round(TextOps.qualityScore(col("text")), 6).as("quality"))
    val cl = lshClusters(s, dir)
    val labeled = q.join(cl, q("doc_id") === cl("node"), "left")
      .select(col("doc_id"), col("quality"),
        coalesce(col("label"), col("doc_id")).as("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("quality").desc, col("doc_id"))
    labeled.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("cluster"), col("quality"))
      .orderBy("doc_id")
  }

  val d11KeeperApplySql: String =
    nearCorpusCte.replace("WITH ", "WITH RECURSIVE ") + lshPairsCte +
    """,
      |sym AS (SELECT doc_a AS src, doc_b AS dst FROM lshp
      |        UNION ALL SELECT doc_b, doc_a FROM lshp),
      |reach AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN sym e ON e.src = r.dst
      |),
      |cl AS (
      |  SELECT node, MIN(lbl) AS cluster FROM (
      |    SELECT src AS node, dst AS lbl FROM reach
      |    UNION ALL
      |    SELECT DISTINCT src AS node, src AS lbl FROM sym)
      |  GROUP BY node),
      |qual AS (
      |  SELECT doc_id, ROUND((
      |    (CASE WHEN n >= 100 AND n <= 5000 THEN 1.0 WHEN n >= 20 THEN 0.5 ELSE 0.0 END) +
      |    (CASE WHEN CAST(punct AS DOUBLE) / GREATEST(n, 1) <= 0.1 THEN 1.0
      |          WHEN CAST(punct AS DOUBLE) / GREATEST(n, 1) <= 0.25 THEN 0.5 ELSE 0.0 END) +
      |    (CASE WHEN toks >= 10 THEN 1.0 WHEN toks >= 3 THEN 0.5 ELSE 0.0 END)
      |  ) / 3.0, 6) AS quality
      |  FROM (SELECT doc_id, length(text) AS n,
      |          CASE WHEN length(trim(text)) = 0 THEN 0
      |               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
      |          length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct
      |        FROM corpus)),
      |labeled AS (
      |  SELECT q.doc_id, q.quality, COALESCE(cl.cluster, q.doc_id) AS cluster
      |  FROM qual q LEFT JOIN cl ON cl.node = q.doc_id),
      |ranked AS (
      |  SELECT doc_id, cluster, quality, row_number() OVER (
      |    PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rk
      |  FROM labeled)
      |SELECT doc_id, cluster, quality FROM ranked WHERE rk = 1
      |ORDER BY doc_id""".stripMargin

  /** T29: polynomial rolling-hash fingerprint (Rabin-Karp) of the
    * normalized text — h = fold((acc·31 + codepoint) mod 1e9+7), the
    * incremental-update fingerprint family behind substring dedup and
    * chunk-level content addressing (contrast t4's block md5). Pure
    * per-row integer arithmetic inside a higher-order fold, exactly
    * replayable: the oracle steps the identical recurrence as a
    * recursive CTE over character positions. Restricted to printable-
    * ASCII docs so both engines see identical codepoints. */
  val t29RollingFp: Q = (s, dir) =>
    Graft.table(s, dir, "documents")
      .filter(col("text").rlike("^[ -~]*$"))
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      // split-to-chars FIRST: substr(norm, i, 1) inside the fold would be
      // O(len) per character = O(len²) per doc (measured 4.3 s -> ~1 s at
      // sf0.1). split('') emits a trailing "" (Java split limit -1) whose
      // ascii is 0 — filter it so the fold sees exactly the characters.
      .select(col("doc_id"),
        when(length(col("norm")) === 0, lit(0L)).otherwise(expr(
          """aggregate(filter(split(norm, ''), c -> c <> ''),
            |          0L, (acc, c) -> (acc * 31L + cast(ascii(c) as bigint)) % 1000000007L)""".stripMargin))
          .as("fp"))
      .orderBy("doc_id")

  val t29RollingFpSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |  FROM documents WHERE regexp_matches(text, '^[ -~]*$')),
      |n AS (SELECT doc_id, norm, length(norm) AS len FROM d),
      |h AS (
      |  SELECT doc_id, 0 AS i, CAST(0 AS BIGINT) AS h, len FROM n
      |  UNION ALL
      |  SELECT h.doc_id, h.i + 1,
      |    (h.h * 31 + ascii(substring(n.norm, h.i + 1, 1))) % 1000000007,
      |    h.len
      |  FROM h JOIN n ON n.doc_id = h.doc_id WHERE h.i < h.len)
      |SELECT doc_id, h AS fp FROM h WHERE i = len
      |ORDER BY doc_id""".stripMargin

  /** D9: LSH quality evaluation — recall/precision of the MinHash-LSH
    * candidate pipeline (d2's pairs, est-Jaccard ≥ 0.5) against the
    * exact n-gram-Jaccard ground truth (d4's pairs, true Jaccard ≥ 0.5,
    * same maxDf=50 cap). The measurement every production dedup rollout
    * needs before trusting the sketch path at 100 TB — and unlike the
    * pair-LISTING queries (whose contract is to emit every member
    * pair), d9's contract is three COUNTS, so the quadratic
    * duplicate-pair sets never materialize: both generators stay in
    * collapsed (rep-pair + membership) form and every count is class
    * arithmetic — a cross rep pair expands to na·nb member pairs, an
    * in-class row to n·(n−1)/2. The hit count crosses the two collapse
    * partitions (truth collapses on capped shingle multiset, LSH on
    * signature) through their common refinement: joint classes
    * (rep_t, rep_c), with a member pair in the intersection iff its
    * truth rep pair is in the truth set AND its LSH rep pair is in the
    * candidate set. Replica sf10: the expanded sets are 10⁸·rows (90 %
    * clone corpus); the rep-level frames are 10³ — this is the shape
    * that survives a 100 TB crawl. One row: counts + recall/precision. */
  val d9LshEval: Q = (s, dir) => {
    // one text-collapsed shingle universe feeds BOTH candidate
    // generators; rep-pair frames feed two branches each (own count +
    // hit join) — materialize. universe_T ⊆ universe_C (capped shingle
    // rows are a subset of raw ones), the evalCollapsedPairs
    // precondition.
    val (repSh, textMem) = nearCorpusCollapsed(s, dir)
    val (truthRp0, memT) = Dedup.ngramJaccardCollapsedW(repSh, textMem, 0.5, maxDf = 50)
    val truthRp = Graft.materialize(truthRp0.select("doc_a", "doc_b"))
    val (candRp0, memC) = lshPairsCollapsed(repSh, textMem)
    val candRp = Graft.materialize(candRp0.select("doc_a", "doc_b"))
    Dedup.evalCollapsedPairs(truthRp, memT, candRp, memC)
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth"), 6).as("recall"),
        round(col("n_hit").cast("double") / col("n_cand"), 6).as("prec"))
  }

  val d9LshEvalSql: String = nearCorpusCte + lshPairsCte +
    """,
      |keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
      |shc AS MATERIALIZED (
      |  SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
      |sizes AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      |  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |truth AS MATERIALIZED (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
      |hit AS MATERIALIZED (
      |  SELECT t.doc_a FROM truth t
      |  JOIN lshp c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
      |SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
      |       (SELECT COUNT(*) FROM lshp) AS n_cand,
      |       (SELECT COUNT(*) FROM hit) AS n_hit,
      |       ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) /
      |             (SELECT COUNT(*) FROM truth), 6) AS recall,
      |       ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) /
      |             (SELECT COUNT(*) FROM lshp), 6) AS prec""".stripMargin

  /** G3: bounded k-core peel over the near-dup similarity graph (d4's
    * edge set) — three rounds of "drop nodes with degree < 2", the
    * standard coreness-style density diagnostic. Each round is one
    * symmetrized keyed degree aggregation + two semi-join filters
    * (never a cross product); the per-round survivor/edge counts are
    * the output, so convergence is visible in the result itself. */
  val g3Kcore: Q = (s, dir) => {
    var edges = graft.Graft.materialize(
      Dedup.ngramJaccard(nearCorpus(s, dir), 3, 0.5, maxDf = 50)
        .select(col("doc_a").as("a"), col("doc_b").as("b")))
    val rows = (1 to 3).map { r =>
      val sym = edges.select(col("a").as("n"))
        .unionByName(edges.select(col("b").as("n")))
      // materialized: the survivor set feeds BOTH filter joins and the
      // n_nodes count — one degree aggregation per round, not three
      val keep = graft.Graft.materialize(
        sym.groupBy("n").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 2).select("n"))
      edges = graft.Graft.materialize(
        edges.join(keep.select(col("n").as("a")), "a")
          .join(keep.select(col("n").as("b")), "b")
          .select("a", "b"))
      keep.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
        .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
    }
    rows.reduce(_ unionByName _).orderBy("round")
  }

  val g3KcoreSql: String = {
    // unrolled peel: e0 = d4's pair graph; k_r = nodes with deg >= 2 in
    // e_{r-1}; e_r = e_{r-1} restricted to surviving endpoints.
    // Every stage is AS MATERIALIZED: DuckDB inlines plain CTEs per
    // REFERENCE, so without the hint each round re-expands the whole
    // shingle self-join — exponentially. (At sf0.1 the un-hinted form
    // spilled >75 GB of temp before exhausting the disk.)
    val rounds = (1 to 3).map { r =>
      s""",
        |k$r AS MATERIALIZED (
        |  SELECT n FROM (
        |    SELECT doc_a AS n FROM e${r - 1} UNION ALL SELECT doc_b FROM e${r - 1})
        |  GROUP BY n HAVING COUNT(*) >= 2),
        |e$r AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM e${r - 1}
        |  WHERE doc_a IN (SELECT n FROM k$r) AND doc_b IN (SELECT n FROM k$r))""".stripMargin
    }.mkString
    val selects = (1 to 3).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
        |  (SELECT COUNT(*) FROM k$r) AS n_nodes,
        |  (SELECT COUNT(*) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY round")
    nearCorpusCte +
      """,
        |w AS (SELECT doc_id,
        |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |      FROM corpus),
        |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
        |       WHERE len(ws) >= 3 AND length(ws[i] || ws[i+1] || ws[i+2]) > 0),
        |keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 50),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |e0 AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5)""".stripMargin +
      rounds + selects
  }

  /** T5: vocabulary building — top-5 word bigrams per language by
    * document frequency (distinct per doc via the shingle op, so a
    * bigram repeated inside one doc counts once). The scale shape:
    * shingle explode → one (lang, bigram) keyed aggregation → per-group
    * top-k window, never a global sort. Deterministic tiebreak on the
    * bigram string. */
  val t5TopBigrams: Q = (s, dir) => {
    val docs = Graft.table(s, dir, "documents")
    val sh = Dedup.shingles(docs.select("doc_id", "text"), 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("df").desc, col("shingle"))
    sh.join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "shingle").agg(count(lit(1)).as("df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("shingle").as("bigram"), col("df"),
        col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  val t5TopBigramsSql: String =
    """WITH w AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |      FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS shingle
      |       FROM w, UNNEST(range(1, len(ws))) AS t(i)
      |       WHERE len(ws) >= 2 AND length(ws[i] || ws[i+1]) > 0),
      |df AS (SELECT d.lang, sh.shingle, COUNT(*) AS df
      |       FROM sh JOIN documents d USING (doc_id)
      |       GROUP BY d.lang, sh.shingle),
      |ranked AS (SELECT lang, shingle AS bigram, df,
      |             row_number() OVER (PARTITION BY lang
      |               ORDER BY df DESC, shingle) AS rk
      |           FROM df)
      |SELECT lang, bigram, df, rk FROM ranked
      |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  def queries: Map[String, Q] = Map(
    "t5_top_bigrams" -> t5TopBigrams,
    "t6_group_sample" -> t6GroupSample,
    "t1_token_count" -> t1TokenCount,
    "t2_quality" -> t2Quality,
    "t3_langid" -> t3LangId,
    "t20_langid_eval" -> t20LangidEval,
    "t4_fingerprint" -> t4Fingerprint,
    "t29_rolling_fp" -> t29RollingFp,
    "d1_exact_dedup" -> d1ExactDedup,
    "d1b_dedup_apply" -> d1DedupApply,
    "d2_minhash_lsh" -> d2MinhashLsh,
    "d9_lsh_eval" -> d9LshEval,
    "d3_simhash" -> d3Simhash,
    "d4_ngram_jaccard" -> d4NgramJaccard,
    "t40_snm_eval" -> t40SnmEval,
    "d12_novelty" -> d12Novelty,
    "d10_edit_neighbors" -> d10EditNeighbors,
    "d6_dup_clusters" -> d6DupClusters,
    "d11_keeper_apply" -> d11KeeperApply,
    "g1_triangle_count" -> g1TriangleCount,
    "g3_kcore" -> g3Kcore,
  )

  def oracle: Map[String, String] = Map(
    "t5_top_bigrams" -> t5TopBigramsSql,
    "t6_group_sample" -> t6GroupSampleSql,
    "t1_token_count" -> t1TokenCountSql,
    "t2_quality" -> t2QualitySql,
    "t3_langid" -> t3LangIdSql,
    "t20_langid_eval" -> t20LangidEvalSql,
    "t4_fingerprint" -> t4FingerprintSql,
    "t29_rolling_fp" -> t29RollingFpSql,
    "d1_exact_dedup" -> d1ExactDedupSql,
    "d1b_dedup_apply" -> d1DedupApplySql,
    "d2_minhash_lsh" -> d2MinhashLshSql,
    "d9_lsh_eval" -> d9LshEvalSql,
    "d3_simhash" -> d3SimhashSql,
    "d4_ngram_jaccard" -> d4NgramJaccardSql,
    "t40_snm_eval" -> t40SnmEvalSql,
    "d12_novelty" -> d12NoveltySql,
    "d10_edit_neighbors" -> d10EditNeighborsSql,
    "d6_dup_clusters" -> d6DupClustersSql,
    "d11_keeper_apply" -> d11KeeperApplySql,
    "g1_triangle_count" -> g1TriangleCountSql,
    "g3_kcore" -> g3KcoreSql,
  )
}
