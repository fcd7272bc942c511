package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval / sketch-algebra layer over `documents`: inverted-index
  * posting lists, information-theoretic quality signals, weighted
  * priority sampling, and KMV sketch set-algebra — the index-building
  * and corpus-comparison half of a training-data pipeline (the dedup
  * half lives in `graft.dedup.Dedup`).
  *
  * Scale shapes: the inverted index is one keyed shuffle on the term
  * (posting lists are capped at 10 ids BEFORE aggregation, so no
  * unbounded per-term array ever materializes); entropy is two keyed
  * aggregations (doc×term, then doc); priority sampling is one window
  * per partition key; KMV set ops move only the global bottom-k hashes
  * (TakeOrderedAndProject: per-partition top-k, then a k-row merge).
  *
  * Numeric policy (README + SURVEY §7.4): every comparison-feeding
  * float is either pure IEEE mult/div on exactly-representable inputs
  * (correctly rounded, bit-equal across engines) or an exact
  * DECIMAL(28,12) sum; display values quantize on the
  * `floor(x·1e6+0.5)` grid. Natural log only — `ln` agrees bit-for-bit
  * between the JVM and DuckDB on this corpus (established by
  * `t17_lm_score`); `log2` does NOT (DuckDB computes it directly,
  * Spark as ln(x)/ln(2)), so entropy is reported in nats.
  */
object RetrievalQueries {

  /** Whitespace tokenization shared with the text family (lower, trim,
    * collapse runs); whitespace-only docs are dropped by the callers'
    * empty-term filters. */
  private def docWords(s: org.apache.spark.sql.SparkSession, dir: String) =
    Graft.table(s, dir, "documents")
      .withColumn("ws", graft.text.QualitySignals.words(col("text")))

  /** T30: inverted-index build over word bigrams — term → document
    * frequency + the first 10 posting doc_ids. Bigram terms, not
    * unigrams: this corpus's unigram vocabulary is ~31 template words
    * that appear in ~80% of documents (no retrieval value), while the
    * ~900 bigrams are discriminative. The df band [2, n_docs/2] drops
    * hapax terms and template-hot terms (the same skew guard as d4's
    * maxDf cap: at 100 TB the hottest term's posting list is the
    * straggler, so the cap is applied to the aggregate BEFORE any list
    * is kept — and it is RELATIVE to corpus size, so it holds at any
    * scale). Postings are capped by rank inside the window, so the
    * per-term aggregation state is ≤ 10 ids regardless of df. */
  val t30InvertedIndex: Q = (s, dir) => {
    val docs = docWords(s, dir).filter(size(col("ws")) >= 2)
    val pairs = docs
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - 1)).as("i"))
      .select(col("doc_id"),
        concat(element_at(col("ws"), col("i")), lit(" "),
          element_at(col("ws"), col("i") + 1)).as("term"),
        (length(element_at(col("ws"), col("i"))) +
          length(element_at(col("ws"), col("i") + 1))).as("len2"))
      .filter(col("len2") > 0).drop("len2")
      .distinct()
    val nDocs = Graft.table(s, dir, "documents").agg(count(lit(1)).as("nd"))
    pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy("term").orderBy("doc_id")))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(sort_array(collect_list(when(col("rk") <= 10, col("doc_id")))),
            x => x.cast("string")), ",").as("postings"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= 2 && col("df") <= col("nd") / lit(2.0))
      .select("term", "df", "postings")
      .orderBy(col("df").desc, col("term"))
      .limit(100)
  }

  val t30InvertedIndexSql: String =
    """WITH w AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |      FROM documents),
      |n AS (SELECT COUNT(*) AS nd FROM documents),
      |pairs AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS term
      |          FROM w, UNNEST(range(1, len(ws))) AS t(i)
      |          WHERE len(ws) >= 2 AND length(ws[i] || ws[i+1]) > 0),
      |r AS (SELECT doc_id, term,
      |        row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
      |      FROM pairs),
      |g AS (SELECT term, COUNT(*) AS df,
      |        string_agg(CASE WHEN rk <= 10 THEN CAST(doc_id AS VARCHAR) END,
      |                   ',' ORDER BY doc_id) AS postings
      |      FROM r GROUP BY term)
      |SELECT term, df, postings FROM g, n
      |WHERE df >= 2 AND df <= nd / 2.0
      |ORDER BY df DESC, term LIMIT 100""".stripMargin

  /** T31: per-document word-distribution Shannon entropy (nats) and
    * type-token ratio — the information-density quality signals used to
    * spot keyword-stuffed / boilerplate documents (low entropy at high
    * length). Σ c·ln(c) is summed as exact DECIMAL(28,12) so the
    * reduction order cannot perturb the result. */
  val t31Entropy: Q = (s, dir) => {
    val c = docWords(s, dir)
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    c.groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum((col("c") * log(col("c"))).cast("decimal(28,12)"))
          .cast("double").as("plogp"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        q6(log(col("n_tokens")) - col("plogp") / col("n_tokens")).as("entropy_nats"),
        q6(col("n_types").cast("double") / col("n_tokens")).as("ttr"))
      .orderBy("doc_id")
  }

  val t31EntropySql: String =
    """WITH w AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |      FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
      |c AS (SELECT doc_id, term, COUNT(*) AS c
      |      FROM tok WHERE term <> '' GROUP BY 1, 2),
      |d AS (SELECT doc_id,
      |        CAST(SUM(c) AS BIGINT) AS n_tokens,
      |        CAST(COUNT(*) AS BIGINT) AS n_types,
      |        CAST(SUM(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(28,12))) AS DOUBLE) AS plogp
      |      FROM c GROUP BY 1)
      |SELECT doc_id, n_tokens, n_types,
      |  floor((ln(CAST(n_tokens AS DOUBLE)) - plogp / n_tokens) * 1e6 + 0.5) / 1e6 AS entropy_nats,
      |  floor(CAST(n_types AS DOUBLE) / n_tokens * 1e6 + 0.5) / 1e6 AS ttr
      |FROM d ORDER BY doc_id""".stripMargin

  /** T32: weighted sampling by priority (Duffield–Lund–Thorup priority
    * sampling): priority = w / u with u an md5-derived uniform in
    * (0, 1], top 5 per source. Long docs are proportionally more likely
    * to be kept, the sample is one window per source (no RNG state,
    * reproducible on any engine/cluster), and the estimator behind it
    * is unbiased for subset sums. w/(h+1) is a single correctly-rounded
    * IEEE division of exactly-representable integers, so the ranking
    * key is bit-identical across engines; doc_id breaks exact ties. */
  val t32PrioritySample: Q = (s, dir) =>
    Graft.table(s, dir, "documents")
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"))
      .withColumn("priority",
        greatest(col("n_chars"), lit(1)).cast("double") / (col("h") + 1))
      // per-source ranking via GlobalRank.withGroupRowNumber: sources
      // are few but each holds a data-scaling slice, so a
      // `partition by source` window would sort whole slices in single
      // tasks
      .transform(d => graft.functions.GlobalRank.withGroupRowNumber(
        d, "rk", Seq("source"), col("priority").desc, col("doc_id")))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("n_chars"),
        // 1e3 grid (not the usual 1e6): priority·2^32 can reach w·2^32
        // when h is tiny, and the coarser grid keeps floor()'s argument
        // under 2^53 for every possible hash value.
        (floor(col("priority") * lit(4294967296.0) * lit(1e3) + lit(0.5)) / lit(1e3))
          .as("priority"))
      .orderBy("source", "rk")

  val t32PrioritySampleSql: String =
    """WITH d AS (
      |  SELECT source, doc_id, n_chars,
      |    CAST(GREATEST(n_chars, 1) AS DOUBLE) /
      |      (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
      |      AS priority
      |  FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source
      |        ORDER BY priority DESC, doc_id) AS rk
      |      FROM d)
      |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars,
      |  floor(priority * 4294967296.0 * 1e3 + 0.5) / 1e3 AS priority
      |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin

  /** T33: KMV sketch set algebra — estimate |EN|, |non-EN|, |union| and
    * |intersection| of the two sub-corpora's distinct-text sets from ONE
    * bottom-k sketch of the union (k = 128). Each distinct md5 carries
    * two membership bits; the k smallest hashes flow through
    * TakeOrderedAndProject (per-partition top-k, k-row merge — never a
    * full sort), and the estimators are the standard KMV forms:
    * est_union = (k−1)/h_(k), est_A = (|K∩A|/k)·est_union. Exact
    * distinct counts ride along for an in-row error check. This is the
    * set-algebra companion of `Sketches.kmvEstimate` (which does the
    * same bottom-k with a bounded per-partition heap). */
  val t33KmvSetops: Q = (s, dir) => {
    val k = 128
    val sides = Graft.table(s, dir, "documents")
      .select(md5(col("text")).as("h"), (col("lang") === "en").as("a"))
      .groupBy("h").agg(
        max(when(col("a"), 1L).otherwise(0L)).as("in_a"),
        max(when(!col("a"), 1L).otherwise(0L)).as("in_b"))
    val m = Graft.materialize(sides)
    val totals = m.agg(
      sum(col("in_a")).cast("long").as("n_a"),
      sum(col("in_b")).cast("long").as("n_b"),
      count(lit(1)).cast("long").as("n_union"))
    val bottom = m.orderBy("h").limit(k)
      .agg(max(col("h")).as("hk"),
        sum(col("in_a")).cast("long").as("a_in_k"),
        sum(col("in_b")).cast("long").as("b_in_k"),
        sum(col("in_a") * col("in_b")).cast("long").as("i_in_k"))
    val estU = lit((k - 1).toDouble) * lit(1152921504606846976.0) /
      (conv(substring(col("hk"), 1, 15), 16, 10).cast("long") + 1)
    totals.crossJoin(broadcast(bottom))
      .select(lit(k.toLong).as("k"), col("n_a"), col("n_b"), col("n_union"),
        q6(when(col("n_union") <= k, col("n_a").cast("double"))
          .otherwise(col("a_in_k") * estU / k)).as("est_a"),
        q6(when(col("n_union") <= k, col("n_b").cast("double"))
          .otherwise(col("b_in_k") * estU / k)).as("est_b"),
        q6(when(col("n_union") <= k, col("n_union").cast("double"))
          .otherwise(estU)).as("est_union"),
        q6(when(col("n_union") <= k,
          (col("n_a") + col("n_b") - col("n_union")).cast("double"))
          .otherwise(col("i_in_k") * estU / k)).as("est_intersect"))
  }

  val t33KmvSetopsSql: String =
    """WITH s AS (
      |  SELECT md5(text) AS h,
      |    MAX(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS in_a,
      |    MAX(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS in_b
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
      |               CAST(SUM(in_b) AS BIGINT) AS n_b,
      |               CAST(COUNT(*) AS BIGINT) AS n_union
      |        FROM s),
      |bk AS (SELECT h, in_a, in_b FROM s ORDER BY h LIMIT 128),
      |agg AS (SELECT MAX(h) AS hk,
      |          CAST(SUM(in_a) AS BIGINT) AS a_in_k,
      |          CAST(SUM(in_b) AS BIGINT) AS b_in_k,
      |          CAST(SUM(in_a * in_b) AS BIGINT) AS i_in_k
      |        FROM bk),
      |e AS (SELECT *,
      |        127.0 * 1152921504606846976.0 /
      |          (CAST(('0x' || substring(hk, 1, 15)) AS BIGINT) + 1) AS est_u
      |      FROM agg)
      |SELECT CAST(128 AS BIGINT) AS k, n_a, n_b, n_union,
      |  floor((CASE WHEN n_union <= 128 THEN CAST(n_a AS DOUBLE)
      |              ELSE a_in_k * est_u / 128 END) * 1e6 + 0.5) / 1e6 AS est_a,
      |  floor((CASE WHEN n_union <= 128 THEN CAST(n_b AS DOUBLE)
      |              ELSE b_in_k * est_u / 128 END) * 1e6 + 0.5) / 1e6 AS est_b,
      |  floor((CASE WHEN n_union <= 128 THEN CAST(n_union AS DOUBLE)
      |              ELSE est_u END) * 1e6 + 0.5) / 1e6 AS est_union,
      |  floor((CASE WHEN n_union <= 128 THEN CAST(n_a + n_b - n_union AS DOUBLE)
      |              ELSE i_in_k * est_u / 128 END) * 1e6 + 0.5) / 1e6 AS est_intersect
      |FROM tot, e""".stripMargin

  /** T36: PMI-scored collocations — the top-20 word bigrams by pointwise
    * mutual information, pmi = ln((c_xy/N₂)/((c_x/N₁)·(c_y/N₁))), with a
    * c_xy ≥ 5 occurrence floor: the association miner behind multi-word
    * vocab entries and tokenizer merges (t26's BPE pair counts rank by
    * raw frequency; PMI surfaces the STICKY pairs a frequency rank
    * buries). Occurrence counts, not doc-distinct. Shape: one token
    * explode, adjacency via per-doc lead (one series window — never a
    * positional self-join), two keyed aggregations, broadcast totals;
    * the ranking key is the 1e-6-quantized PMI with a bigram tiebreak,
    * so top-20 is engine-exact. */
  val t36PmiBigrams: Q = (s, dir) => {
    val tok = docWords(s, dir)
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val bi = tok
      .withColumn("b", lead(col("w"), 1).over(
        Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("b").isNotNull)
      .select(col("w").as("a"), col("b"))
    val uni = tok.groupBy("w").agg(count(lit(1)).as("cx"))
    val n1 = tok.agg(count(lit(1)).as("n1"))
    val n2 = bi.agg(count(lit(1)).as("n2"))
    bi.groupBy("a", "b").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= 5)
      .join(uni.select(col("w").as("a"), col("cx").as("cxa")), "a")
      .join(uni.select(col("w").as("b"), col("cx").as("cxb")), "b")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"),
        col("cxy"),
        q6(log((col("cxy").cast("double") / col("n2")) /
          ((col("cxa").cast("double") / col("n1")) *
            (col("cxb").cast("double") / col("n1"))))).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(20)
  }

  val t36PmiBigramsSql: String =
    """WITH wl AS (SELECT doc_id,
      |        regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |      FROM documents),
      |tok AS (SELECT doc_id, i AS pos, ws[i] AS w
      |        FROM wl, UNNEST(range(1, len(ws) + 1)) AS t(i)
      |        WHERE ws[i] <> ''),
      |bi AS (
      |  SELECT w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS b
      |  FROM tok),
      |bi2 AS (SELECT a, b FROM bi WHERE b IS NOT NULL),
      |uni AS (SELECT w, COUNT(*) AS cx FROM tok GROUP BY w),
      |t1 AS (SELECT COUNT(*) AS n1 FROM tok),
      |t2 AS (SELECT COUNT(*) AS n2 FROM bi2),
      |cooc AS (SELECT a, b, COUNT(*) AS cxy FROM bi2 GROUP BY a, b HAVING COUNT(*) >= 5)
      |SELECT c.a || ' ' || c.b AS bigram, c.cxy,
      |  floor(ln((CAST(c.cxy AS DOUBLE) / n2) /
      |           ((CAST(ua.cx AS DOUBLE) / n1) * (CAST(ub.cx AS DOUBLE) / n1)))
      |        * 1e6 + 0.5) / 1e6 AS pmi
      |FROM cooc c
      |JOIN uni ua ON ua.w = c.a
      |JOIN uni ub ON ub.w = c.b
      |CROSS JOIN t1 CROSS JOIN t2
      |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin

  def queries: Map[String, Q] = Map(
    "t36_pmi_bigrams" -> t36PmiBigrams,
    "t30_inverted_index" -> t30InvertedIndex,
    "t31_entropy" -> t31Entropy,
    "t32_priority_sample" -> t32PrioritySample,
    "t33_kmv_setops" -> t33KmvSetops,
  )

  def oracle: Map[String, String] = Map(
    "t36_pmi_bigrams" -> t36PmiBigramsSql,
    "t30_inverted_index" -> t30InvertedIndexSql,
    "t31_entropy" -> t31EntropySql,
    "t32_priority_sample" -> t32PrioritySampleSql,
    "t33_kmv_setops" -> t33KmvSetopsSql,
  )
}
