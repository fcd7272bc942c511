package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.operators.CoreQueries.q6
import graft.text.QualitySignals.words
import graft.text.TextOps.fingerprint
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators over `documents` (driver north-star):
  * balanced stratified sampling, boilerplate detection, and statistical
  * language-model quality scoring — the selection/filtering layer of a
  * training-data pipeline.
  *
  * Scale shapes: balanced sampling is one window by stratum plus a
  * broadcast of the (tiny) per-stratum quota; boilerplate detection is a
  * single hash-groupBy on a constant-size prefix fingerprint (never the
  * full text); LM scoring is two keyed aggregations over the corpus
  * bigram stream joined back to the per-document bigrams — all joins are
  * keyed shuffles on the bigram/unigram, no pairwise blowup.
  */
object CorpusQueries {

  /** Emptiness gate shared with TrainPrepQueries: whitespace-only text
    * counts zero tokens (`split` alone would yield `[""]`). */
  private def tokenized(s: org.apache.spark.sql.SparkSession, dir: String) =
    Graft.table(s, dir, "documents")
      .withColumn("ws", words(col("text")))
      .withColumn("n",
        when(length(trim(col("text"))) === 0, 0).otherwise(size(col("ws"))))

  /** T15: balanced stratified sample — downsample every language to the
    * size of the smallest one, keeping each stratum's md5-smallest doc
    * ids (deterministic, engine-independent, no RNG state). The quota is
    * a one-row broadcast; the per-stratum ranking comes from
    * [[graft.functions.GlobalRank.withGroupRowNumber]] — a
    * `partition by lang` window would sort each language's ENTIRE
    * stratum in one task (strata scale with the corpus; lang
    * cardinality doesn't). */
  val t15BalancedSample: Q = (s, dir) => {
    val docs = Graft.table(s, dir, "documents")
    val quota = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .agg(min(col("cnt")).as("k"))
    graft.functions.GlobalRank.withGroupRowNumber(
        docs, "rk", Seq("lang"),
        md5(col("doc_id").cast("string")), col("doc_id"))
      .crossJoin(broadcast(quota))
      .filter(col("rk") <= col("k"))
      .select(col("lang"), col("doc_id"), col("rk").cast("long").as("rk"))
      .orderBy("lang", "doc_id")
  }

  val t15BalancedSampleSql: String =
    """WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
      |k AS (SELECT MIN(cnt) AS k FROM c),
      |r AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
      |FROM r, k WHERE rk <= k
      |ORDER BY lang, doc_id""".stripMargin

  /** T16: boilerplate-prefix detection — fingerprint each document's
    * first 10 tokens and report prefixes shared by ≥ 2 documents (shared
    * headers/templates are the classic boilerplate signal). Groups on a
    * 32-byte fingerprint, so the shuffle payload is constant per doc
    * regardless of document length. */
  val t16BoilerplatePrefix: Q = (s, dir) =>
    tokenized(s, dir)
      .filter(col("n") >= 10)
      .withColumn("prefix_fp", md5(concat_ws(" ", slice(col("ws"), 1, 10))))
      .groupBy("prefix_fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("prefix_fp")

  val t16BoilerplatePrefixSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws,
      |    length(trim(text)) = 0 AS is_empty
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, md5(array_to_string(ws[1:10], ' ')) AS prefix_fp
      |  FROM w WHERE NOT is_empty AND len(ws) >= 10)
      |SELECT prefix_fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
      |FROM p GROUP BY 1 HAVING COUNT(*) >= 2
      |ORDER BY prefix_fp""".stripMargin

  /** T17: bigram language-model quality score — the mean add-one-smoothed
    * conditional log-probability ln((c(w1,w2)+1)/(c(w1,·)+V)) of each
    * document's bigrams under the corpus's own counts. Low scores flag
    * incoherent/outlier documents (statistical quality filtering à la
    * CCNet). Documents with fewer than two tokens have no bigrams and are
    * deliberately absent from the output (they carry no LM evidence).
    * Per-doc mean runs as an exact decimal sum / count so group
    * aggregation order cannot move the 6-dp round. */
  val t17LmScore: Q = (s, dir) => {
    val toks = tokenized(s, dir).filter(col("n") >= 2)
    val bi = toks
      .select(col("doc_id"), col("ws"), explode(sequence(lit(1), col("n") - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("ws"), col("i")).as("w1"),
        element_at(col("ws"), col("i") + 1).as("w2"))
    val biM = Graft.materialize(bi) // feeds bigram counts, unigram counts, and the per-doc score join
    val c12 = biM.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = biM.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = tokenized(s, dir).filter(col("n") >= 1)
      .select(explode(col("ws")).as("w")).agg(countDistinct(col("w")).as("v"))
    biM
      .join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log((col("c12") + 1).cast("double") / (col("c1") + col("v"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("lm_score"))
      .orderBy("doc_id")
  }

  val t17LmScoreSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws,
      |    length(trim(text)) = 0 AS is_empty
      |  FROM documents),
      |t AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE NOT is_empty),
      |bi AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |  FROM t, UNNEST(range(1, n)) AS u(i) WHERE n >= 2),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
      |vocab AS (
      |  SELECT COUNT(DISTINCT word) AS v
      |  FROM (SELECT unnest(ws) AS word FROM t WHERE n >= 1)),
      |lp AS (
      |  SELECT doc_id,
      |    LN(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + vocab.v)) AS lp
      |  FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1), vocab)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(CAST(CAST(SUM(CAST(lp AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS DECIMAL(38,6)) AS DOUBLE) AS lm_score
      |FROM lp GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** T18: training-sequence export — each user's events assembled into
    * one ordered sequence (the per-example assembly step before packing);
    * content is pinned by an md5 of the ordered type string so the oracle
    * proves sequence CONTENT and ORDER, not just lengths. One groupBy
    * with an in-group sort of that user's events — the state per group is
    * one user's history, the same envelope as the sessionizer. */
  val t18SeqExport: Q = (s, dir) =>
    Graft.table(s, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("seq_len"),
        md5(concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")))).as("seq_fp"))
      .orderBy("user_id")

  val t18SeqExportSql: String =
    """SELECT user_id, COUNT(*) AS seq_len,
      |  md5(string_agg(event_type, ',' ORDER BY ts, event_id)) AS seq_fp
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** T19: per-source corpus profile — document count, exact-duplicate
    * share (docs whose normalized-text fingerprint repeats anywhere in
    * the corpus), and mean length per ingestion source: the triage view
    * that decides which feeds need dedup/cleaning attention. Duplicate
    * detection joins on a 32-byte fingerprint; the mean is an exact
    * integer sum / count on the IEEE display grid. */
  val t19SourceProfile: Q = (s, dir) => {
    val docs = Graft.table(s, dir, "documents")
      .withColumn("fp", fingerprint(col("text")))
    val dupFps = docs.groupBy("fp").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("fp")
    docs.join(dupFps.withColumn("is_dup", lit(1L)), Seq("fp"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"),
        q6(sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("source")
  }

  val t19SourceProfileSql: String =
    """WITH d AS (
      |  SELECT source, n_chars,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |dup AS (SELECT fp FROM d GROUP BY fp HAVING COUNT(*) > 1)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  FLOOR(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_chars
      |FROM d LEFT JOIN dup ON d.fp = dup.fp
      |GROUP BY source ORDER BY source""".stripMargin

  /** U3: snapshot set operations — content-fingerprint EXCEPT/INTERSECT
    * between two halves of the corpus (sources 0-9 vs 10-19): what only
    * the first half has, what only the second has, what both share. The
    * set ops the reference never needed (SURVEY §2.7) but a diffing
    * pipeline uses constantly; each side is a distinct-fingerprint
    * aggregate, the set ops are keyed anti/semi joins underneath. */
  val u3SetOps: Q = (s, dir) => {
    val docs = Graft.table(s, dir, "documents")
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("src_n", substring(col("source"), 4, 10).cast("int"))
    val a = docs.filter(col("src_n") < 10).select("fp").distinct()
    val b = docs.filter(col("src_n") >= 10).select("fp").distinct()
    a.except(b).agg(count(lit(1)).as("only_a"))
      .crossJoin(b.except(a).agg(count(lit(1)).as("only_b")))
      .crossJoin(a.intersect(b).agg(count(lit(1)).as("n_both")))
  }

  val u3SetOpsSql: String =
    """WITH d AS (
      |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    CAST(substring(source, 4) AS INT) AS src_n
      |  FROM documents),
      |a AS (SELECT DISTINCT fp FROM d WHERE src_n < 10),
      |b AS (SELECT DISTINCT fp FROM d WHERE src_n >= 10)
      |SELECT
      |  (SELECT COUNT(*) FROM (SELECT fp FROM a EXCEPT SELECT fp FROM b)) AS only_a,
      |  (SELECT COUNT(*) FROM (SELECT fp FROM b EXCEPT SELECT fp FROM a)) AS only_b,
      |  (SELECT COUNT(*) FROM (SELECT fp FROM a INTERSECT SELECT fp FROM b)) AS n_both""".stripMargin

  /** U4: BAG-semantics set operations — EXCEPT ALL / INTERSECT ALL on
    * return flags between the low-quantity and high-quantity lineitem
    * multisets. The multiset corner u3's distinct forms don't cover:
    * EXCEPT ALL keeps max(m−n, 0) copies and INTERSECT ALL min(m, n),
    * so duplicates carry through — the semantics reconciliation jobs
    * need when row multiplicity IS the signal. Both engines implement
    * true bag semantics; the result is summarized per flag so the
    * oracle compares counts, not row order. */
  val u4BagSetOps: Q = (s, dir) => {
    val li = Graft.table(s, dir, "lineitem")
    val a = li.filter(col("l_quantity") < 25).select("l_returnflag")
    val b = li.filter(col("l_quantity") > 10).select("l_returnflag")
    a.exceptAll(b).groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("l_returnflag"), col("n"))
      .unionByName(
        a.intersectAll(b).groupBy("l_returnflag").agg(count(lit(1)).as("n"))
          .select(lit("intersect_all").as("op"), col("l_returnflag"), col("n")))
      .orderBy("op", "l_returnflag")
  }

  val u4BagSetOpsSql: String =
    """WITH a AS (SELECT l_returnflag FROM lineitem WHERE l_quantity < 25),
      |b AS (SELECT l_returnflag FROM lineitem WHERE l_quantity > 10)
      |SELECT 'except_all' AS op, l_returnflag, COUNT(*) AS n
      |FROM (SELECT l_returnflag FROM a EXCEPT ALL SELECT l_returnflag FROM b)
      |GROUP BY l_returnflag
      |UNION ALL
      |SELECT 'intersect_all', l_returnflag, COUNT(*)
      |FROM (SELECT l_returnflag FROM a INTERSECT ALL SELECT l_returnflag FROM b)
      |GROUP BY l_returnflag
      |ORDER BY op, l_returnflag""".stripMargin

  /** T25: Zipf rank-frequency slope — fit ln(freq) ~ ln(rank) over the
    * top-100 tokens, the one-number sanity check that a corpus has
    * natural-language frequency structure (slope ≈ −1) rather than
    * uniform noise. The top-k is a distributed TakeOrderedAndProject
    * (never a global sort); the rank window then runs on 100 rows. */
  val t25ZipfSlope: Q = (s, dir) => {
    val toks = tokenized(s, dir).filter(col("n") > 0)
      .select(explode(col("ws")).as("tok"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(100)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("tok"))))
      .agg(
        round(regr_slope(log(col("c")), log(col("rank"))), 6).as("zipf_slope"),
        round(regr_intercept(log(col("c")), log(col("rank"))), 6).as("zipf_intercept"),
        count(lit(1)).as("n_tokens"))
  }

  val t25ZipfSlopeSql: String =
    """WITH t AS (
      |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |  FROM documents WHERE trim(text) <> ''),
      |cnt AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
      |top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 100),
      |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM top)
      |SELECT ROUND(regr_slope(ln(c), ln(rank)), 6) AS zipf_slope,
      |       ROUND(regr_intercept(ln(c), ln(rank)), 6) AS zipf_intercept,
      |       COUNT(*) AS n_tokens
      |FROM r""".stripMargin

  /** T26: BPE merge candidates — the top-30 adjacent character pairs by
    * corpus frequency, the exact statistic one round of byte-pair-
    * encoding vocabulary induction maximizes. Each word occurrence
    * contributes its length−1 in-word pairs (no cross-word pairs, per
    * BPE's word-boundary rule). Scale shape: explode → one keyed
    * aggregation (pair cardinality is bounded by the alphabet², so the
    * map-side combine collapses each partition to a few-KB partial) →
    * distributed top-k, never a global sort. Deterministic (cnt DESC,
    * pair) tiebreak. */
  val t26BpePairs: Q = (s, dir) => {
    val wordsCol = tokenized(s, dir).filter(col("n") > 0)
      .select(explode(col("ws")).as("word"))
      .filter(length(col("word")) >= 2)
    val pairs = wordsCol.select(explode(expr(
      "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")).as("pair"))
    pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(30)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
      .orderBy("rk")
  }

  val t26BpePairsSql: String =
    """WITH w AS (
      |  SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
      |  FROM documents WHERE trim(text) <> ''),
      |p AS (
      |  SELECT substring(word, i, 2) AS pair
      |  FROM w, UNNEST(range(1, length(word))) AS t(i)
      |  WHERE length(word) >= 2),
      |cnt AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY 1),
      |top AS (SELECT pair, cnt FROM cnt ORDER BY cnt DESC, pair LIMIT 30)
      |SELECT pair, cnt,
      |  row_number() OVER (ORDER BY cnt DESC, pair) AS rk
      |FROM top ORDER BY rk""".stripMargin

  def queries: Map[String, Q] = Map(
    "t26_bpe_pairs" -> t26BpePairs,
    "t25_zipf_slope" -> t25ZipfSlope,
    "u3_set_ops" -> u3SetOps,
    "u4_bag_set_ops" -> u4BagSetOps,
    "t19_source_profile" -> t19SourceProfile,
    "t18_seq_export" -> t18SeqExport,
    "t15_balanced_sample" -> t15BalancedSample,
    "t16_boilerplate_prefix" -> t16BoilerplatePrefix,
    "t17_lm_score" -> t17LmScore,
  )

  def oracle: Map[String, String] = Map(
    "t26_bpe_pairs" -> t26BpePairsSql,
    "t25_zipf_slope" -> t25ZipfSlopeSql,
    "u3_set_ops" -> u3SetOpsSql,
    "u4_bag_set_ops" -> u4BagSetOpsSql,
    "t19_source_profile" -> t19SourceProfileSql,
    "t18_seq_export" -> t18SeqExportSql,
    "t15_balanced_sample" -> t15BalancedSampleSql,
    "t16_boilerplate_prefix" -> t16BoilerplatePrefixSql,
    "t17_lm_score" -> t17LmScoreSql,
  )
}
