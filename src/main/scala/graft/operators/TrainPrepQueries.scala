package graft.operators

import graft.Graft
import graft.Graft.Q
import graft.text.QualitySignals.words
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators over `documents` (driver
  * north-star): chunking, sequence packing, deterministic splits, and
  * benchmark-contamination detection — the steps between a cleaned
  * corpus and a training run.
  *
  * Scale notes: chunking is a narrow per-row explode (no shuffle);
  * packing is one window over the shard key (the same single-shuffle
  * shape as any running sum); the split is a stateless hash (no shuffle
  * at all before the reporting aggregate); contamination is a
  * shingle-keyed semi-join — candidate pairs never materialize beyond
  * the shared-shingle groups, and the eval side is tiny (broadcast).
  */
object TrainPrepQueries {

  /** T7: overlapping token-window chunking (size 50, stride 40). Chunk
    * identity is pinned by an md5 of the chunk text, so the oracle
    * proves contents — not just counts — match. Empty/whitespace-only
    * docs count 0 tokens (same emptiness gate as [[t8Pack]]) and emit
    * no chunks — `split` alone would yield `[""]` (n=1 phantom chunk). */
  val t7Chunk: Q = (s, dir) => {
    val chunkSize = 50
    val stride = 40
    Graft.table(s, dir, "documents")
      .withColumn("__words", words(col("text")))
      .withColumn("n",
        when(length(trim(col("text"))) === 0, 0)
          .otherwise(size(col("__words"))))
      .filter(col("n") >= 1)
      .withColumn("start", explode(sequence(lit(1), col("n"), lit(stride))))
      .select(col("doc_id"),
        floor((col("start") - 1) / stride).cast("long").as("chunk_idx"),
        least(lit(chunkSize), col("n") - col("start") + 1).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", slice(col("__words"), col("start"), lit(chunkSize)))).as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  val t7ChunkSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws,
      |    length(trim(text)) = 0 AS is_empty
      |  FROM documents),
      |n AS (SELECT doc_id, ws,
      |        CASE WHEN is_empty THEN 0 ELSE len(ws) END AS n
      |      FROM w)
      |SELECT doc_id,
      |  (start - 1) // 40 AS chunk_idx,
      |  LEAST(50, n - start + 1) AS chunk_tokens,
      |  md5(array_to_string(ws[start : start + 49], ' ')) AS chunk_fp
      |FROM n, UNNEST(range(1, n + 1, 40)) AS t(start)
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** T8: sequence packing, concat-then-cut: documents are concatenated
    * in a deterministic per-language order (md5 of doc_id) and cut every
    * 2048 tokens; each doc reports its pack and whether it straddles a
    * cut. The per-shard running offset comes from
    * [[graft.functions.GlobalRank.withGroupPrefixSums]] — shards are
    * few (lang cardinality) but each concatenation order spans the
    * whole shard, exactly the frame a `partition by lang` window would
    * funnel through one task. */
  val t8Pack: Q = (s, dir) => {
    val budget = 2048
    graft.functions.GlobalRank.withGroupPrefixSums(
        Graft.table(s, dir, "documents")
          .withColumn("n_tokens",
            when(length(trim(col("text"))) === 0, 0L)
              .otherwise(size(words(col("text"))).cast("long"))),
        Seq("n_tokens" -> "end_offset"), inclusive = true, Seq("lang"),
        md5(col("doc_id").cast("string")), col("doc_id"))
      .withColumn("start_offset", col("end_offset") - col("n_tokens"))
      .select(col("lang"), col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        floor(col("start_offset") / budget).cast("long").as("pack_id"),
        (col("n_tokens") > 0 &&
          floor(col("start_offset") / budget) =!=
          floor((col("end_offset") - 1) / budget)).as("straddles"))
      .orderBy("lang", "doc_id")
  }

  val t8PackSql: String =
    """WITH t AS (
      |  SELECT lang, doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) END AS n_tokens
      |  FROM documents),
      |o AS (
      |  SELECT lang, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_offset
      |  FROM t)
      |SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST((end_offset - n_tokens) // 2048 AS BIGINT) AS pack_id,
      |  (n_tokens > 0 AND
      |   (end_offset - n_tokens) // 2048 <> (end_offset - 1) // 2048) AS straddles
      |FROM o
      |ORDER BY lang, doc_id""".stripMargin

  /** T9: deterministic train/val/test split (80/10/10) from a stable
    * hash of the id — reproducible on any engine, no RNG state. */
  val t9Split: Q = (s, dir) =>
    Graft.table(s, dir, "documents")
      .withColumn("bucket",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100).cast("long"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")

  val t9SplitSql: String =
    """WITH t AS (
      |  SELECT lang,
      |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs
      |FROM t GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** T10: benchmark-contamination check — train docs (id % 50 ≠ 0)
    * sharing ≥ 3 distinct 3-gram shingles with any eval doc (id % 50 =
    * 0). Shingle-keyed join: only co-occurring shingles flow, never doc
    * pairs; at scale the eval side is broadcast-sized. */
  val t10Contamination: Q = (s, dir) => {
    val sh = graft.dedup.Dedup.shingles(
      Graft.table(s, dir, "documents").select("doc_id", "text"), 3)
    val eval_ = sh.filter(col("doc_id") % 50 === 0)
      .select(col("shingle")).distinct()
    sh.filter(col("doc_id") % 50 =!= 0)
      .join(eval_, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= 3)
      .orderBy("doc_id")
  }

  val t10ContaminationSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      |       FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
      |       WHERE len(ws) >= 3 AND length(ws[i] || ws[i+1] || ws[i+2]) > 0),
      |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
      |SELECT doc_id, COUNT(*) AS shared_shingles
      |FROM sh JOIN ev USING (shingle)
      |WHERE doc_id % 50 <> 0
      |GROUP BY doc_id HAVING COUNT(*) >= 3
      |ORDER BY doc_id""".stripMargin

  /** T37: quantile normalization of event values across event types —
    * map every value onto the GLOBAL value distribution at the same
    * within-type quantile (nearest-rank, tr = ⌈rank·N/n_type⌉): the
    * standard cross-source feature calibration that makes "value"
    * comparable between feeds with different scales. Entirely rank
    * arithmetic on exact integers — no float is ever computed, so
    * cross-engine agreement is structural. The Spark side builds BOTH
    * rank axes distributively: per-value counts aggregate first, a
    * window over the (small) distinct-value frame yields cumulative
    * counts, and each row's rank = cum-before + row_number inside its
    * value group (partitioned, not a single task); the rank→value
    * lookup is then an EQUI-join on the target rank (every rank 1..N
    * exists exactly once). The oracle is the direct single-window
    * formulation — structurally independent. */
  val t37QuantileNorm: Q = (s, dir) => {
    val base = Graft.materialize(
      Graft.table(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value")))
    // global rank axis: distinct-value CDF + within-value row_number.
    // The CDF sweep is distributed (GlobalRank.withPrefixSums): the
    // distinct-value frame scales with real data, so an unpartitioned
    // cumulative window here would funnel it through one task.
    val vg = graft.functions.GlobalRank.withPrefixSums(
      base.groupBy("value").agg(count(lit(1)).as("cnt")),
      Seq("cnt" -> "cumb"), inclusive = false, col("value"))
    val g = base.join(vg.select(col("value"), col("cumb")), "value")
      .withColumn("rg", col("cumb") +
        row_number().over(Window.partitionBy("value").orderBy("event_id")))
      .select(col("rg"), col("value").as("norm_value"))
    // nt / n are group totals, not per-row state: computed as tiny
    // aggregate frames and broadcast-joined back. The windowed
    // formulation (partitionBy(event_type) / partitionBy()) would put
    // ALL rows of a type — or the whole table — in one window
    // partition, the classic low-cardinality-window skew bomb.
    val ntdf = base.groupBy("event_type").agg(count(lit(1)).as("nt"))
    val ndf = base.agg(count(lit(1)).as("n"))
    // per-type rank axis, same construction keyed by (type, value).
    // A `partition by event_type` cumulative window would be the same
    // skew bomb in miniature (5 window partitions, each holding every
    // distinct value of its type), so the per-type CDF comes from ONE
    // global prefix sum in (type, value) order minus a broadcast
    // per-type offset — the offset window runs over the
    // type-cardinality frame (bounded), not data.
    val typeOff = ntdf.withColumn("toff", coalesce(sum(col("nt")).over(
        Window.orderBy("event_type").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("event_type"), col("toff"))
    val vt = graft.functions.GlobalRank.withPrefixSums(
        base.groupBy("event_type", "value").agg(count(lit(1)).as("tcnt")),
        Seq("tcnt" -> "gcum"), inclusive = false,
        col("event_type"), col("value"))
      .join(broadcast(typeOff), "event_type")
      .withColumn("tcumb", col("gcum") - col("toff"))
    val t = base.join(vt.select(col("event_type"), col("value"), col("tcumb")),
        Seq("event_type", "value"))
      .withColumn("rn", col("tcumb") +
        row_number().over(Window.partitionBy("event_type", "value").orderBy("event_id")))
      .join(broadcast(ntdf), "event_type")
      .crossJoin(broadcast(ndf))
      .withColumn("tr", expr("(rn * n + nt - 1) div nt"))
    t.join(g, col("tr") === col("rg"))
      .select(col("event_id"), col("event_type"), col("value"), col("norm_value"))
      .orderBy("event_id")
  }

  val t37QuantileNormSql: String =
    """WITH base AS (
      |  SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL),
      |g AS (
      |  SELECT value AS norm_value,
      |    row_number() OVER (ORDER BY value, event_id) AS rg
      |  FROM base),
      |t AS (
      |  SELECT event_id, event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nt,
      |    COUNT(*) OVER () AS n
      |  FROM base),
      |x AS (
      |  SELECT event_id, event_type, value, (rn * n + nt - 1) // nt AS tr FROM t)
      |SELECT x.event_id, x.event_type, x.value, g.norm_value
      |FROM x JOIN g ON g.rg = x.tr
      |ORDER BY x.event_id""".stripMargin

  def queries: Map[String, Q] = Map(
    "t37_quantile_norm" -> t37QuantileNorm,
    "t7_chunk" -> t7Chunk,
    "t8_pack" -> t8Pack,
    "t9_split" -> t9Split,
    "t10_contamination" -> t10Contamination,
  )

  def oracle: Map[String, String] = Map(
    "t37_quantile_norm" -> t37QuantileNormSql,
    "t7_chunk" -> t7ChunkSql,
    "t8_pack" -> t8PackSql,
    "t9_split" -> t9SplitSql,
    "t10_contamination" -> t10ContaminationSql,
  )
}
